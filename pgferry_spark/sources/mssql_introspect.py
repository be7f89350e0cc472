"""MSSQL schema introspection — catalog queries + row parsing.

Parity with the reference's MSSQL source (reference source_mssql.go:141-508):
``sys.tables/columns/types/indexes/index_columns/foreign_keys`` catalog
queries with the MSSQL-specific semantics:

* user-defined types resolve to their base system type;
* ``nvarchar``/``nchar`` CHARACTER length = stored byte length ÷ 2
  (``max_length = -1`` → unbounded → text);
* identity columns marked ``auto_increment``; computed columns marked
  ``COMPUTED`` with their expression;
* index flags: filtered (has_filter → expression-like, skipped), type
  CLUSTERED/NONCLUSTERED both map to BTREE, spatial/xml/fulltext flagged.
"""

from __future__ import annotations

from collections import defaultdict

from ..catalog.identifiers import normalize_identifier
from ..catalog.model import Column, ForeignKey, Index, Schema, SourceObjects, Table


def build_catalog_queries(schema: str = "dbo") -> dict[str, str]:
    esc = schema.replace("'", "''")
    return {
        "tables": (
            "SELECT t.name AS TABLE_NAME FROM sys.tables t "
            "JOIN sys.schemas s ON s.schema_id = t.schema_id "
            f"WHERE s.name = '{esc}' ORDER BY t.name"
        ),
        "columns": (
            "SELECT t.name AS TABLE_NAME, c.name AS COLUMN_NAME, "
            "bt.name AS BASE_TYPE, ut.name AS USER_TYPE, "
            "c.max_length AS MAX_LENGTH, c.precision AS PRECISION, c.scale AS SCALE, "
            "c.is_nullable AS IS_NULLABLE, c.is_identity AS IS_IDENTITY, "
            "c.is_computed AS IS_COMPUTED, cc.definition AS COMPUTED_DEFINITION, "
            "d.definition AS DEFAULT_DEFINITION, c.column_id AS ORDINAL, "
            "c.collation_name AS COLLATION "
            "FROM sys.columns c "
            "JOIN sys.tables t ON t.object_id = c.object_id "
            "JOIN sys.schemas s ON s.schema_id = t.schema_id "
            "JOIN sys.types ut ON ut.user_type_id = c.user_type_id "
            "JOIN sys.types bt ON bt.user_type_id = ut.system_type_id "
            "LEFT JOIN sys.computed_columns cc ON cc.object_id = c.object_id "
            "AND cc.column_id = c.column_id "
            "LEFT JOIN sys.default_constraints d ON d.object_id = c.default_object_id "
            f"WHERE s.name = '{esc}' ORDER BY t.name, c.column_id"
        ),
        "indexes": (
            "SELECT t.name AS TABLE_NAME, i.name AS INDEX_NAME, "
            "i.is_unique AS IS_UNIQUE, i.is_primary_key AS IS_PRIMARY, "
            "i.type_desc AS TYPE_DESC, i.has_filter AS HAS_FILTER, "
            "ic.key_ordinal AS KEY_ORDINAL, c.name AS COLUMN_NAME, "
            "ic.is_descending_key AS IS_DESC "
            "FROM sys.indexes i "
            "JOIN sys.tables t ON t.object_id = i.object_id "
            "JOIN sys.schemas s ON s.schema_id = t.schema_id "
            "JOIN sys.index_columns ic ON ic.object_id = i.object_id "
            "AND ic.index_id = i.index_id "
            "JOIN sys.columns c ON c.object_id = ic.object_id "
            "AND c.column_id = ic.column_id "
            f"WHERE s.name = '{esc}' AND i.name IS NOT NULL AND ic.key_ordinal > 0 "
            "ORDER BY t.name, i.name, ic.key_ordinal"
        ),
        "foreign_keys": (
            "SELECT tp.name AS TABLE_NAME, fk.name AS FK_NAME, "
            "cp.name AS COLUMN_NAME, tr.name AS REF_TABLE, cr.name AS REF_COLUMN, "
            "fkc.constraint_column_id AS ORDINAL, "
            "fk.update_referential_action_desc AS UPDATE_RULE, "
            "fk.delete_referential_action_desc AS DELETE_RULE "
            "FROM sys.foreign_keys fk "
            "JOIN sys.foreign_key_columns fkc ON fkc.constraint_object_id = fk.object_id "
            "JOIN sys.tables tp ON tp.object_id = fk.parent_object_id "
            "JOIN sys.schemas s ON s.schema_id = tp.schema_id "
            "JOIN sys.columns cp ON cp.object_id = fkc.parent_object_id "
            "AND cp.column_id = fkc.parent_column_id "
            "JOIN sys.tables tr ON tr.object_id = fk.referenced_object_id "
            "JOIN sys.columns cr ON cr.object_id = fkc.referenced_object_id "
            "AND cr.column_id = fkc.referenced_column_id "
            f"WHERE s.name = '{esc}' "
            "ORDER BY tp.name, fk.name, fkc.constraint_column_id"
        ),
    }


_N_TYPES = {"nvarchar", "nchar"}
_RULE_MAP = {
    "NO_ACTION": "NO ACTION",
    "CASCADE": "CASCADE",
    "SET_NULL": "SET NULL",
    "SET_DEFAULT": "SET DEFAULT",
}


def _column_type(base: str, max_length, precision, scale) -> str:
    base = base.lower()
    if base in _N_TYPES or base in ("varchar", "char", "varbinary", "binary"):
        if max_length is None:
            return base
        if max_length == -1:
            return f"{base}(-1)"  # (max)
        n = max_length // 2 if base in _N_TYPES else max_length
        return f"{base}({n})"
    if base in ("decimal", "numeric") and precision is not None:
        return f"{base}({precision},{scale or 0})"
    return base


def parse_catalog_rows(
    tables: list[dict],
    columns: list[dict],
    indexes: list[dict],
    foreign_keys: list[dict],
    snake_case: bool = True,
) -> Schema:
    norm = lambda n: normalize_identifier(n, snake_case)
    table_names = [r["TABLE_NAME"] for r in tables]

    cols_by_table: dict[str, list[Column]] = defaultdict(list)
    for r in columns:
        base = (r["BASE_TYPE"] or "").lower()
        extra = ""
        if r.get("IS_IDENTITY"):
            extra = "auto_increment"
        elif r.get("IS_COMPUTED"):
            extra = "COMPUTED"
        cols_by_table[r["TABLE_NAME"]].append(
            Column(
                source_name=r["COLUMN_NAME"],
                pg_name=norm(r["COLUMN_NAME"]),
                data_type=base,
                column_type=_column_type(
                    base, r.get("MAX_LENGTH"), r.get("PRECISION"), r.get("SCALE")
                ),
                char_max_len=(
                    (r["MAX_LENGTH"] // 2 if base in _N_TYPES else r["MAX_LENGTH"])
                    if r.get("MAX_LENGTH") not in (None, -1)
                    else None
                ),
                precision=r.get("PRECISION"),
                scale=r.get("SCALE"),
                nullable=bool(r.get("IS_NULLABLE", True)),
                default=r.get("DEFAULT_DEFINITION"),
                extra=extra,
                generation_expression=r.get("COMPUTED_DEFINITION") or "",
                ordinal_pos=r.get("ORDINAL", 0),
                collation=r.get("COLLATION") or "",
            )
        )

    idx_by_table: dict[str, dict[str, Index]] = defaultdict(dict)
    for r in indexes:
        tname, iname = r["TABLE_NAME"], r["INDEX_NAME"]
        idx = idx_by_table[tname].get(iname)
        if idx is None:
            type_desc = (r.get("TYPE_DESC") or "NONCLUSTERED").upper()
            if "SPATIAL" in type_desc:
                itype = "SPATIAL"
            elif "XML" in type_desc or "FULLTEXT" in type_desc:
                itype = "FULLTEXT"
            elif "HASH" in type_desc:
                itype = "HASH"
            else:
                itype = "BTREE"
            idx = Index(
                name=norm(iname),
                source_name=iname,
                unique=bool(r.get("IS_UNIQUE")),
                is_primary=bool(r.get("IS_PRIMARY")),
                type=itype,
                has_expression=bool(r.get("HAS_FILTER")),  # filtered index → skip
            )
            idx_by_table[tname][iname] = idx
        idx.columns.append(norm(r["COLUMN_NAME"]))
        idx.column_orders.append("DESC" if r.get("IS_DESC") else "ASC")

    fks_by_table: dict[str, dict[str, ForeignKey]] = defaultdict(dict)
    for r in foreign_keys:
        tname, cname = r["TABLE_NAME"], r["FK_NAME"]
        fk = fks_by_table[tname].get(cname)
        if fk is None:
            fk = ForeignKey(
                name=norm(cname),
                columns=[],
                ref_table=r["REF_TABLE"],
                ref_pg_table=norm(r["REF_TABLE"]),
                ref_columns=[],
                update_rule=_RULE_MAP.get(r.get("UPDATE_RULE", ""), "NO ACTION"),
                delete_rule=_RULE_MAP.get(r.get("DELETE_RULE", ""), "NO ACTION"),
            )
            fks_by_table[tname][cname] = fk
        fk.columns.append(norm(r["COLUMN_NAME"]))
        fk.ref_columns.append(norm(r["REF_COLUMN"]))

    out: list[Table] = []
    for tname in table_names:
        idxs = list(idx_by_table.get(tname, {}).values())
        primary = next((i for i in idxs if i.is_primary), None)
        out.append(
            Table(
                source_name=tname,
                pg_name=norm(tname),
                columns=cols_by_table.get(tname, []),
                primary_key=primary,
                indexes=[i for i in idxs if not i.is_primary],
                foreign_keys=list(fks_by_table.get(tname, {}).values()),
            )
        )
    return Schema(tables=out)


def parse_source_objects(views, routines, triggers) -> SourceObjects:
    pick = lambda rows: [r[next(iter(r))] if isinstance(r, dict) else r for r in rows]
    return SourceObjects(views=pick(views), routines=pick(routines), triggers=pick(triggers))
