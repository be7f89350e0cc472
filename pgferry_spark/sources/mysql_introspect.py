"""MySQL schema introspection — catalog queries + row parsing.

Parity with the reference's MySQL source (reference source_mysql.go:142-413):
four batched INFORMATION_SCHEMA round trips (TABLES, COLUMNS, STATISTICS,
KEY_COLUMN_USAGE ⋈ REFERENTIAL_CONSTRAINTS), deterministic ORDER BY,
auto_increment/generated detection via the EXTRA column, and index flags
(prefix via SUB_PART, expression via EXPRESSION, type via INDEX_TYPE).

The query builders and row parsers are pure driver functions: feed them rows
from any client (JDBC `spark.read.jdbc`, a DB-API driver, or test fixtures).
"""

from __future__ import annotations

from collections import defaultdict

from ..catalog.identifiers import normalize_identifier
from ..catalog.model import Column, ForeignKey, Index, Schema, SourceObjects, Table


def build_catalog_queries(db: str) -> dict[str, str]:
    """The four batched introspection queries (one per catalog surface)."""
    esc = db.replace("'", "''")
    return {
        "tables": (
            "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES "
            f"WHERE TABLE_SCHEMA = '{esc}' AND TABLE_TYPE = 'BASE TABLE' "
            "ORDER BY TABLE_NAME"
        ),
        "columns": (
            "SELECT TABLE_NAME, COLUMN_NAME, DATA_TYPE, COLUMN_TYPE, "
            "CHARACTER_MAXIMUM_LENGTH, NUMERIC_PRECISION, NUMERIC_SCALE, "
            "IS_NULLABLE, COLUMN_DEFAULT, EXTRA, GENERATION_EXPRESSION, "
            "ORDINAL_POSITION, CHARACTER_SET_NAME, COLLATION_NAME "
            "FROM INFORMATION_SCHEMA.COLUMNS "
            f"WHERE TABLE_SCHEMA = '{esc}' ORDER BY TABLE_NAME, ORDINAL_POSITION"
        ),
        "statistics": (
            "SELECT TABLE_NAME, INDEX_NAME, NON_UNIQUE, SEQ_IN_INDEX, "
            "COLUMN_NAME, COLLATION, SUB_PART, EXPRESSION, INDEX_TYPE "
            "FROM INFORMATION_SCHEMA.STATISTICS "
            f"WHERE TABLE_SCHEMA = '{esc}' "
            "ORDER BY TABLE_NAME, INDEX_NAME, SEQ_IN_INDEX"
        ),
        "foreign_keys": (
            "SELECT k.TABLE_NAME, k.CONSTRAINT_NAME, k.COLUMN_NAME, "
            "k.REFERENCED_TABLE_NAME, k.REFERENCED_COLUMN_NAME, "
            "k.ORDINAL_POSITION, r.UPDATE_RULE, r.DELETE_RULE "
            "FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE k "
            "JOIN INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS r "
            "ON r.CONSTRAINT_SCHEMA = k.CONSTRAINT_SCHEMA "
            "AND r.CONSTRAINT_NAME = k.CONSTRAINT_NAME "
            f"WHERE k.TABLE_SCHEMA = '{esc}' AND k.REFERENCED_TABLE_NAME IS NOT NULL "
            "ORDER BY k.TABLE_NAME, k.CONSTRAINT_NAME, k.ORDINAL_POSITION"
        ),
    }


def parse_catalog_rows(
    tables: list[dict],
    columns: list[dict],
    statistics: list[dict],
    foreign_keys: list[dict],
    snake_case: bool = True,
) -> Schema:
    """Assemble the catalog from the four result sets (dict rows keyed by the
    upper-case column names of build_catalog_queries)."""
    norm = lambda n: normalize_identifier(n, snake_case)
    table_names = [r["TABLE_NAME"] for r in tables]

    cols_by_table: dict[str, list[Column]] = defaultdict(list)
    for r in columns:
        cols_by_table[r["TABLE_NAME"]].append(
            Column(
                source_name=r["COLUMN_NAME"],
                pg_name=norm(r["COLUMN_NAME"]),
                data_type=(r["DATA_TYPE"] or "").lower(),
                column_type=r["COLUMN_TYPE"] or "",
                char_max_len=r.get("CHARACTER_MAXIMUM_LENGTH"),
                precision=r.get("NUMERIC_PRECISION"),
                scale=r.get("NUMERIC_SCALE"),
                nullable=(r.get("IS_NULLABLE", "YES") == "YES"),
                default=r.get("COLUMN_DEFAULT"),
                extra=r.get("EXTRA") or "",
                generation_expression=r.get("GENERATION_EXPRESSION") or "",
                ordinal_pos=r.get("ORDINAL_POSITION", 0),
                charset=r.get("CHARACTER_SET_NAME") or "",
                collation=r.get("COLLATION_NAME") or "",
            )
        )

    idx_by_table: dict[str, dict[str, Index]] = defaultdict(dict)
    for r in statistics:
        tname, iname = r["TABLE_NAME"], r["INDEX_NAME"]
        idx = idx_by_table[tname].get(iname)
        if idx is None:
            idx = Index(
                name=norm(iname) if iname != "PRIMARY" else "PRIMARY",
                source_name=iname,
                unique=not r.get("NON_UNIQUE", 1),
                is_primary=(iname == "PRIMARY"),
                type=r.get("INDEX_TYPE") or "BTREE",
            )
            idx_by_table[tname][iname] = idx
        if r.get("EXPRESSION"):
            idx.has_expression = True
        else:
            idx.columns.append(norm(r["COLUMN_NAME"]))
            idx.column_orders.append("DESC" if r.get("COLLATION") == "D" else "ASC")
        if r.get("SUB_PART") is not None:
            idx.has_prefix = True

    fks_by_table: dict[str, dict[str, ForeignKey]] = defaultdict(dict)
    for r in foreign_keys:
        tname, cname = r["TABLE_NAME"], r["CONSTRAINT_NAME"]
        fk = fks_by_table[tname].get(cname)
        if fk is None:
            fk = ForeignKey(
                name=norm(cname),
                columns=[],
                ref_table=r["REFERENCED_TABLE_NAME"],
                ref_pg_table=norm(r["REFERENCED_TABLE_NAME"]),
                ref_columns=[],
                update_rule=r.get("UPDATE_RULE", "NO ACTION"),
                delete_rule=r.get("DELETE_RULE", "NO ACTION"),
            )
            fks_by_table[tname][cname] = fk
        fk.columns.append(norm(r["COLUMN_NAME"]))
        fk.ref_columns.append(norm(r["REFERENCED_COLUMN_NAME"]))

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
    return SourceObjects(
        views=[r[next(iter(r))] if isinstance(r, dict) else r for r in views],
        routines=[r[next(iter(r))] if isinstance(r, dict) else r for r in routines],
        triggers=[r[next(iter(r))] if isinstance(r, dict) else r for r in triggers],
    )
