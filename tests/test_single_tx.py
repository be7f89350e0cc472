"""O3 single_tx snapshot mode: every table reads sequentially through ONE
DB-API connection in one transaction (reference migrate.go:149-259), and
driver-side sources stream in bounded batches (no full-table driver list)."""

import os
import sqlite3

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pgferry_spark.backends import SingleTxSource, SpoolTarget, SqliteSource, spool_batches
from pgferry_spark.catalog.model import Column, Index, Schema, Table
from pgferry_spark.config import MigrationConfig
from pgferry_spark.pipeline import MigrationPipeline
from pgferry_spark.types import map_sqlite_default, map_sqlite_type


def _table(name, pk, cols):
    columns = [
        Column(source_name=c, pg_name=c, data_type=t, column_type=t,
               nullable=(c != pk), ordinal_pos=i + 1)
        for i, (c, t) in enumerate(cols)
    ]
    key = Index(name=f"{name}_pkey", source_name=f"{name}_pkey", columns=[pk],
                column_orders=["ASC"], unique=True, is_primary=True)
    return Table(source_name=name, pg_name=name, columns=columns, primary_key=key)


@pytest.fixture()
def two_table_db(tmp_path):
    path = str(tmp_path / "stx.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE a (id INTEGER PRIMARY KEY, v TEXT)")
    con.execute("CREATE TABLE b (id INTEGER PRIMARY KEY, w TEXT)")
    con.executemany("INSERT INTO a VALUES (?,?)", [(i, f"a{i}") for i in range(1, 201)])
    con.executemany("INSERT INTO b VALUES (?,?)", [(i, f"b{i}") for i in range(1, 101)])
    con.commit()
    con.close()
    return path


def test_single_tx_one_connection_sequential(spark, two_table_db, tmp_path):
    """A multi-table single_tx run opens exactly ONE connection, begins the
    snapshot once, and lands count-exact through the sequential path."""
    opened = []

    def connect():
        con = sqlite3.connect(two_table_db)
        opened.append(con)
        return con

    schema = Schema(tables=[
        _table("a", "id", [("id", "bigint"), ("v", "text")]),
        _table("b", "id", [("id", "bigint"), ("w", "text")]),
    ])
    read_schemas = {
        "a": StructType([StructField("id", LongType()), StructField("v", StringType())]),
        "b": StructType([StructField("id", LongType()), StructField("w", StringType())]),
    }
    src = SingleTxSource(
        connect=connect, schema=schema, read_schemas=read_schemas,
        begin_sql=("BEGIN",), kind="mysql", fetch_batch=64,
    )
    cfg = MigrationConfig(
        source_type="mysql", source_dsn="mysql://fake", target_dsn="spool://x",
        target_schema="app", source_snapshot_mode="single_tx", workers=1,
        chunk_size=50,
    )
    target = SpoolTarget(spark, str(tmp_path / "stx_out"))
    result = MigrationPipeline(
        spark, cfg, src, target,
        # bigint/text are already pg types in this fake catalog
        lambda col, c: (col.data_type, LongType() if col.data_type == "bigint" else StringType()),
        lambda col, pg, c: None,
    ).run()
    assert result.ok
    assert len(opened) == 1          # ONE connection for the whole run
    assert src._con is None          # transaction ended at pipeline exit
    assert {r.table: r.rows_written for r in result.tables} == {"a": 200, "b": 100}
    out = spark.read.parquet(str(tmp_path / "stx_out" / "a"))
    assert out.count() == 200


def test_single_tx_config_forbids_parallel_workers():
    from pgferry_spark.config import ConfigError, validate_config

    cfg = MigrationConfig(
        source_type="mysql", source_dsn="m", target_dsn="t",
        target_schema="s", source_snapshot_mode="single_tx", workers=4,
    )
    with pytest.raises(ConfigError, match="single_tx"):
        validate_config(cfg)


def test_sqlite_read_streams_in_batches(spark, two_table_db, tmp_path):
    """fetch_batch bounds driver memory: a 200-row table at fetch_batch=50
    spools >=4 parquet parts, counts exact, content equal to a direct read."""
    src = SqliteSource(two_table_db, fetch_batch=50)
    schema = src.introspect()
    tbl = next(t for t in schema.tables if t.pg_name == "a")
    df = src.read_table(spark, tbl, None)
    # the scan reads a multi-part spool, not a parallelized driver list
    files = df.inputFiles()
    assert len(files) >= 4
    assert df.count() == 200
    got = sorted((r["id"], r["v"]) for r in df.collect())
    assert got[0] == (1, "a1") and got[-1] == (200, "a200")


def test_spool_batches_empty(spark):
    schema = StructType([StructField("id", LongType())])
    df = spool_batches(spark, schema, iter([]))
    assert df.count() == 0 and df.columns == ["id"]


def _spools(tmp):
    return [d for d in os.listdir(tmp) if d.startswith("pgferry_spool_")]


def test_run_removes_spools_even_when_it_fails(spark, two_table_db, tmp_path, monkeypatch):
    """Every parquet spool a run's source created is gone when run()
    returns, and when it raises."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    cfg = MigrationConfig(
        source_type="sqlite", source_dsn=two_table_db, target_dsn="spool://x",
        target_schema="app", chunk_size=50, workers=1,
    )

    class FailingTarget(SpoolTarget):
        def write(self, df, table, append=False):
            if table == "b":
                raise RuntimeError("simulated crash")
            return super().write(df, table, append=append)

    def run(target):
        return MigrationPipeline(
            spark, cfg, SqliteSource(two_table_db), target,
            map_sqlite_type, map_sqlite_default,
        ).run()

    assert run(SpoolTarget(spark, str(tmp_path / "ok_out"))).ok
    assert _spools(tmp) == []
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(FailingTarget(spark, str(tmp_path / "bad_out")))
    assert _spools(tmp) == []


def test_single_tx_close_removes_spools(spark, two_table_db, tmp_path, monkeypatch):
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    schema = Schema(tables=[_table("a", "id", [("id", "bigint"), ("v", "text")])])
    src = SingleTxSource(
        connect=lambda: sqlite3.connect(two_table_db),
        schema=schema,
        read_schemas={"a": StructType([StructField("id", LongType()),
                                       StructField("v", StringType())])},
    )
    assert src.read_table(spark, schema.tables[0], None).count() == 200
    assert len(_spools(tmp)) == 1
    src.close()
    assert _spools(tmp) == []


def test_driver_side_sources_quote_identifiers(spark, tmp_path):
    """Both driver-side sources quote every identifier for their dialect:
    a table named with a reserved word, a reserved-word column and a
    column whose name holds a double quote read, count and probe
    correctly (``kind="mysql"`` sends backticks, which SQLite accepts)."""
    path = str(tmp_path / "quoted.db")
    con = sqlite3.connect(path)
    con.execute('CREATE TABLE "order" (id INTEGER PRIMARY KEY, "group" TEXT, "we""ird" INTEGER)')
    con.executemany('INSERT INTO "order" VALUES (?,?,?)', [(i, f"g{i}", 10 * i) for i in range(1, 6)])
    con.commit()
    con.close()
    rows = sorted((i, f"g{i}", 10 * i) for i in range(1, 6))

    table = Table(
        source_name="order", pg_name="order",
        columns=[
            Column(source_name=n, pg_name=p, data_type=t, column_type=t,
                   nullable=True, ordinal_pos=i + 1)
            for i, (n, p, t) in enumerate(
                [("id", "id", "bigint"), ("group", "group", "text"), ('we"ird', "weird", "bigint")]
            )
        ],
    )
    stx = SingleTxSource(
        connect=lambda: sqlite3.connect(path),
        schema=Schema(tables=[table]),
        read_schemas={"order": StructType([
            StructField("id", LongType()), StructField("group", StringType()),
            StructField("weird", LongType()),
        ])},
        kind="mysql",
    )
    sqlite = SqliteSource(path)
    sqlite_table = sqlite.introspect().tables[0]
    try:
        for src, tbl in ((stx, table), (sqlite, sqlite_table)):
            assert sorted(tuple(r) for r in src.read_table(spark, tbl, None).collect()) == rows
            assert src.read_table(spark, tbl, ["`id` <= 2" if src is stx else '"id" <= 2']).count() == 2
            assert src.count(tbl) == 5
            assert src.min_max(tbl, 'we"ird') == (10, 50)
            assert src.min_max(tbl, "group") == ("g1", "g5")
    finally:
        stx.close()
        sqlite.close()
