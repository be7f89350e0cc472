"""The migration workloads: set-up, one measured pass, output checks and
corruption injection (used by the self-test to prove the checks bite).

Every workload drives the package through its public surface only:
``MigrationPipeline.run()``, the source and target backends and
``CheckpointManager``. Checks read the target independently of the program
(``psql`` for PostgreSQL, ``pyarrow`` for parquet spools) and compare with
what the generator recorded.
"""

from __future__ import annotations

import bisect
import glob
import hashlib
import json
import os
import re
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq

from pgferry_spark.backends import ParquetSource, SpoolTarget, SqliteSource
from pgferry_spark.config import MigrationConfig
from pgferry_spark.functions.apply import apply_transforms
from pgferry_spark.pipeline import MigrationPipeline
from pgferry_spark.plans.checkpoint import CheckpointManager
from pgferry_spark.sources import mysql_introspect
from pgferry_spark.sources.sink import PsqlTarget
from pgferry_spark.types import (
    map_mysql_default, map_mysql_type, map_sqlite_default, map_sqlite_type,
)

from . import gen, pg
from .procs import tree_cpu_s
from .tracing import TracedPipeline, Tracer


class CheckFailed(Exception):
    pass


@dataclass
class PassResult:
    seconds: float
    cpu_s: float = 0.0
    resume_s: float = 0.0
    spool_left_bytes: int = 0
    pipelines: tuple = ()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def chunk_counts(plans, pk_keys: dict[str, list[int]], counts: dict[str, int]):
    """(planned, non-empty) chunks over the given plans, from the generator's
    sorted source keys."""
    planned = nonempty = 0
    for plan in plans:
        planned += len(plan.chunks)
        keys = pk_keys.get(plan.table)
        for c in plan.chunks:
            if c.lo is None or keys is None:
                nonempty += 1 if counts.get(plan.table, 1) else 0
                continue
            hi = bisect.bisect_right(keys, c.hi) if c.is_last else bisect.bisect_left(keys, c.hi)
            nonempty += 1 if hi > bisect.bisect_left(keys, c.lo) else 0
    return planned, nonempty


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: str = "bench"):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows = gen.SCALES[self.name][scale]
        self.exp: gen.Expect | None = None
        self.n_pass = 0

    # set-up: inputs generated into a fresh directory; repeatable
    def prepare(self, rep: int) -> None:
        raise NotImplementedError

    def release(self) -> None:
        pass

    def cpu_roots(self) -> list[int]:
        """Processes whose trees do the migration's work: this one (driver,
        JVM, Python workers, psql clients) and any server it talks to."""
        return [os.getpid()]

    def cpu_s(self) -> float:
        return tree_cpu_s(self.cpu_roots())

    def pipeline(self, tracer: Tracer | None, *args, **kwargs):
        if tracer is None:
            return MigrationPipeline(self.spark, *args, **kwargs)
        return TracedPipeline(self.spark, *args, tracer=tracer, **kwargs)

    def run_pass(self, tracer: Tracer | None = None) -> PassResult:
        raise NotImplementedError

    def check_counts(self) -> None:
        raise NotImplementedError

    def check_values(self) -> None:
        raise NotImplementedError

    def inject(self, kind: str) -> None:
        raise NotImplementedError

    def source_tables(self):
        """(source, tables, kind, type mapping) for the transform probe."""
        raise NotImplementedError

    def transform_exec_s(self, reps: int = 3) -> float:
        """Noop-forced read→transform minus noop-forced read, summed over
        tables (medians of ``reps``)."""
        source, tables, kind, tm = self.source_tables()
        total = 0.0
        for t in tables:
            times = {"read": [], "tx": []}
            for _ in range(reps):
                for mode in ("read", "tx"):
                    df = source.read_table(self.spark, t, None)
                    if mode == "tx":
                        df = apply_transforms(df, t, kind, tm)
                    t0 = time.perf_counter()
                    _noop(df)
                    times[mode].append(time.perf_counter() - t0)
            total += sorted(times["tx"])[reps // 2] - sorted(times["read"])[reps // 2]
        return total

    def _expect(self, cond: bool, msg: str) -> None:
        if not cond:
            raise CheckFailed(f"{self.name}: {msg}")


# -- sqlite_pg --------------------------------------------------------------


class SqlitePg(Workload):
    """SQLite shop DB → PsqlTarget into a local PostgreSQL 15."""

    name = "sqlite_pg"
    SCHEMA = "shop"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.cluster: pg.PgCluster | None = None
        self.db_path = ""

    def prepare(self, rep: int) -> None:
        self.release()
        d = os.path.join(self.work, f"src{rep}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.db_path, self.exp = gen.gen_sqlite_shop(d, self.seed, self.rows)
        port = 20000 + (os.getpid() * 7 + rep) % 20000
        self.cluster = pg.PgCluster(os.path.join(self.work, f"pg{rep}"), port)
        self.cluster.start()

    def release(self) -> None:
        if self.cluster is not None:
            self.cluster.stop()
            self.cluster = None

    def cpu_roots(self) -> list[int]:
        return [os.getpid(), self.cluster.server_pid()]

    def _target(self) -> PsqlTarget:
        c = self.cluster
        return PsqlTarget(host=c.host, port=c.port, db="ferry", user="postgres",
                          schema=self.SCHEMA)

    def _cfg(self) -> MigrationConfig:
        return MigrationConfig(
            source_type="sqlite", source_dsn=self.db_path, target_dsn="psql://perfbench",
            target_schema=self.SCHEMA, on_schema_exists="recreate",
        )

    def run_pass(self, tracer=None) -> PassResult:
        pipe = self.pipeline(tracer, self._cfg(), SqliteSource(self.db_path), self._target(),
                             map_sqlite_type, map_sqlite_default)
        c0, t0 = self.cpu_s(), time.perf_counter()
        result = pipe.run()
        secs = time.perf_counter() - t0
        cpu = self.cpu_s() - c0
        self._expect(result.ok, f"validation failed: {result.validation}")
        # spool_batches leaves its parquet spools behind: measure, then remove
        left = 0
        for d in glob.glob(os.path.join(tempfile.gettempdir(), "pgferry_spool_*")):
            left += _dir_bytes(d)
            shutil.rmtree(d, ignore_errors=True)
        self.n_pass += 1
        return PassResult(secs, cpu, spool_left_bytes=left, pipelines=(pipe,))

    def _q(self, sql: str) -> list[str]:
        return [ln for ln in self.cluster.psql(sql).splitlines() if ln]

    def check_counts(self) -> None:
        for t, n in self.exp.counts.items():
            got = int(self._q(f"SELECT COUNT(*) FROM {self.SCHEMA}.{t}")[0])
            self._expect(got == n, f"{t}: {got} rows, expected {n}")

    def check_values(self) -> None:
        e = self.exp
        rows = self._q(
            "SELECT contype, COUNT(*) FROM pg_constraint c JOIN pg_namespace n "
            f"ON n.oid = c.connamespace WHERE n.nspname = '{self.SCHEMA}' GROUP BY contype"
        )
        got = dict(r.split("|") for r in rows)
        self._expect(int(got.get("p", 0)) == e.extra["primary_keys"], f"PKs: {got}")
        self._expect(int(got.get("f", 0)) == e.extra["foreign_keys"], f"FKs: {got}")
        n_idx = int(self._q(
            f"SELECT COUNT(*) FROM pg_indexes WHERE schemaname = '{self.SCHEMA}' "
            "AND indexname NOT LIKE '%pkey'"
        )[0])
        self._expect(n_idx == e.extra["indexes"], f"indexes: {n_idx}")
        nulls = int(self._q(
            f"SELECT COUNT(*) FROM {self.SCHEMA}.products WHERE category_id IS NULL")[0])
        self._expect(nulls == e.extra["null_categories"], f"SET NULL rows: {nulls}")
        cust = e.sample["customers"]
        rows = self._q(
            f"SELECT id, md5(note) FROM {self.SCHEMA}.customers "
            f"WHERE id IN ({','.join(map(str, cust))}) ORDER BY id"
        )
        got = {int(r.split("|")[0]): r.split("|")[1] for r in rows}
        want = {i: hashlib.md5(v["note"].encode()).hexdigest() for i, v in cust.items()}
        self._expect(got == want, "customers.note sample differs")
        prod = e.sample["products"]
        rows = self._q(
            f"SELECT id, md5(title), encode(image, 'hex'), coalesce(category_id::text, '') "
            f"FROM {self.SCHEMA}.products WHERE id IN ({','.join(map(str, prod))}) ORDER BY id"
        )
        got = {int(r.split("|")[0]): tuple(r.split("|")[1:]) for r in rows}
        want = {
            i: (hashlib.md5(v["title"].encode()).hexdigest(), v["image"],
                "" if v["category_id"] is None else str(v["category_id"]))
            for i, v in prod.items()
        }
        self._expect(got == want, "products sample differs")

    def inject(self, kind: str) -> None:
        if kind == "value":
            pid = next(iter(self.exp.sample["products"]))
            self.cluster.psql(f"UPDATE {self.SCHEMA}.products SET title = title || '!' "
                              f"WHERE id = {pid}")
        else:
            self.cluster.psql(f"DELETE FROM {self.SCHEMA}.order_items WHERE id = "
                              f"(SELECT MIN(id) FROM {self.SCHEMA}.order_items)")

    def source_tables(self):
        src = SqliteSource(self.db_path)
        return src, src.introspect().tables, "sqlite", self._cfg().type_mapping


# -- mysql_resume -------------------------------------------------------------


def _rewrite_spool(path: str, key_col: str, key: int, col: str, kind: str) -> None:
    """Corrupt one row of a parquet spool: change ``col`` or drop the row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = pq.read_table(path)
    hit = pc.equal(tbl.column(key_col), key)
    if kind == "row":
        tbl = tbl.filter(pc.invert(hit))
    else:
        arr = tbl.column(col)
        if pa.types.is_string(arr.type):
            new = pc.if_else(hit, pa.scalar("corrupted"), arr)
        else:
            new = pc.if_else(hit, pc.add(arr, pa.scalar(1, arr.type)), arr)
        tbl = tbl.set_column(tbl.schema.get_field_index(col), col, new)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(tbl, os.path.join(path, "part-corrupt.parquet"))


@dataclass
class MySQLWireSource(ParquetSource):
    """Parquet files holding MySQL-wire-shaped values, introspected through
    the real ``mysql_introspect.parse_catalog_rows``."""

    kind: str = "mysql"

    def introspect(self):
        with open(os.path.join(self.root, "catalog.json")) as f:
            rows = json.load(f)
        return mysql_introspect.parse_catalog_rows(
            rows["tables"], rows["columns"], rows["statistics"], rows["foreign_keys"],
            self.snake_case,
        )


class SimulatedCrash(RuntimeError):
    pass


class CrashAfterWrites:
    """Target wrapper: the K-th batch write of ``table`` lands, then the
    run dies before the pipeline can record it in the checkpoint."""

    def __init__(self, inner, table: str, k: int):
        self._inner, self._table, self._k, self._n = inner, table, k, 0

    def __getattr__(self, attr):
        return getattr(self._inner, attr)

    def write(self, df, table, append=False):
        rows = self._inner.write(df, table, append=append)
        if table == self._table:
            self._n += 1
            if self._n == self._k:
                raise SimulatedCrash(f"crash after batch write {self._n} of {table}")
        return rows


class MysqlResume(Workload):
    """MySQL-wire parquet → transforms → SpoolTarget, crashed mid-table and
    resumed from the checkpoint."""

    name = "mysql_resume"
    CRASH_TABLE = "events"
    CRASH_AFTER = 2  # batch writes of CRASH_TABLE that land before the crash
    CHUNKS = 20  # planned chunks of CRASH_TABLE; a batch is workers × 4 chunks

    def prepare(self, rep: int) -> None:
        d = os.path.join(self.work, f"my{rep}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.src_dir, self.exp = gen.gen_mysql_wire(d, self.seed, self.rows)
        keys = self.exp.pk_keys[self.CRASH_TABLE]
        self.chunk_size = -(-(keys[-1] - keys[0] + 1) // self.CHUNKS)
        self.out = ""

    def _source(self) -> MySQLWireSource:
        return MySQLWireSource(self.spark, self.src_dir, tables=("accounts", "events"))

    def _cfg(self, ckpt: str) -> MigrationConfig:
        cfg = MigrationConfig(
            source_type="mysql", source_dsn=self.src_dir, target_dsn="spool://perfbench",
            target_schema="app", resume=True, checkpoint_path=ckpt,
            chunk_size=self.chunk_size,
        )
        tm = cfg.type_mapping
        tm.binary16_as_uuid = tm.mysql_uuid_to_bin_swap = tm.char36_as_uuid = True
        tm.tinyint1_as_boolean = True
        tm.set_mode = "text_array"
        tm.bit_mode = "bit"
        tm.time_mode = "interval"
        return cfg

    def run_pass(self, tracer=None) -> PassResult:
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.work, f"out{self.n_pass}")
        ckpt = self.out + ".ckpt.json"
        cfg = self._cfg(ckpt)
        pipes = []

        def attempt(target):
            pipe = self.pipeline(tracer, cfg, self._source(), target, map_mysql_type,
                                 map_mysql_default,
                                 checkpoint=CheckpointManager(ckpt, flush_items=1))
            pipes.append(pipe)
            return pipe.run()

        c0, t0 = self.cpu_s(), time.perf_counter()
        crashed = False
        try:
            attempt(CrashAfterWrites(SpoolTarget(self.spark, self.out),
                                     self.CRASH_TABLE, self.CRASH_AFTER))
        except SimulatedCrash:
            crashed = True
        # the crashed process would have lost its cached blocks
        self.spark.catalog.clearCache()
        t1 = time.perf_counter()
        result = attempt(SpoolTarget(self.spark, self.out))
        t2 = time.perf_counter()
        cpu = self.cpu_s() - c0
        self._expect(crashed, "the injected crash did not happen")
        self._expect(result.ok, f"validation failed: {result.validation}")
        self._expect(not os.path.exists(ckpt), "checkpoint left after a good resume")
        self.n_pass += 1
        return PassResult(t2 - t0, cpu, resume_s=t2 - t1, pipelines=tuple(pipes))

    def _read(self, table: str):
        return pq.read_table(os.path.join(self.out, table))

    def check_counts(self) -> None:
        for t, n in self.exp.counts.items():
            ids = self._read(t).column("id").to_pylist()
            self._expect(len(ids) == n, f"{t}: {len(ids)} rows, expected {n}")
            self._expect(len(set(ids)) == len(ids), f"{t}: duplicate keys after resume")

    def check_values(self) -> None:
        for t, sample in self.exp.sample.items():
            tbl = self._read(t)
            ids = tbl.column("id").to_pylist()
            pos = {k: i for i, k in enumerate(ids)}
            for k, raw in sample.items():
                i = pos.get(k)
                self._expect(i is not None, f"{t}: id {k} missing")
                got = mysql_interval_cols({c: tbl.column(c)[i].as_py() for c in raw})
                want = mysql_expected(raw)
                self._expect(got == want, f"{t}: id {k} differs: {got} != {want}")

    def inject(self, kind: str) -> None:
        _rewrite_spool(os.path.join(self.out, "events"), "id",
                       next(iter(self.exp.sample["events"])), "kind", kind)

    def source_tables(self):
        src = self._source()
        return src, src.introspect().tables, "mysql", self._cfg("").type_mapping


_INTERVAL_RE = re.compile(r"^(-?\d+) hours (-?\d+) mins (-?\d+) secs$")


def _interval_seconds(lit: str | None):
    if lit is None:
        return None
    m = _INTERVAL_RE.match(lit)
    return None if m is None else sum(int(g) * w for g, w in zip(m.groups(), (3600, 60, 1)))


def _time_seconds(t: str) -> int:
    sign = -1 if t.startswith("-") else 1
    h, m, s = (int(x) for x in t.lstrip("-").split(":"))
    return sign * (h * 3600 + m * 60 + s)


def _unswap_uuid(b: bytes | None) -> str | None:
    """UUID_TO_BIN(u, 1) storage → canonical text, computed with ``uuid``."""
    if b is None:
        return None
    return str(uuid.UUID(bytes=b[4:8] + b[2:4] + b[0:2] + b[8:16]))


def mysql_expected(raw: dict) -> dict:
    """Target values for one wire row, computed independently of the
    program's transforms; interval columns compare as seconds."""
    out = {}
    for c, v in raw.items():
        if c == "uid":
            out[c] = _unswap_uuid(v)
        elif c == "ext_ref":
            out[c] = str(uuid.UUID(v))
        elif c in ("active", "ok"):
            out[c] = bool(v)
        elif c == "perms":
            out[c] = v.split(",") if v else []
        elif c == "flags":
            out[c] = format(v[0], "08b")
        elif c in ("daily", "took"):
            out[c] = _time_seconds(v)
        elif isinstance(v, str):
            out[c] = v.replace("\x00", "")
        else:
            out[c] = v
    return out


def mysql_interval_cols(got: dict) -> dict:
    return {c: (_interval_seconds(v) if c in ("daily", "took") else v) for c, v in got.items()}


WORKLOADS = {w.name: w for w in (SqlitePg, MysqlResume)}
