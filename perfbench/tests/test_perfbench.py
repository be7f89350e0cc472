"""Self-test of the benchmark: every workload at tiny scale passes its
checks, and one injected corruption per workload (a changed value, a
dropped row) makes them fail.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, pg  # noqa: E402
from perfbench.tracing import Span, union_len, self_times  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, CheckFailed, chunk_counts, mysql_expected, mysql_interval_cols,
)


# -- pure helpers -------------------------------------------------------------


def test_union_len_merges_overlaps():
    assert union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_len([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [Span(1, "run", None, "r", 0.0, 10.0), Span(2, "a", 1, "r", 1.0, 4.0),
             Span(3, "b", 1, "r", 3.0, 6.0)]
    assert self_times(spans)["r", 1] == pytest.approx(5.0)


def test_chunk_counts_uses_generator_keys():
    from pgferry_spark.plans.chunk import plan_table_chunks

    keys = [0, 1, 2, 100, 101]
    plan = plan_table_chunks("t", "k", 0, 101, 10)
    assert chunk_counts([plan], {"t": keys}, {"t": 5}) == (11, 2)


def test_mysql_expected_is_independent_of_the_program():
    raw = {"uid": bytes(range(16)), "active": 1, "perms": "read,admin", "flags": b"\x05",
           "took": "-01:02:03", "name": "a\x00b"}
    want = mysql_expected(raw)
    assert want["uid"] == "04050607-0203-0001-0809-0a0b0c0d0e0f"
    assert want == {"uid": want["uid"], "active": True, "perms": ["read", "admin"],
                    "flags": "00000101", "took": -3723, "name": "ab"}
    assert mysql_interval_cols({"took": "-1 hours -2 mins -3 secs"}) == {"took": -3723}


def test_tree_cpu_counts_finished_children():
    from perfbench.procs import tree_cpu_s

    before = tree_cpu_s([os.getpid()])
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert tree_cpu_s([os.getpid()]) - before >= 0.1


def test_generators_are_seeded(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _, ea = gen.gen_mysql_wire(str(a), 7, 600)
    _, eb = gen.gen_mysql_wire(str(b), 7, 600)
    assert ea.counts == eb.counts and ea.sample == eb.sample
    assert (a / "events.parquet").read_bytes() == (b / "events.parquet").read_bytes()


# -- workloads at tiny scale ------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from pgferry_spark.session import get_spark

    from perfbench.run import stop_spark

    s = get_spark("perfbench_selftest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_spark(s)


def _workload(name, spark, tmp_path):
    if name == "sqlite_pg" and not pg.available():
        pytest.skip("no PostgreSQL binaries")
    wl = WORKLOADS[name](spark, str(tmp_path), seed=11, scale="tiny")
    wl.prepare(0)
    return wl


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_checks_catch_corruption(name, spark, tmp_path):
    from perfbench.run import layer_metrics
    from perfbench.tracing import Tracer

    wl = _workload(name, spark, tmp_path)
    try:
        tracer = Tracer(spark, "t")
        res = wl.run_pass(tracer)
        wl.check_counts()
        wl.check_values()
        tracer.collect_spark_metrics()
        m = layer_metrics(wl, tracer, res)
        # the top-level spans account for the traced run time
        assert m["trace.migrate_s"] > 0
        assert 0 <= m["trace.uncovered_s"] < 0.25 * m["trace.migrate_s"]
        assert m["sink.write_rows"] > 0 and m["sink.write.jobs"] > 0

        wl.inject("value")
        wl.check_counts()  # a changed value keeps the row count
        with pytest.raises(CheckFailed):
            wl.check_values()

        wl.run_pass()
        wl.check_counts()
        wl.inject("row")
        with pytest.raises(CheckFailed):
            wl.check_counts()
    finally:
        wl.release()


def test_mysql_resume_deletes_and_leaves_no_duplicates(spark, tmp_path):
    from perfbench.run import layer_metrics
    from perfbench.tracing import Tracer

    wl = _workload("mysql_resume", spark, tmp_path)
    tracer = Tracer(spark, "r")
    res = wl.run_pass(tracer)
    wl.check_counts()
    m = layer_metrics(wl, tracer, res)
    assert res.resume_s > 0
    assert m["sink.deletes"] > 0


# -- the command ------------------------------------------------------------


def _run(cwd, *extra, trace="0"):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", "mysql_resume",
         "--seed", "5", "--seconds", "1", "--trace", trace, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_command_fails_on_injected_corruption():
    out = _run(ROOT, "--scale", "tiny", "--inject", "value")
    assert out.returncode != 0
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert last["correct"] is False
    # the end-to-end metrics are still measured, named and united as declared
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    assert got == _declared("end_to_end")
    assert all(v["value"] > 0 for v in last["metrics"].values())


def test_traced_command_prints_the_declared_layers():
    out = _run(ROOT, "--scale", "tiny", trace="1")
    assert out.returncode == 0, out.stderr[-2000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert last["correct"] is True
    assert {k: v["unit"] for k, v in last["metrics"].items()} == _declared("per_layer")


def test_command_refuses_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    out = _run(str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""
