"""pgferry_spark benchmark: closed-loop migration workloads.

    python3 perfbench/run.py --workload sqlite_pg --seed 1 --seconds 10 --trace 0

Run it from the repository root: Spark's Python workers import
``pgferry_spark`` from their working directory (nothing ships the package to
them), so ``PsqlTarget`` COPY fails elsewhere.

One client runs one migration at a time (closed loop) on
``local[$(nproc)]``. After set-up, passes repeat for ``--seconds``, and at
least until the first four warm passes are done. The first pass runs in a
fresh JVM, as every CLI migration does, and counts as set-up (``setup_s``);
``migrate_s`` is the best wall time of the four warm passes after it.
``--trace 1`` mixes traced and untraced warm passes and reports the
per-layer figures of the traced ones, with the difference between the two
medians as ``trace.overhead_s``. Outputs are checked after
every pass (row counts, duplicate keys) and once more in depth after the
last one; the checks sit outside the timed region. The last line of
standard output is one JSON object; the exit code is non-zero when any
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
WINDOW = 4  # warm passes whose best gives the end-to-end figures
TRACE_WINDOW = 4  # warm passes of a trace run: traced, untraced, untraced, traced


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers, psql clients)."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        from perfbench.procs import descendants

        while not self._halt.is_set():
            self.peak = max(self.peak, descendants(os.getpid())[1])
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        if self.is_alive():
            self.join()
        return self.peak / 2**20


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until every process it
    started has exited."""
    from perfbench.procs import descendants

    kids, _ = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--inject", choices=("value", "row"),
                    help="corrupt the output before the final checks (self-test)")
    return ap.parse_args(argv)


def _env(work: str) -> None:
    """Keep every temporary file of the run (tempfile spools, Spark local
    dirs, JVM temp) inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    import tempfile

    tempfile.tempdir = tmp


def layer_metrics(wl, tracer, res) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from perfbench.tracing import SPARK_FIELDS, SPARK_SPANS, union_len
    from perfbench.workloads import chunk_counts

    spans = tracer.spans
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def total(name):
        return sum(s.dur for s in by.get(name, []))

    roots = [s for s in spans if s.parent is None]
    covered = 0.0
    for r in roots:
        covered += union_len([(s.start, s.end) for s in spans if s.parent == r.id])
    migrate = sum(r.dur for r in roots)
    moves = by.get("pipeline.move", [])
    plans = [p for pipe in res.pipelines for p in pipe.chunk_plans]
    planned, nonempty = chunk_counts(plans, wl.exp.pk_keys, wl.exp.counts)
    m = {
        "sources.introspect_s": total("sources.introspect"),
        "sources.probe_s": total("sources.probe"),
        "sources.read_s": total("sources.read"),
        "sources.spool_left_bytes": res.spool_left_bytes,
        "plans.advisor_s": total("plans.advisor"),
        "plans.chunk_s": total("plans.chunk"),
        "plans.chunk.planned": planned,
        "plans.chunk.nonempty": nonempty,
        "plans.chunk.useful_ratio": nonempty / planned if planned else 1.0,
        "plans.checkpoint_s": total("plans.checkpoint"),
        "plans.validation_s": total("plans.validation"),
        "pipeline.move_s": union_len([(s.start, s.end) for s in moves]),
        "pipeline.move_max_table_s": max((s.dur for s in moves), default=0.0),
        "pipeline.resume_s": res.resume_s,
        "operators.orphans.clean_s": total("operators.orphans.clean"),
        "operators.orphans.removed": sum(max(0, s.attrs.get("removed", 0)) for s in moves),
        "sink.write_s": total("sink.write"),
        "sink.write_rows": sum(s.attrs.get("result", 0) for s in by.get("sink.write", [])),
        "sink.write_partitions": sum(s.result_tasks for s in by.get("sink.write", [])),
        "sink.delete_s": total("sink.delete"),
        "sink.deletes": len(by.get("sink.delete", [])),
        "ddl.create_s": total("ddl.create"),
        "ddl.replay_s": total("ddl.replay"),
        "ddl.statements": len(by.get("ddl.create.stmt", [])) + len(by.get("ddl.replay", [])),
        "trace.migrate_s": migrate,
        "trace.covered_s": covered,
        "trace.uncovered_s": migrate - covered,
        "trace.spans": len(spans),
    }
    for name in SPARK_SPANS:
        for f in SPARK_FIELDS:
            m[f"{name}.{f}"] = sum(s.spark.get(f, 0) for s in by.get(name, []))
    return m


def dump_spans(spans, path: str) -> None:
    """Write the spans with their self time (duration minus the part of it
    that child spans cover)."""
    from dataclasses import asdict

    from perfbench.tracing import self_times

    own = self_times(spans)
    with open(path, "w") as f:
        json.dump([{**asdict(s), "self_s": own[s.run_id, s.id]} for s in spans], f)


UNITS = {"_per_s": "rows/s", "_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_mb": "MB"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pgferry_spark", "__init__.py")):
        log("run from the repository root (pgferry_spark/ not found here)")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    from perfbench import pg
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if args.workload == "sqlite_pg" and not pg.available():
        log("sqlite_pg needs initdb, pg_ctl, psql (and unshare when run as root) on PATH")
        return 2

    from pgferry_spark.session import get_spark

    # a terminated run still stops PostgreSQL and the JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = RssSampler()
    if args.trace:
        rss.start()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
    attempted = failed = 0
    metrics: dict[str, float] = {}
    plain, traced, layers, spans = [], [], [], []
    setup_s = None
    try:
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        log(f"session {session_s:.2f} s, prepare {[round(p, 3) for p in prep]}")

        # Pass 0 runs in a fresh JVM (cold), as every CLI migration does, and
        # counts as set-up. A pass keeps getting cheaper for many warm passes
        # while the JIT compiles, so the figures come from a fixed window of
        # warm passes, not from however many a host of the moment's speed
        # fits into --seconds (a slow host would otherwise also be measured
        # on colder passes). Passes go on, checked, until --seconds are up.
        # Trace runs order their window traced, untraced, untraced, traced
        # so that the warming JIT favours neither side of trace.overhead_s.
        window = TRACE_WINDOW if args.trace else WINDOW
        t_end = time.perf_counter() + args.seconds
        n = 0
        while time.perf_counter() < t_end or n <= window:
            in_window = 0 < n <= window
            traced_pass = args.trace and in_window and n % 4 in (0, 1)
            tracer = Tracer(spark, f"pass{n}") if traced_pass else None
            attempted += 1
            try:
                res = wl.run_pass(tracer)
                log(f"pass {n}{' traced' if tracer else ''}: {res.seconds:.3f} s, "
                    f"{res.cpu_s:.3f} cpu s")
                wl.check_counts()
            except Exception:  # noqa: BLE001 — a failed pass is counted, the run goes on
                log(f"pass {n} failed:\n{traceback.format_exc()[-4000:]}")
                failed += 1
                n += 1
                continue
            if n == 0:
                setup_s = session_s + statistics.median(prep) + res.seconds
            elif not in_window:
                pass  # checked, not counted
            elif tracer:
                traced.append(res)
                tracer.collect_spark_metrics()
                layers.append(layer_metrics(wl, tracer, res))
                spans.extend(tracer.spans)
            else:
                plain.append(res)
            n += 1
        if args.inject:
            wl.inject(args.inject)
        attempted += 1  # the in-depth check of the last pass's output
        try:
            wl.check_counts()
            wl.check_values()
        except CheckFailed as exc:
            log(str(exc))
            failed += 1

        if args.trace:
            for name in layers[0] if layers else ():
                metrics[name] = statistics.median(m[name] for m in layers)
            metrics["functions.transform_exec_s"] = wl.transform_exec_s()
            if plain and traced:
                metrics["process.migrate_cpu_s"] = statistics.median(p.cpu_s for p in plain)
                metrics["trace.overhead_s"] = (
                    statistics.median(p.seconds for p in traced)
                    - statistics.median(p.seconds for p in plain)
                )
        elif len(plain) == window and setup_s is not None:
            # host interference only ever adds time, and the warmest pass
            # is the last: the best pass is the steadiest estimate
            migrate_s = min(p.seconds for p in plain)
            metrics["migrate_s"] = migrate_s
            metrics["rows_per_s"] = wl.exp.source_rows / migrate_s
            metrics["setup_s"] = setup_s
    finally:
        wl.release()
        peak_mb = rss.stop()
        stop_spark(spark)
    if args.trace:
        metrics["process.peak_rss_mb"] = peak_mb
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        dump_spans(spans, os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
