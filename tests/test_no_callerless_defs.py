"""Every top-level function of the package must have a caller outside the
tests: its name has to appear in non-test code (the package,
``__spark_entry__.py``, ``bench.py``, ``tools/`` or ``perfbench/``) outside
the bodies of the top-level defs of that name. Excluding every same-named
def, not only its own, keeps two dead twins in different modules from
vouching for each other.

``TEST_ONLY`` lists the defs that only tests reach today; each still has to
earn a registry entry or be deleted together with its tests. A def with no
caller at all fails, and so does an allowlisted def that gained a caller
(take it off the list) or no longer exists."""

import ast
import re
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CALLERS = ("pgferry_spark", "__spark_entry__.py", "bench.py", "tools", "perfbench")

TEST_ONLY = {
    "pgferry_spark/catalog/model.py": {"delete_order"},
    "pgferry_spark/functions/udfs.py": {"normalize_unicode", "shannon_entropy"},
    "pgferry_spark/multimodal/jpeg.py": {"encode_jpeg_ycbcr", "parse_jpeg_pixels"},
    "pgferry_spark/operators/checks.py": {"assert_checks", "set_check"},
    "pgferry_spark/operators/curate.py": {"read_jsonl_shards"},
    "pgferry_spark/operators/filters.py": {"blockword_filter"},
    "pgferry_spark/operators/html.py": {"robots_gate"},
    "pgferry_spark/plan_report.py": {"diff_schemas"},
    "pgferry_spark/plans/chunk.py": {"plan_date_chunks"},
    "pgferry_spark/sources/jdbc.py": {"mysql_source"},
    "pgferry_spark/sources/layout.py": {"exchange_count", "range_write_by_sketch"},
    "pgferry_spark/sources/mssql_introspect.py": {"parse_source_objects"},
    "pgferry_spark/sources/mysql_introspect.py": {"parse_source_objects"},
    "pgferry_spark/sources/warc.py": {"parse_warc_gz_index"},
    "pgferry_spark/sources/zipnum.py": {"read_zipnum_files", "write_zipnum_files"},
    "pgferry_spark/streaming/events.py": {
        "correlate_streams", "crawl_merge_stream", "decontaminate_stream",
        "dsir_gate_stream", "enrich_with_dimension", "funnel_stream",
        "http_ingest_stream", "psi_drift_monitor_stream",
        "rolling_distinct_from_store", "run_to_completion",
        "sessionize_stream_native", "sliding_event_rates",
        "stream_materialized_agg", "stream_to_target", "trending_tokens",
    },
}

_WORD = re.compile(r"[A-Za-z_]\w*")


def _sources():
    for entry in CALLERS:
        path = ROOT / entry
        files = [path] if path.is_file() else sorted(path.rglob("*.py"))
        for f in files:
            if "tests" not in f.relative_to(ROOT).parts:
                yield f.relative_to(ROOT).as_posix(), f.read_text()


def _callerless_defs() -> dict[str, set[str]]:
    sources = dict(_sources())
    spans = defaultdict(list)  # file -> [(name, first line, last line)]
    for rel, text in sources.items():
        if rel.startswith("pgferry_spark/"):
            for node in ast.parse(text).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    spans[rel].append((node.name, first, node.end_lineno))
    names = {n for defs in spans.values() for n, _, _ in defs}
    refs = Counter()
    for rel, text in sources.items():
        for i, line in enumerate(text.splitlines(), 1):
            for word in _WORD.findall(line):
                if word in names and not any(
                    n == word and first <= i <= last for n, first, last in spans[rel]
                ):
                    refs[word] += 1
    out = defaultdict(set)
    for rel, defs in spans.items():
        for name, _, _ in defs:
            if not refs[name]:
                out[rel].add(name)
    return dict(out)


def test_every_top_level_def_has_a_non_test_caller():
    assert _callerless_defs() == TEST_ONLY
