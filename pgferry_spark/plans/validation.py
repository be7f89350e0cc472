"""Row-count validation.

Parity with the reference's validation runner (reference validate.go:24-135):
per-table COUNT(*) on source and target, compared, deterministic report
order, any mismatch fails the run. In Spark the two counts are ``df.count()``
actions; countStar on parquet is metadata-only (statistics), so validation
cost at 100 TB is bounded by the *target*-side count, not a data scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence


@dataclass
class ValidationResult:
    table: str
    source_rows: int
    target_rows: int

    @property
    def ok(self) -> bool:
        return self.source_rows == self.target_rows


def validate_row_counts(
    tables: list[str],
    source_count: Callable[[str], int],
    target_count: Callable[[str], int],
) -> list[ValidationResult]:
    """Per-table count comparison, one table at a time, in input-table
    order. Serial on purpose: a source count may launch Spark jobs or use
    a source's single connection."""
    return [ValidationResult(t, source_count(t), target_count(t)) for t in tables]


def row_fingerprint(cols: list[str]):
    """Canonical row hash for content-level comparison: md5 over the
    columns cast to string, joined with an ASCII unit separator, NULLs
    marked by NUL — collision-safe against value concatenation ambiguity
    ("ab"+"c" vs "a"+"bc") and NULL-vs-empty confusion, and portable to
    the SQL oracle (chr(31)/chr(0) + md5 exist in both engines).  Cast
    semantics differ across engines for floats (repr edge cases), so
    callers hashing float columns should round/format them first."""
    from pyspark.sql import functions as F

    return F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in cols
            ],
        )
    )


def content_diff(source, target, key_cols: list[str], value_cols: list[str]):
    """Content-level table diff — the validation rung above the
    reference's row counts (validate.go compares COUNT(*) only; equal
    counts happily hide N changed + N missing rows).  Returns one row per
    status: ``equal`` / ``changed`` / ``only_in_source`` /
    ``only_in_target`` with counts, from ONE co-partitioned full outer
    join on the key comparing canonical row hashes — each side is
    scanned once and reduced to (key, 16-byte hash) before the join, so
    the movement cost is keys + hashes, not row payloads, at any width.
    """
    from pyspark.sql import functions as F

    s = source.select(*key_cols, row_fingerprint(value_cols).alias("__fp_s"))
    t = target.select(*key_cols, row_fingerprint(value_cols).alias("__fp_t"))
    j = s.join(t, on=list(key_cols), how="full_outer")
    status = (
        F.when(F.col("__fp_s").isNull(), F.lit("only_in_target"))
        .when(F.col("__fp_t").isNull(), F.lit("only_in_source"))
        .when(F.col("__fp_s") == F.col("__fp_t"), F.lit("equal"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def psi_drift(
    old_df,
    new_df,
    col: str,
    n_bins: int = 10,
    epsilon: float = 1e-6,
):
    """Population Stability Index between two snapshots of a numeric
    column — the third member of the drift suite (schema drift names
    structure, content_diff names rows; PSI quantifies DISTRIBUTION
    shift the other two can't see).  Bins are fixed from the OLD
    (baseline) min/max — the standard convention, so a shifted new
    population lands in the edge bins instead of silently re-binning —
    with the new side clamped into them.  ``epsilon`` floors each
    proportion (classic PSI smoothing; an empty bin would make the log
    ratio infinite).  Returns one row ``(psi, n_old, n_new)``; the usual
    reading: <0.1 stable, 0.1–0.25 moderate shift, >0.25 action.

    Shape: one aggregate per side for the baseline stats, one histogram
    aggregate per side (bounded bins), and a bins-sized join — fact
    tables pay two scans total, everything downstream is n_bins rows."""
    from pyspark.sql import functions as F

    eps = float(epsilon)
    stats = old_df.agg(
        F.min(F.col(col).cast("double")).alias("__mn"),
        F.max(F.col(col).cast("double")).alias("__mx"),
    )

    def binned(df):
        j = df.select(F.col(col).cast("double").alias("__v")).filter(
            F.col("__v").isNotNull()
        ).crossJoin(F.broadcast(stats))
        w = (F.col("__mx") - F.col("__mn")) / F.lit(float(n_bins))
        b = F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
            F.least(
                F.greatest(
                    F.floor((F.col("__v") - F.col("__mn")) / w).cast("int"),
                    F.lit(0),
                ),
                F.lit(int(n_bins) - 1),
            )
        )
        return j.select(b.alias("__bin")).groupBy("__bin").agg(
            F.count(F.lit(1)).alias("c")
        )

    ho = binned(old_df).withColumnRenamed("c", "c_old")
    hn = binned(new_df).withColumnRenamed("c", "c_new")
    merged = ho.join(hn, "__bin", "full_outer").select(
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    totals = merged.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    terms = merged.crossJoin(F.broadcast(totals)).select(
        "n_old",
        "n_new",
        (
            (
                F.greatest(F.col("c_new") / F.col("n_new"), F.lit(eps))
                - F.greatest(F.col("c_old") / F.col("n_old"), F.lit(eps))
            )
            * F.log(
                F.greatest(F.col("c_new") / F.col("n_new"), F.lit(eps))
                / F.greatest(F.col("c_old") / F.col("n_old"), F.lit(eps))
            )
        ).alias("__t"),
    )
    return terms.groupBy("n_old", "n_new").agg(
        F.round(F.sum("__t"), 6).alias("psi")
    ).select("psi", "n_old", "n_new")


def sketch_validation(
    source,
    target,
    columns: list[str],
    p: int = 8,
    k: int = 16,
    decimals: int = 2,
    string_cols: Sequence[str] = (),
):
    """Content-shape migration validation at sketch cost — the scale
    extension of the reference's COUNT(*) check (`/root/reference/
    migrate.go` row-count validation): for each column, compare the
    source and target's HLL distinct estimate and log-histogram
    p50/p99. Row counts catch dropped rows; these catch silently
    truncated values, botched type coercion, and lost key ranges —
    while costing one bounded aggregate per (table, column) instead of
    an exact COUNT(DISTINCT) + sort per column at 100 TB. Both sides'
    numbers ride in the output (not booleans), so the caller picks the
    tolerance; identical data produces identical rows by construction
    (deterministic md5 hashes + exact bucket math).

    ``string_cols`` get the HLL distinct comparison only (hashed on the
    raw string — no float-rendering hazard) with NULL quantile columns;
    ``columns`` are numeric and get both checks.

    ``reg_diff`` is the decisive signal: the number of HLL register
    cells that DIFFER between the two sides. Register tables are a
    deterministic function of the value SET, so identical sets give
    reg_diff = 0 always, and any value-set change perturbs registers
    with overwhelming probability even at cardinalities where the
    ESTIMATE is biased (linear-counting regime) or coincidentally
    equal. Cost: one <= 2^p-row join per column.

    Scan discipline: every validated column's values are melted into
    ONE ``(column, value)`` stream per side, so each side is scanned
    exactly twice (once feeding all columns' HLL registers, once
    feeding all numeric columns' log-histograms) no matter how many
    columns are validated — the per-column register/histogram tables
    are grouped slices of two bounded aggregates, not per-column
    rescans. Values are DECIMAL-normalized *before* melting, so the
    hashed string renderings (and the histogram's integer scaling,
    which round-trips a fixed-scale decimal exactly) are identical to
    the per-column formulation.

    Returns one row per column:
    ``(column, reg_diff, est_distinct_src, est_distinct_dst,
    p50_src, p50_dst, p99_src, p99_dst)``."""
    from pyspark.sql import functions as F

    from ..operators.sketches import (
        _alpha_m2,
        hll_registers,
        loghist_counts,
        loghist_quantiles,
    )

    all_cols = list(columns) + list(string_cols)

    def melt(df, cols_numeric, cols_raw):
        # project to the validated columns, then — only when the scan
        # arrives narrower than the cluster's parallelism (single-file
        # parquet at test scale; a real 100 TB table has plenty of
        # splits and skips this) — round-robin the projected rows so
        # the per-row hash work below runs on every core instead of
        # the scan's few partitions. The shuffle carries only the
        # validated columns (project-before-exchange, guide §2.3).
        df = df.select(*dict.fromkeys([*cols_numeric, *cols_raw]))
        sc = df.sparkSession.sparkContext
        try:
            nfiles = len(df.inputFiles())
        except Exception:
            nfiles = 0
        if 0 < nfiles < sc.defaultParallelism:
            df = df.repartition(sc.defaultParallelism)
        # hash the DECIMAL-normalized value, not the raw double:
        # float->string rendering is engine-specific (Java vs fmt),
        # fixed-scale decimal strings are identical everywhere, and
        # validation at the declared precision is the right contract
        structs = [
            F.struct(
                F.lit(c).alias("__col"),
                F.col(c).cast(f"decimal(18,{decimals})").cast("string").alias("__v"),
            )
            for c in cols_numeric
        ] + [
            F.struct(
                F.lit(c).alias("__col"),
                F.col(c).cast("string").alias("__v"),
            )
            for c in cols_raw
        ]
        return df.select(F.explode(F.array(*structs)).alias("__s")).select(
            F.col("__s.__col").alias("__col"), F.col("__s.__v").alias("__v")
        )

    # one melted-scan per side for ALL columns' registers; the identical
    # subtree feeds both reg_diff and the estimate, so the exchange is
    # reused (one scan), not recomputed
    regs_src = hll_registers(
        melt(source, columns, string_cols), "__v", group_cols=("__col",), p=p
    )
    regs_dst = hll_registers(
        melt(target, columns, string_cols), "__v", group_cols=("__col",), p=p
    )

    # one full-outer register join per ENTIRE validation, and ONE grouped
    # aggregate over it computes the register-mismatch count AND both
    # sides' estimates (presence flags distinguish "bucket absent on this
    # side" from "register NULL"): NULL buckets intentionally non-match
    # under the equi-join, exactly as the per-column bucket-only join
    # behaved, and each estimate sums/counts precisely its own side's
    # register rows — the same terms hll_estimate computes. Columns with
    # zero mismatches keep their row (the join always carries their
    # buckets); a column absent from both sides is re-seeded from the
    # spine below with reg_diff 0 and NULL estimates.
    joined = (
        regs_src.withColumnRenamed("register", "__ra")
        .withColumn("__pa", F.lit(1))
        .join(
            regs_dst.withColumnRenamed("register", "__rb")
            .withColumn("__pb", F.lit(1)),
            ["__col", "bucket"],
            "full_outer",
        )
    )
    m = 1 << p

    def _est(pcol, rcol):
        return F.round(
            F.lit(_alpha_m2(p))
            / (
                F.sum(F.when(F.col(pcol) == 1, F.pow(F.lit(2.0), -F.col(rcol))))
                + (F.lit(m) - F.count(F.when(F.col(pcol) == 1, F.lit(1))))
            ),
            4,
        )

    stats = joined.groupBy("__col").agg(
        F.count(
            F.when(~F.col("__ra").eqNullSafe(F.col("__rb")), F.lit(1))
        ).alias("__rd"),
        _est("__pa", "__ra").alias("est_distinct_src"),
        _est("__pb", "__rb").alias("est_distinct_dst"),
    )

    def quant(df, tag):
        # one melted-scan per side for ALL numeric columns' histograms
        q = loghist_quantiles(
            loghist_counts(
                melt(df, columns, ()), "__v",
                group_cols=("__col",), k=k, decimals=decimals,
            ),
            (0.5, 0.99),
            group_cols=("__col",),
            k=k,
            decimals=decimals,
        )
        return (
            q.groupBy("__col")
            .pivot("q", [0.5, 0.99])
            .agg(F.first("est"))
            .select(
                "__col",
                F.col("`0.5`").alias(f"p50_{tag}"),
                F.col("`0.99`").alias(f"p99_{tag}"),
            )
        )

    spine = source.sparkSession.createDataFrame(
        [(c,) for c in all_cols], "__col string"
    )
    base = spine.join(stats, "__col", "left")
    out = None
    if columns:
        # LEFT joins (ADVICE r14): a numeric column whose histogram is
        # empty (all values non-positive, too small to scale past 0, or
        # an empty table) has no quantile row — it must still keep its
        # output row with NULL p50/p99, exactly as the old per-column
        # crossJoin chain (whose groupBy().pivot() on an empty frame
        # yields one all-NULL row) behaved and as the docstring
        # promises. An inner join here silently omitted the column —
        # including its reg_diff — masking a source/target divergence.
        num = (
            base.filter(F.col("__col").isin(list(columns)))
            .join(quant(source, "src"), "__col", "left")
            .join(quant(target, "dst"), "__col", "left")
        )
        out = num
    if string_cols:
        strn = (
            base.filter(F.col("__col").isin(list(string_cols)))
            .withColumn("p50_src", F.lit(None).cast("double"))
            .withColumn("p50_dst", F.lit(None).cast("double"))
            .withColumn("p99_src", F.lit(None).cast("double"))
            .withColumn("p99_dst", F.lit(None).cast("double"))
        )
        out = strn if out is None else out.unionByName(strn)
    return out.select(
        F.col("__col").alias("column"),
        F.coalesce(F.col("__rd"), F.lit(0)).cast("long").alias("reg_diff"),
        "est_distinct_src",
        "est_distinct_dst",
        "p50_src",
        "p50_dst",
        "p99_src",
        "p99_dst",
    )
