"""Distribution-drift checks: two-sample Kolmogorov–Smirnov between groups.

Reference: ks_test over every site pair (R/evaluate_distribution.R:23-70),
then a site fails when its KS distance exceeds a threshold against ALL
other sites (:86-147, eval VA_AP_01).

Two implementations:

* `ks_pairwise` — fully distributed ECDF formulation: no collect, no
  Python. For each group, cume_dist over values; align the two step
  functions with a union + last-value-carried-forward window; the KS
  statistic is max|F1 - F2|. Scales to arbitrarily large groups.
* `ks_pairwise_pandas` — applyInPandas per group-pair for moderate group
  cardinalities; simpler, exact, Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inspectehr_spark.tables import string_table


def ecdf(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group empirical CDF at each observed value: F_g(v) =
    count(x <= v)/n_g, computed with one groupBy + one window (no UDF)."""
    counts = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = Window.partitionBy(group_col)
    return counts.select(
        group_col,
        value_col,
        (F.sum("_c").over(w) / F.sum("_c").over(totals)).alias("cdf"),
    )


def _group_pairs(df: DataFrame, group_col: str, max_groups: int) -> list:
    """Distinct groups, guarded: pair work is O(G²), so refuse G beyond
    `max_groups` with an explicit error instead of silently launching
    G·(G-1)/2 pair computations on a high-cardinality column (VERDICT r2
    #6 — e.g. ks on a per-user column at 10^6 users would be 5·10^11
    pairs). Raise the cap deliberately when G² is a budget you mean."""
    groups = sorted(r[0] for r in df.select(group_col).distinct().collect())
    if len(groups) > max_groups:
        raise ValueError(
            f"ks pairwise over {group_col!r}: {len(groups)} groups → "
            f"{len(groups) * (len(groups) - 1) // 2} pairs exceeds "
            f"max_groups={max_groups}; pass a coarser group column or "
            "raise max_groups explicitly"
        )
    return groups


def ks_pairwise(
    df: DataFrame, group_col: str, value_col: str, max_groups: int = 200
) -> DataFrame:
    """KS statistic for every unordered group pair, distributed.

    Build each group's ECDF (small relative to facts: one row per distinct
    value per group), cross the distinct group list with itself (tiny),
    union the two step functions per pair, carry each side's CDF forward
    (last_value ignoring nulls over the merged value order), take
    max|F_a - F_b|. Returns (group_a, group_b, ks_stat).

    `max_groups` bounds the O(G²) pair fan-out — see `_group_pairs`.

    r7: the ECDF table is persisted — both the group_a and group_b probe
    sides consume it, and without the persist the counts aggregation and
    the two cume windows execute twice (once under each join branch). The
    ECDF is counts-sized (one row per distinct (group, value)), far
    smaller than the input facts."""
    e = ecdf(df, group_col, value_col).persist()
    groups = _group_pairs(df, group_col, max_groups)
    pairs = [(a, b) for i, a in enumerate(groups) for b in groups[i + 1 :]]
    pairs_df = F.broadcast(
        string_table(df.sparkSession, pairs, ("group_a", "group_b"))
    )

    ea = e.select(
        F.col(group_col).alias("group_a"), F.col(value_col).alias("v"),
        F.col("cdf").alias("cdf_a"),
    )
    eb = e.select(
        F.col(group_col).alias("group_b"), F.col(value_col).alias("v"),
        F.col("cdf").alias("cdf_b"),
    )
    # For each pair: all values of either side, with both CDFs stepped.
    left = pairs_df.join(ea, "group_a").select(
        "group_a", "group_b", "v", "cdf_a", F.lit(None).cast("double").alias("cdf_b")
    )
    right = pairs_df.join(eb, "group_b").select(
        "group_a", "group_b", "v", F.lit(None).cast("double").alias("cdf_a"), "cdf_b"
    )
    # Carry each side forward with a RANGE frame max (r7): the frame
    # extends through the FULL tie group at v, so coincident values in
    # both groups are seen together — the r5/r6 shape needed a
    # (pair, v) collapse aggregation (an extra exchange) to get the same
    # tie safety with a ROWS frame. max == the step function's value at v
    # because a CDF is nondecreasing in v; duplicated (pair, v) rows from
    # the two union sides produce identical (fa, fb) and the final max is
    # insensitive to them.
    merged = left.unionByName(right)
    w = (
        Window.partitionBy("group_a", "group_b")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = merged.select(
        "group_a",
        "group_b",
        F.coalesce(F.max("cdf_a").over(w), F.lit(0.0)).alias("fa"),
        F.coalesce(F.max("cdf_b").over(w), F.lit(0.0)).alias("fb"),
    )
    return stepped.groupBy("group_a", "group_b").agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat")
    )


def ks_pairwise_pandas(
    df: DataFrame, group_col: str, value_col: str, max_groups: int = 200
) -> DataFrame:
    """Exact two-sample KS per group pair via applyInPandas (Arrow-batched,
    one group-pair per task). Memory bound: each task materializes BOTH
    groups' full value vectors in one pandas frame (≈ 16 bytes × (n_a+n_b)
    plus Arrow copies) — suitable only when every group pair fits an
    executor's task memory; the distributed `ks_pairwise` is the scale
    path. `max_groups` bounds the O(G²) pair fan-out (see `_group_pairs`);
    note each value row is also replicated G-1 times into the pair frames,
    so the cap guards shuffle volume here too."""
    import numpy as np  # local import: executors only

    e = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))

    def ks(pdf):
        import pandas as pd

        ga, gb = pdf["group_a"].iloc[0], pdf["group_b"].iloc[0]
        a = np.sort(pdf.loc[pdf["side"] == "a", "v"].values)
        b = np.sort(pdf.loc[pdf["side"] == "b", "v"].values)
        allv = np.concatenate([a, b])
        fa = np.searchsorted(a, allv, side="right") / max(len(a), 1)
        fb = np.searchsorted(b, allv, side="right") / max(len(b), 1)
        stat = float(np.max(np.abs(fa - fb))) if len(allv) else 0.0
        return pd.DataFrame(
            {"group_a": [ga], "group_b": [gb], "ks_stat": [round(stat, 6)]}
        )

    groups = _group_pairs(df, group_col, max_groups)
    pairs = [(a, b) for i, a in enumerate(groups) for b in groups[i + 1 :]]
    pairs_df = F.broadcast(
        string_table(df.sparkSession, pairs, ("group_a", "group_b"))
    )
    ta = pairs_df.join(e, pairs_df.group_a == e.g).select(
        "group_a", "group_b", F.lit("a").alias("side"), "v"
    )
    tb = pairs_df.join(e, pairs_df.group_b == e.g).select(
        "group_a", "group_b", F.lit("b").alias("side"), "v"
    )
    both = ta.unionByName(tb)
    return both.groupBy("group_a", "group_b").applyInPandas(
        ks, "group_a string, group_b string, ks_stat double"
    )


def drift_flags(
    ks: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Groups whose KS distance exceeds `threshold` against ALL others
    (reference evaluate_distribution rule, R/evaluate_distribution.R:86-147).
    Symmetrize the pair table, then per group take min(ks) > threshold."""
    sym = ks.select(
        F.col("group_a").alias("g"), F.col("ks_stat").alias("s")
    ).unionByName(ks.select(F.col("group_b").alias("g"), F.col("ks_stat").alias("s")))
    return (
        sym.groupBy("g")
        .agg(F.min("s").alias("min_ks"))
        .filter(F.col("min_ks") > threshold)
        .select(F.col("g").alias("group"), "min_ks")
    )


def psi_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ref_group: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index of every group against `ref_group`:
    PSI = Σ_bins (p_i − q_i) · ln(p_i/q_i), the standard model-monitoring
    drift score (complement of the KS battery above: KS is the sup-norm on
    CDFs, PSI a binned KL symmetrization — cheap enough to run per column
    per partition on every pipeline run).

    Bins are fixed-width over the GLOBAL [min, max] (deterministic and
    engine-independent, unlike quantile bins whose edge interpolation
    differs per engine); both distributions are ε-smoothed so empty bins
    contribute finitely. Plan shape: one global min/max aggregate
    broadcast into a projection, ONE groupBy(group, bin) count, then a
    broadcast join of the reference row vector — a single shuffle of
    G×n_bins rows regardless of data size."""
    v = F.col(value_col).cast("double")
    rng = df.agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi")
    )
    # Degenerate-range guard: when every value is equal (hi == lo) the bin
    # width is 0 and x/0 semantics diverge between engines (Spark yields
    # NULL, DuckDB float inf) — define the bin as 0 explicitly so the
    # operator and the SQL oracle agree on degenerate input.
    binned = df.crossJoin(F.broadcast(rng)).select(
        F.col(group_col).alias("_g"),
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                F.greatest(
                    F.floor(
                        (v - F.col("_lo"))
                        / ((F.col("_hi") - F.col("_lo")) / n_bins)
                    ),
                    F.lit(0),
                ),
                F.lit(n_bins - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_bin"),
    )
    dist = (
        binned.groupBy("_g", "_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_p",
            F.col("_c")
            / F.sum("_c").over(Window.partitionBy("_g")),
        )
    )
    ref = dist.filter(F.col("_g") == ref_group).select(
        F.col("_bin").alias("_rbin"), F.col("_p").alias("_q")
    )
    # dense bin universe per group so bins empty on ONE side still score
    bins_df = dist.sparkSession.range(n_bins).select(
        F.col("id").alias("_bin")
    )
    groups = dist.select("_g").distinct()
    full = (
        groups.crossJoin(F.broadcast(bins_df))
        .join(dist, ["_g", "_bin"], "left")
        .join(
            F.broadcast(ref),
            F.col("_bin") == F.col("_rbin"),
            "left",
        )
        .select(
            "_g",
            (F.coalesce(F.col("_p"), F.lit(0.0)) + eps).alias("_pp"),
            (F.coalesce(F.col("_q"), F.lit(0.0)) + eps).alias("_qq"),
        )
    )
    return (
        full.groupBy("_g")
        .agg(
            F.round(
                F.sum((F.col("_pp") - F.col("_qq")) * F.log(F.col("_pp") / F.col("_qq"))),
                6,
            ).alias("psi")
        )
        .select(F.col("_g").alias(group_col), "psi")
    )


def grouped_quantile_assign(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    out_col: str = "q_bucket",
) -> DataFrame:
    """Assign each row its within-group quantile bucket (1..len(probs)+1)
    by comparing against per-group quantile THRESHOLDS — the FineWeb-style
    'top X% by quality score within each language' normalization, shaped
    for scale: a naive percent_rank/ntile window needs a full sort of
    every group partition (one straggler task per hot language at web
    scale); this instead computes the len(probs) exact cut points per
    group with ONE partial agg (Spark's sort-based `percentile`, R-7
    interpolation — the definition DuckDB's quantile_cont shares, proven
    by the value_percentiles oracle), BROADCASTS the tiny
    (groups × probs) threshold table back, and buckets each row with a
    pure projection — the corpus is never shuffled. At 10^12 rows swap
    `percentile` for approx_percentile + an error budget (the
    value_percentiles scale note); thresholds round to 6dp first so
    bucket edges replay exactly in the oracle.

    Bucket rule: 1 + count(thresholds strictly below the value) — ties
    land in the LOWER bucket on both engines.

    Reference analog: evaluate_distribution's per-site score ranking
    (R/evaluate_distribution.R:86-147) generalized to within-group
    quantile normalization (SURVEY §8)."""
    qs = F.array(*[F.lit(float(p)) for p in probs])
    thr = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col).cast("double"), qs).alias("_qs")
    )
    thr = thr.select(
        group_col, F.transform("_qs", lambda q: F.round(q, 6)).alias("_qs")
    )
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(thr), on=group_col)
        .withColumn(
            out_col,
            (F.size(F.filter("_qs", lambda q: v > q)) + 1).cast("int"),
        )
        .drop("_qs")
    )
