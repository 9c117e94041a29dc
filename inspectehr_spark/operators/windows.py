"""Ordered / windowed operators: duplicates, periodicity, chronology,
overlap, sessionization.

All of these partition by an entity key and order by time — in a chained
pipeline Spark reuses the single shuffle on the entity key across
consecutive window ops (one Exchange, several Window nodes). The reference
does each with dplyr group_by + lead/lag or distinct-then-join
(R/evaluate_duplication.R, R/evaluate_periodicity.R,
R/characterise_episodes.R); we use one window each, never a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def flag_duplicates(
    df: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Rows after the first per key group (keep-first semantics).

    Reference does distinct(keys) + right-join back (R/evaluate_duplication.R:
    37-57); idiomatic Spark is one row_number window — one shuffle, no join.
    Ordering is by an explicit stable column (never arrival order) so the
    outcome is deterministic under parallelism.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .drop("_rn")
    )


def periodicity(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    lo_per_day: float,
    hi_per_day: float,
) -> DataFrame:
    """Entities whose event cadence falls outside [lo, hi] events/24h, or
    that have < 2 events. Returns per-entity (entity, n_events, span_hours,
    events_per_day, fail_reason).

    Reference: R/evaluate_periodicity.R:48-94 — lead() gaps per episode.
    A plain groupBy(min,max,count) gives the same events/24h verdict with a
    partial (map-side) aggregate instead of a full window sort.
    """
    agg = df.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_timestamp(F.max(ts_col).cast("timestamp")) - F.unix_timestamp(F.min(ts_col).cast("timestamp")))
            / 3600.0
        ).alias("span_hours"),
    )
    rate = F.when(
        F.col("span_hours") > 0, F.col("n_events") / (F.col("span_hours") / 24.0)
    )
    return (
        agg.withColumn("events_per_day", rate)
        .withColumn(
            "fail_reason",
            F.when(F.col("n_events") < 2, F.lit("lt2_events"))
            .when(F.col("events_per_day") < lo_per_day, F.lit("too_sparse"))
            .when(F.col("events_per_day") > hi_per_day, F.lit("too_dense"))
            .otherwise(F.lit(None)),
        )
        .filter(F.col("fail_reason").isNotNull())
    )


def periodicity_failures(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    lo_per_day: float,
    hi_per_day: float,
    id_col: str,
    eval_code: str = "VE_TP_05",
    description: str = "Events occur outside anticipated patient level periodicity",
) -> DataFrame:
    """PER-EVENT periodicity decomposition (reference
    R/evaluate_periodicity.R:48-94, VERDICT r2 #4): an event fails when

    * its entity has < 2 events (no cadence can be established), or
    * the gap to the NEXT event (entity-ordered) implies an instantaneous
      rate 24/gap_hours outside [lo_per_day, hi_per_day]. The last event
      of an entity has no next gap → no rate verdict (reference drops the
      NA periodicity row).

    The rate test is expressed on the gap directly — rate < lo ⇔
    gap > 24/lo, rate > hi ⇔ gap < 24/hi — so a zero gap (duplicate
    timestamps) deterministically fails the dense side instead of hitting
    engine-specific divide-by-zero semantics. Ordering pins (ts, id) so
    gap attribution under timestamp ties is deterministic across runs and
    engines.

    Plan: ONE shuffle on the entity key shared by the count window and the
    lead window (same partitioning), then a filter — the per-entity verdict
    (`periodicity`) joins nothing back; this is the event-granular analog
    the reference builds with two grouped passes + bind_rows."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    cnt = F.count(F.lit(1)).over(Window.partitionBy(entity_col))
    gap_h = (
        F.unix_micros(F.lead(ts_col).over(w).cast("timestamp"))
        - F.unix_micros(F.col(ts_col).cast("timestamp"))
    ) / 3.6e9
    staged = df.withColumn("_n", cnt).withColumn("_gap", gap_h)
    sparse = F.col("_gap") > 24.0 / lo_per_day
    dense = F.col("_gap") < 24.0 / hi_per_day
    fail = (F.col("_n") < 2) | (F.col("_gap").isNotNull() & (sparse | dense))
    return (
        staged.filter(fail)
        .drop("_n", "_gap")
        .withColumns(
            {"eval_code": F.lit(eval_code), "description": F.lit(description)}
        )
    )


def chronology_violations(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Rows where value > next value within an entity's ordered sequence —
    the non-monotone life-course check (reference R/evaluate_chronology.R:
    72-91: dob ≤ admission ≤ … ≤ discharge). One lead window."""
    w = Window.partitionBy(entity_col).orderBy(order_col)
    nxt = F.lead(value_col).over(w)
    return (
        df.withColumn("_next", nxt)
        .filter(F.col("_next").isNotNull() & (F.col(value_col) > F.col("_next")))
        .drop("_next")
    )


def decompose_chronology(
    violations: DataFrame,
    core: DataFrame,
    entity_col: str,
    code_col: str,
    eval_code: str = "VE_TP_02",
    description: str = "event violates life-course chronology",
) -> DataFrame:
    """Re-join chronology inversions to the core events so each violating
    (entity, concept) emits its per-event failure rows (reference
    decompose_chronology, R/evaluate_chronology.R:118-159 — the melted
    wide-frame verdict joined back to core on (episode_id, code_name)).

    Keyed equi inner join; the violation key set is usually tiny relative
    to core (AQE broadcasts it)."""
    keys = violations.select(entity_col, code_col).distinct()
    return core.join(keys, [entity_col, code_col], "inner").withColumns(
        {"eval_code": F.lit(eval_code), "description": F.lit(description)}
    )


def overlaps(
    df: DataFrame,
    entity_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Intervals that overlap the next interval of the same entity
    (reference episode-overlap check, R/characterise_episodes.R:145-164):
    lead(start) < end."""
    w = Window.partitionBy(entity_col).orderBy(start_col)
    next_start = F.lead(start_col).over(w)
    return (
        df.withColumn("_next_start", next_start)
        .filter(
            F.col("_next_start").isNotNull()
            & (F.col("_next_start") < F.col(end_col))
        )
        .drop("_next_start")
    )


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap from the
    previous event exceeds `gap_minutes`. Classic lag + cumulative-sum
    sessionization (reference characterise_spells,
    R/characterise_episodes.R:269-285).

    Both windows share one partitioning → one shuffle on the entity key.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts_col).cast("timestamp")) - F.unix_timestamp(prev_ts.cast("timestamp")) > gap_minutes * 60),
        1,
    ).otherwise(0)
    cum = Window.partitionBy(entity_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_new_session", new_sess).withColumn(
        "session_id", F.sum("_new_session").over(cum)
    ).drop("_new_session")
