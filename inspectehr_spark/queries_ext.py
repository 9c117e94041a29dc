"""Registry extension — second batch of operators with DuckDB oracles.

Covers the remaining SURVEY §2 inventory: checksum/structured-code
conformance as pure SQL expressions, the distributed two-sample KS, EAV
pivots, interval bounds joins, two-level aggregates, ECDF, histogram prep
with window totals, and score tables with calendar zero-fill.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from inspectehr_spark.functions import codes
from inspectehr_spark.tables import string_table
from inspectehr_spark.tables import table as _t

# --------------------------------------------------------------------------
# conformance checks on deterministically derived identifiers
# --------------------------------------------------------------------------

def q_nhs_checksum(spark, sf_dir):
    """Mod-11 checksum conformance (reference validate_nhs,
    R/verify_codes.R:20-54 — an R per-entry loop) as ONE SQL expression.
    IDs are derived deterministically from doc_id so both engines see the
    same inputs: id = lpad(doc_id*7919 mod 10^10, 10, '0')."""
    docs = _t(spark, sf_dir, "documents")
    ident = F.lpad(((F.col("doc_id") * 7919) % 10000000000).cast("string"), 10, "0")
    d = docs.select("doc_id", ident.alias("ident"))
    return d.select(
        "doc_id", "ident",
        codes.nhs_checksum_valid(F.col("ident")).alias("checksum_ok"),
    )


SQL_NHS_CHECKSUM = """
WITH d AS (
  SELECT doc_id, lpad(CAST((doc_id * 7919) % 10000000000 AS VARCHAR), 10, '0') AS ident
  FROM documents
),
s AS (
  SELECT doc_id, ident,
         ( CAST(substr(ident, 1, 1) AS INT) * 10
         + CAST(substr(ident, 2, 1) AS INT) * 9
         + CAST(substr(ident, 3, 1) AS INT) * 8
         + CAST(substr(ident, 4, 1) AS INT) * 7
         + CAST(substr(ident, 5, 1) AS INT) * 6
         + CAST(substr(ident, 6, 1) AS INT) * 5
         + CAST(substr(ident, 7, 1) AS INT) * 4
         + CAST(substr(ident, 8, 1) AS INT) * 3
         + CAST(substr(ident, 9, 1) AS INT) * 2 ) % 11 AS rem,
         CAST(substr(ident, 10, 1) AS INT) AS last_digit
  FROM d
)
SELECT doc_id, ident,
       (11 - rem != 10) AND ((11 - rem) % 11 = last_digit) AS checksum_ok
FROM s
"""


def q_icnarc_structure(spark, sf_dir):
    """Structured-code validation (reference verify_icnarc,
    R/verify_codes.R:228-253): derived dotted codes, per-level ranges."""
    docs = _t(spark, sf_dir, "documents")
    code = F.concat_ws(
        ".",
        ((F.col("doc_id") % 4) + 0).cast("string"),   # level1 valid iff 1-2
        ((F.col("doc_id") % 12) + 1).cast("string"),  # level2 valid 1-12
        ((F.col("doc_id") % 15) + 1).cast("string"),  # level3 valid iff <=13
    )
    d = docs.select("doc_id", code.alias("code"))
    return d.select("doc_id", "code", codes.icnarc_valid(F.col("code")).alias("code_ok"))


SQL_ICNARC_STRUCTURE = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 4 AS VARCHAR) || '.' ||
         CAST(doc_id % 12 + 1 AS VARCHAR) || '.' ||
         CAST(doc_id % 15 + 1 AS VARCHAR) AS code
  FROM documents
)
SELECT doc_id, code,
       (doc_id % 4 BETWEEN 1 AND 2)
       AND (doc_id % 12 + 1 BETWEEN 1 AND 12)
       AND (doc_id % 15 + 1 BETWEEN 1 AND 13) AS code_ok
FROM d
"""


def q_postcode_conformance(spark, sf_dir):
    """Regex conformance (reference verify_post_code,
    R/verify_codes.R:127-139): derived postcode-like strings, some
    deliberately malformed."""
    docs = _t(spark, sf_dir, "documents")
    pc = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("XX"), (F.col("doc_id") % 10).cast("string")),  # bad
    ).otherwise(
        F.concat(
            F.lit("AB"), (F.col("doc_id") % 10).cast("string"), F.lit(" "),
            (F.col("doc_id") % 9).cast("string"), F.lit("CD"),
        )
    )
    d = docs.select("doc_id", pc.alias("postcode"))
    return d.select(
        "doc_id", "postcode",
        F.col("postcode").rlike(r"^[A-Z]{1,2}[0-9][A-Z0-9]? ?[0-9][A-Z]{2}$").alias("pc_ok"),
    )


SQL_POSTCODE_CONFORMANCE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN 'XX' || CAST(doc_id % 10 AS VARCHAR)
              ELSE 'AB' || CAST(doc_id % 10 AS VARCHAR) || ' ' ||
                   CAST(doc_id % 9 AS VARCHAR) || 'CD' END AS postcode
  FROM documents
)
SELECT doc_id, postcode,
       regexp_matches(postcode, '^[A-Z]{1,2}[0-9][A-Z0-9]? ?[0-9][A-Z]{2}$') AS pc_ok
FROM d
"""


# --------------------------------------------------------------------------
# distribution drift: distributed two-sample KS (no collect of data rows)
# --------------------------------------------------------------------------

def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov between event_type groups on `value`
    (reference ks_test over site pairs, R/evaluate_distribution.R:23-70),
    as a pure window/join formulation — the no-collect scale path."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    counts = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    # r7: persisted — both probe sides consume the ECDF, and without the
    # persist the counts agg + cume windows execute twice (counts-sized)
    e = counts.select(
        "event_type", "value",
        (F.sum("c").over(w) / F.sum("c").over(tot)).alias("cdf"),
    ).persist()
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    pairs = [(a, b) for i, a in enumerate(types) for b in types[i + 1 :]]
    pairs_df = F.broadcast(string_table(spark, pairs, ("group_a", "group_b")))
    ea = e.select(F.col("event_type").alias("group_a"), F.col("value").alias("v"), F.col("cdf").alias("cdf_a"))
    eb = e.select(F.col("event_type").alias("group_b"), F.col("value").alias("v"), F.col("cdf").alias("cdf_b"))
    left = pairs_df.join(ea, "group_a").select(
        "group_a", "group_b", "v", "cdf_a", F.lit(None).cast("double").alias("cdf_b")
    )
    right = pairs_df.join(eb, "group_b").select(
        "group_a", "group_b", "v", F.lit(None).cast("double").alias("cdf_a"), "cdf_b"
    )
    # RANGE-frame carry-forward (r7): the frame spans the full tie group
    # at v, so the (pair, v) collapse aggregation (an exchange) is gone;
    # max over a nondecreasing CDF == its value at v (see
    # operators/distribution.ks_pairwise)
    merged = left.unionByName(right)
    ws = (
        Window.partitionBy("group_a", "group_b").orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = merged.select(
        "group_a", "group_b",
        F.coalesce(F.max("cdf_a").over(ws), F.lit(0.0)).alias("fa"),
        F.coalesce(F.max("cdf_b").over(ws), F.lit(0.0)).alias("fb"),
    )
    return stepped.groupBy("group_a", "group_b").agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat")
    )


SQL_KS_DRIFT = """
WITH counts AS (
  SELECT event_type, value, COUNT(*) AS c FROM events GROUP BY 1, 2
),
e AS (
  SELECT event_type, value,
         SUM(c) OVER (PARTITION BY event_type ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / SUM(c) OVER (PARTITION BY event_type) AS cdf
  FROM counts
),
types AS (SELECT DISTINCT event_type FROM events),
pairs AS (
  SELECT a.event_type AS group_a, b.event_type AS group_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
merged AS (
  SELECT group_a, group_b, v, MAX(cdf_a) AS cdf_a, MAX(cdf_b) AS cdf_b
  FROM (
    SELECT p.group_a, p.group_b, e.value AS v, e.cdf AS cdf_a, NULL::DOUBLE AS cdf_b
    FROM pairs p JOIN e ON e.event_type = p.group_a
    UNION ALL
    SELECT p.group_a, p.group_b, e.value AS v, NULL::DOUBLE AS cdf_a, e.cdf AS cdf_b
    FROM pairs p JOIN e ON e.event_type = p.group_b
  ) GROUP BY 1, 2, 3
),
stepped AS (
  SELECT group_a, group_b,
         COALESCE(LAST_VALUE(cdf_a IGNORE NULLS) OVER
           (PARTITION BY group_a, group_b ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS fa,
         COALESCE(LAST_VALUE(cdf_b IGNORE NULLS) OVER
           (PARTITION BY group_a, group_b ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS fb
  FROM merged
)
SELECT group_a, group_b, ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat
FROM stepped GROUP BY group_a, group_b
"""


# --------------------------------------------------------------------------
# EAV reshaping / pivots
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_user_types(spark, sf_dir):
    """EAV → wide pivot (reference wide demographics pivot,
    R/characterise_episodes.R:231-235): per-user event counts by type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


SQL_PIVOT_USER_TYPES = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS click,
       COUNT(*) FILTER (event_type = 'error')    AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS signup,
       COUNT(*) FILTER (event_type = 'view')     AS view
FROM events GROUP BY user_id
"""


def q_stack_wide_to_long(spark, sf_dir):
    """Wide → long melt (reference pivot_longer chronology prep,
    R/evaluate_chronology.R:80): unpivot the per-user pivot back to rows."""
    wide = q_pivot_user_types(spark, sf_dir)
    pairs = ", ".join(f"'{t}', {t}" for t in EVENT_TYPES)
    return wide.selectExpr(
        "user_id", f"stack({len(EVENT_TYPES)}, {pairs}) as (event_type, n)"
    ).filter(F.col("n") > 0)


SQL_STACK_WIDE_TO_LONG = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events GROUP BY user_id, event_type
"""


# --------------------------------------------------------------------------
# interval bounds join (evaluate_bounds analog)
# --------------------------------------------------------------------------

def q_events_outside_user_span(spark, sf_dir):
    """Events outside their user's [first signup, last purchase] interval —
    equi join + interval predicate (reference bounds check,
    R/evaluate_bounds.R:40-52). Users lacking either bound yield no verdict."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("span_lo"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("span_hi"),
    )
    return (
        ev.join(spans, "user_id", "left")
        .filter(
            F.col("span_lo").isNotNull()
            & F.col("span_hi").isNotNull()
            & ((F.col("ts") < F.col("span_lo")) | (F.col("ts") > F.col("span_hi")))
        )
        .select("event_id", "user_id", "ts")
    )


SQL_EVENTS_OUTSIDE_USER_SPAN = """
WITH spans AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS span_lo,
         MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS span_hi
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.ts
FROM events e JOIN spans s ON e.user_id = s.user_id
WHERE s.span_lo IS NOT NULL AND s.span_hi IS NOT NULL
  AND (e.ts < s.span_lo OR e.ts > s.span_hi)
"""


# --------------------------------------------------------------------------
# aggregates: weekly profile, outlier days, score zero-fill, conflicts
# --------------------------------------------------------------------------

def q_weekly_profile(spark, sf_dir):
    """year × month × week-of-month distinct users/events per type
    (reference weekly_admissions, R/characterise_episodes.R:298-315)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.year("ts").cast("long").alias("yr"),
        F.month("ts").cast("long").alias("mo"),
        F.ceil(F.dayofmonth("ts") / 7).cast("long").alias("wk"),
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_WEEKLY_PROFILE = """
SELECT event_type,
       CAST(EXTRACT(year FROM ts) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM ts) AS BIGINT) AS mo,
       CAST(CEIL(EXTRACT(day FROM ts) / 7.0) AS BIGINT) AS wk,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2, 3, 4
"""


def q_sparse_day_outliers(spark, sf_dir):
    """Days whose count falls below mean - 2·stddev of the same weekday's
    baseline (reference sparse-day rule, R/verify_episodes.R:49-68)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("ds"), F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    base = daily.groupBy("dow").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    return (
        daily.join(base, "dow")
        .filter(F.col("n") < F.col("mu") - 2 * F.col("sd"))
        .select("ds", "dow", "n")
    )


SQL_SPARSE_DAY_OUTLIERS = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, CAST(dayofweek(ts) AS BIGINT) + 1 AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT dow, AVG(n) AS mu, STDDEV_SAMP(n) AS sd FROM daily GROUP BY dow
)
SELECT d.ds, d.dow, d.n
FROM daily d JOIN base b ON d.dow = b.dow
WHERE d.n < b.mu - 2 * b.sd
"""


def q_score_events_daily(spark, sf_dir):
    """Per (event_type, day) submitted / failed(value > 400) / score with
    full calendar zero-fill (reference score_events with expanded calendar
    cross join, R/quality_score.R:47-128)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("_lo"), F.to_date(F.max("ts")).alias("_hi")
    )
    days = bounds.select(F.explode(F.sequence("_lo", "_hi")).alias("ds"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(days)
    per = ev.groupBy("event_type", F.to_date("ts").alias("ds")).agg(
        F.count(F.lit(1)).alias("n_submitted"),
        F.sum(F.when(F.col("value") > 400, 1).otherwise(0)).alias("n_failed"),
    )
    return grid.join(per, ["event_type", "ds"], "left").select(
        "event_type",
        "ds",
        F.coalesce("n_submitted", F.lit(0)).cast("long").alias("n_submitted"),
        F.coalesce("n_failed", F.lit(0)).cast("long").alias("n_failed"),
        F.when(
            F.coalesce("n_submitted", F.lit(0)) > 0,
            F.round(
                1.0 - F.coalesce("n_failed", F.lit(0)) / F.coalesce("n_submitted", F.lit(0)), 6
            ),
        ).alias("score"),
    )


SQL_SCORE_EVENTS_DAILY = """
WITH days AS (
  SELECT CAST(UNNEST(generate_series(CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE), INTERVAL 1 DAY)) AS DATE) AS ds
  FROM events
),
types AS (SELECT DISTINCT event_type FROM events),
per AS (
  SELECT event_type, CAST(ts AS DATE) AS ds, COUNT(*) AS n_submitted,
         SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS n_failed
  FROM events GROUP BY 1, 2
)
SELECT t.event_type, d.ds,
       CAST(COALESCE(p.n_submitted, 0) AS BIGINT) AS n_submitted,
       CAST(COALESCE(p.n_failed, 0) AS BIGINT) AS n_failed,
       CASE WHEN COALESCE(p.n_submitted, 0) > 0
            THEN ROUND(1.0 - COALESCE(p.n_failed, 0) / COALESCE(p.n_submitted, 0), 6) END AS score
FROM types t CROSS JOIN days d
LEFT JOIN per p ON p.event_type = t.event_type AND p.ds = d.ds
"""


def q_conflicting_props(spark, sf_dir):
    """Entities with conflicting values where exactly one is expected
    (reference conflicting death times, R/characterise_episodes.R:74-85):
    users with > 1 distinct props among their signup events."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.countDistinct("props").alias("n_distinct_props"))
        .filter(F.col("n_distinct_props") > 1)
    )


SQL_CONFLICTING_PROPS = """
SELECT user_id, COUNT(DISTINCT props) AS n_distinct_props
FROM events WHERE event_type = 'signup'
GROUP BY user_id HAVING COUNT(DISTINCT props) > 1
"""


# --------------------------------------------------------------------------
# ordered analytics: ECDF, histogram prep, spells
# --------------------------------------------------------------------------

def q_value_ecdf(spark, sf_dir):
    """Per-type ECDF at each distinct value (reference stat_ecdf per site,
    R/plot.R:134-155) via cume_dist."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", F.round("value", 0).alias("v")).groupBy(
        "event_type", "v"
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    return d.select(
        "event_type", "v",
        F.round(F.sum("c").over(w) / F.sum("c").over(tot), 6).alias("ecdf"),
    )


SQL_VALUE_ECDF = """
WITH d AS (
  SELECT event_type, ROUND(value, 0) AS v, COUNT(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type, v,
       ROUND(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / SUM(c) OVER (PARTITION BY event_type), 6) AS ecdf
FROM d
"""


def q_histogram_prep(spark, sf_dir):
    """Bucketed counts per type with per-type totals via window and the
    complete type × bucket crosstab (reference histogram prep + complete(),
    R/plot.R:198-206)."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select("event_type", F.floor(F.col("value") / 100).cast("long").alias("bucket"))
    counts = b.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("n"))
    types = b.select("event_type").distinct()
    buckets = b.select("bucket").distinct()
    grid = types.crossJoin(F.broadcast(buckets))
    filled = grid.join(counts, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    tot = Window.partitionBy("event_type")
    return filled.select(
        "event_type", "bucket", "n",
        F.sum("n").over(tot).cast("long").alias("type_total"),
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("frac"),
    )


SQL_HISTOGRAM_PREP = """
WITH b AS (
  SELECT event_type, CAST(FLOOR(value / 100) AS BIGINT) AS bucket FROM events
),
counts AS (SELECT event_type, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2),
grid AS (
  SELECT t.event_type, k.bucket
  FROM (SELECT DISTINCT event_type FROM b) t
  CROSS JOIN (SELECT DISTINCT bucket FROM b) k
),
filled AS (
  SELECT g.event_type, g.bucket, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM grid g LEFT JOIN counts c ON c.event_type = g.event_type AND c.bucket = g.bucket
)
SELECT event_type, bucket, n,
       CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS type_total,
       ROUND(n / SUM(n) OVER (PARTITION BY event_type), 6) AS frac
FROM filled
"""


def q_spell_durations(spark, sf_dir):
    """Sessionize then per-spell LOS: session id via lag-gap cumulative sum,
    then per (user, session) start/end/duration/event count (reference
    characterise_spells + episode LOS, R/characterise_episodes.R:167-285)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (
            (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(prev.cast("timestamp")))
            > 30 * 60e6
        ),
        1,
    ).otherwise(0)
    cum = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = ev.withColumn("_ns", new_sess).withColumn(
        "session_id", F.sum("_ns").over(cum).cast("long")
    )
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 60e6,
            6,
        ).alias("duration_min"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SPELL_DURATIONS = """
WITH s AS (
  SELECT user_id, event_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60e6
                THEN 1 ELSE 0 END AS ns
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 60e6, 6) AS duration_min,
       COUNT(*) AS n_events
FROM s GROUP BY 1, 2
"""


def q_combine_union(spark, sf_dir):
    """Union of two heterogeneous extracts with NULL fill (reference
    `combine`, R/extract_data.R:207-215): numeric 'purchase' values union
    boolean presence of 'error' events."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.col("value").alias("num_value"),
        F.lit(None).cast("boolean").alias("present"),
    )
    b = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id",
        F.lit(None).cast("double").alias("num_value"),
        F.col("value").isNotNull().alias("present"),
    )
    return a.unionByName(b)


SQL_COMBINE_UNION = """
SELECT event_id, user_id, value AS num_value, NULL::BOOLEAN AS present
FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id, NULL::DOUBLE AS num_value, value IS NOT NULL AS present
FROM events WHERE event_type = 'error'
"""


EXT_QUERIES = {
    "nhs_checksum": (q_nhs_checksum, SQL_NHS_CHECKSUM),
    "icnarc_structure": (q_icnarc_structure, SQL_ICNARC_STRUCTURE),
    "postcode_conformance": (q_postcode_conformance, SQL_POSTCODE_CONFORMANCE),
    "ks_drift": (q_ks_drift, SQL_KS_DRIFT),
    "pivot_user_types": (q_pivot_user_types, SQL_PIVOT_USER_TYPES),
    "stack_wide_to_long": (q_stack_wide_to_long, SQL_STACK_WIDE_TO_LONG),
    "events_outside_user_span": (q_events_outside_user_span, SQL_EVENTS_OUTSIDE_USER_SPAN),
    "weekly_profile": (q_weekly_profile, SQL_WEEKLY_PROFILE),
    "sparse_day_outliers": (q_sparse_day_outliers, SQL_SPARSE_DAY_OUTLIERS),
    "score_events_daily": (q_score_events_daily, SQL_SCORE_EVENTS_DAILY),
    "conflicting_props": (q_conflicting_props, SQL_CONFLICTING_PROPS),
    "value_ecdf": (q_value_ecdf, SQL_VALUE_ECDF),
    "histogram_prep": (q_histogram_prep, SQL_HISTOGRAM_PREP),
    "spell_durations": (q_spell_durations, SQL_SPELL_DURATIONS),
    "combine_union": (q_combine_union, SQL_COMBINE_UNION),
}


# --------------------------------------------------------------------------
# batch 3: model scoring, metadata presence, failure tally
# --------------------------------------------------------------------------

def q_logistic_score(spark, sf_dir):
    """Linear-model batch scoring (the reference's analyze_bg,
    R/analyse_bg.R:15-34: design matrix × β → inv_logit → threshold →
    label) over the embeddings table — pure column arithmetic, the pattern
    a fastText/KenLM linear head compiles to when the model is small."""
    emb = _t(spark, sf_dir, "embeddings")
    demb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = emb.select("vec_id", "label", demb.alias("_v"))
    # fixed public weights: w_i = ((i*37) % 21 - 10) / 10, bias 0.05
    w = F.array(*[F.lit(((i * 37) % 21 - 10) / 10.0) for i in range(64)])
    staged = staged.withColumn("_w", w)
    z = F.aggregate(
        F.zip_with("_v", "_w", lambda a, b: a * b), F.lit(0.05),
        lambda acc, x: acc + x,
    )
    p = 1.0 / (1.0 + F.exp(-z))
    return staged.select(
        "vec_id",
        F.round(p, 6).alias("prob"),
        (p > 0.589).alias("pred_label"),
    )


SQL_LOGISTIC_SCORE = """
WITH w AS (
  SELECT [((i * 37) % 21 - 10) / 10.0 FOR i IN range(64)] AS wv
),
s AS (
  SELECT vec_id,
         0.05 + list_dot_product(embedding::DOUBLE[], w.wv) AS z
  FROM embeddings, w
)
SELECT vec_id,
       ROUND(1.0 / (1.0 + EXP(-z)), 6) AS prob,
       (1.0 / (1.0 + EXP(-z))) > 0.589 AS pred_label
FROM s
"""


def q_metadata_missing(spark, sf_dir):
    """Metadata-presence check (reference evaluate_metadata,
    R/evaluate_metadata.R:14-35): derived meta columns, fail when ANY is
    NULL."""
    from inspectehr_spark.operators.checks import metadata_violation

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("props")).alias("meta_1"),
        F.when(F.col("event_id") % 11 != 0, F.col("event_type")).alias("meta_2"),
    )
    return d.filter(metadata_violation(["meta_1", "meta_2"])).select(
        "event_id", F.lit("VE_CP_05").alias("eval_code")
    )


SQL_METADATA_MISSING = """
WITH d AS (
  SELECT event_id,
         CASE WHEN event_id % 7 != 0 THEN props END AS meta_1,
         CASE WHEN event_id % 11 != 0 THEN event_type END AS meta_2
  FROM events
)
SELECT event_id, 'VE_CP_05' AS eval_code
FROM d WHERE meta_1 IS NULL OR meta_2 IS NULL
"""


def q_failure_tally(spark, sf_dir):
    """Failure-reason tally (reference episode_varacity,
    R/characterise_episodes.R:493-499) over the shared failure log."""
    from inspectehr_spark.queries import _doc_failures

    return (
        _doc_failures(spark, sf_dir)
        .groupBy("check_code", "eval_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_FAILURE_TALLY = """
WITH failures AS (
  SELECT doc_id, 'doc_length' AS check_code, 'VE_VC_03' AS eval_code
  FROM documents WHERE n_chars < 100 OR n_chars > 500
  UNION ALL
  SELECT doc_id, 'lang_allowed', 'VE_VC_04'
  FROM documents WHERE lang NOT IN ('de', 'en', 'es', 'fr')
)
SELECT check_code, eval_code, COUNT(*) AS n FROM failures GROUP BY 1, 2
"""


EXT_QUERIES.update({
    "logistic_score": (q_logistic_score, SQL_LOGISTIC_SCORE),
    "metadata_missing": (q_metadata_missing, SQL_METADATA_MISSING),
    "failure_tally": (q_failure_tally, SQL_FAILURE_TALLY),
})


def q_tpch_q3_shipping(spark, sf_dir):
    """TPC-H Q3 shape: top-10 unshipped-order revenue — 3-way join with
    broadcast dims, grouped agg, ordered limit."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


SQL_TPCH_Q3_SHIPPING = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5_local_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation where customer and supplier share
    the nation — 5-way join, all dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


SQL_TPCH_Q5_LOCAL_VOLUME = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


EXT_QUERIES.update({
    "tpch_q3_shipping": (q_tpch_q3_shipping, SQL_TPCH_Q3_SHIPPING),
    "tpch_q5_local_volume": (q_tpch_q5_local_volume, SQL_TPCH_Q5_LOCAL_VOLUME),
})
