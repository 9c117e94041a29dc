"""Registry batch 3 — round-2 operators with DuckDB oracles: the episode
composites, the comparison lookup driver, time-of-day checks, the
decomposed chronology, an md5-replayable MinHash signature and IVF ANN.

The episode queries instantiate operators/episodes.py over the driver's
`events` table:
an "episode" is a (user_id, day) admission; the patient identity is
user_id % 50 (collisions on purpose so the per-patient checks fire);
identity numbers are constructed mod-11-valid except every 7th patient
(planted invalid); end-time candidates come from purchase/error events
truncated to the hour so duplicate-end and LOS<=0 fire naturally.

Every query is the OPERATOR's output (not a reimplementation): the Spark
side builds the wide frame and calls characterise_episodes /
evaluate_origin / evaluate_episodes; the SQL mirrors the semantics as a
DuckDB CTE chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inspectehr_spark.functions import codes
from inspectehr_spark.operators import episodes as E
from inspectehr_spark.tables import table as _t

EPOCH_DAY0 = "2024-01-01"


def _episodes_wide(spark, sf_dir):
    """The demographics-pivot analog: one row per (user, day) episode with
    identity, start, end candidates, outcome and identity validity
    (reference prep_characterise_episodes, R/characterise_episodes.R:200-265)."""
    ev = _t(spark, sf_dir, "events")
    et = F.col("event_type")
    agg = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("_min_ts"),
        F.max(F.when(et == "purchase", F.col("ts"))).alias("_src"),
        F.min(
            F.when((et == "error") & (F.minute("ts") == 0), F.col("ts"))
        ).alias("_death"),
        F.max(F.when(et == "error", F.col("ts"))).alias("_bsd"),
        F.count(F.when(et == "error", F.lit(1))).alias("_n_err"),
        F.max(et.isin("view", "click")).alias("_has_act"),
    )
    staged = agg.withColumn("nhs", F.col("user_id") % 50).withColumn(
        "base9", F.lpad((F.col("nhs") + 100000000).cast("string"), 9, "0")
    )
    wsum = None
    for i in range(1, 10):
        term = F.substring("base9", i, 1).cast("int") * (11 - i)
        wsum = term if wsum is None else wsum + term
    check = (11 - wsum % 11) % 11
    digit = F.when(F.col("nhs") % 7 == 0, (check + 1) % 10).otherwise(check)
    staged = staged.withColumn(
        "ident", F.concat(F.col("base9"), digit.cast("string"))
    )

    def th(c):
        return F.date_trunc("hour", c)

    return staged.select(
        (
            F.col("user_id") * 100000
            + F.datediff(F.col("d"), F.lit(EPOCH_DAY0).cast("date"))
        ).alias("episode_id"),
        "nhs",
        th(F.col("_min_ts")).alias("epi_start_dttm"),
        th(F.col("_src")).alias("src_end_dttm"),
        th(F.col("_death")).alias("death_dttm"),
        th(F.col("_bsd")).alias("bsd_dttm"),
        F.when(F.col("_n_err") >= 2, 1).otherwise(0).alias("bsd"),
        F.when(F.col("_has_act"), "A")
        .when(F.col("_death").isNotNull(), "D")
        .otherwise("E")
        .alias("outcome"),
        codes.nhs_checksum_valid(F.col("ident")).alias("nhs_valid"),
    )


# Shared oracle CTE chain mirroring _episodes_wide + characterise_episodes.
_EPI_CTE = f"""
WITH agg AS (
  SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS min_ts,
         max(CASE WHEN event_type='purchase' THEN ts END) AS src_raw,
         min(CASE WHEN event_type='error' AND date_part('minute', ts) = 0 THEN ts END) AS death_raw,
         max(CASE WHEN event_type='error' THEN ts END) AS bsd_raw,
         count(CASE WHEN event_type='error' THEN 1 END) AS n_err,
         bool_or(event_type IN ('view','click')) AS has_act
  FROM events GROUP BY 1, 2
),
ep0 AS (
  SELECT user_id % 50 AS nhs,
         user_id * 100000 + datediff('day', DATE '{EPOCH_DAY0}', d) AS episode_id,
         date_trunc('hour', min_ts) AS epi_start_dttm,
         date_trunc('hour', src_raw) AS src_end_dttm,
         date_trunc('hour', death_raw) AS death_dttm,
         date_trunc('hour', bsd_raw) AS bsd_dttm,
         CASE WHEN n_err >= 2 THEN 1 ELSE 0 END AS bsd,
         CASE WHEN has_act THEN 'A'
              WHEN death_raw IS NOT NULL THEN 'D' ELSE 'E' END AS outcome
  FROM agg
),
ep1 AS (
  SELECT *,
    CASE WHEN outcome='A' AND src_end_dttm IS NULL THEN NULL
         WHEN outcome='A' THEN src_end_dttm
         WHEN outcome='D' AND death_dttm IS NOT NULL AND bsd = 0 THEN death_dttm
         WHEN outcome='D' AND bsd = 1 AND bsd_dttm IS NOT NULL THEN bsd_dttm
         ELSE NULL END AS epi_end_dttm,
    lpad(CAST(100000000 + nhs AS VARCHAR), 9, '0') AS base9
  FROM ep0
),
ep2 AS (
  SELECT *,
    (( CAST(substr(base9,1,1) AS INT)*10 + CAST(substr(base9,2,1) AS INT)*9
     + CAST(substr(base9,3,1) AS INT)*8 + CAST(substr(base9,4,1) AS INT)*7
     + CAST(substr(base9,5,1) AS INT)*6 + CAST(substr(base9,6,1) AS INT)*5
     + CAST(substr(base9,7,1) AS INT)*4 + CAST(substr(base9,8,1) AS INT)*3
     + CAST(substr(base9,9,1) AS INT)*2) % 11) AS crem
  FROM ep1
),
ep3 AS (
  SELECT * EXCLUDE(crem),
    base9 || CAST(CASE WHEN nhs % 7 = 0 THEN ((11 - crem) % 11 + 1) % 10
                       ELSE (11 - crem) % 11 END AS VARCHAR) AS ident
  FROM ep2
),
epw AS (
  SELECT *,
    (( CAST(substr(ident,1,1) AS INT)*10 + CAST(substr(ident,2,1) AS INT)*9
     + CAST(substr(ident,3,1) AS INT)*8 + CAST(substr(ident,4,1) AS INT)*7
     + CAST(substr(ident,5,1) AS INT)*6 + CAST(substr(ident,6,1) AS INT)*5
     + CAST(substr(ident,7,1) AS INT)*4 + CAST(substr(ident,8,1) AS INT)*3
     + CAST(substr(ident,9,1) AS INT)*2) % 11) AS vrem,
    ROW_NUMBER() OVER (PARTITION BY nhs, epi_start_dttm ORDER BY episode_id) AS rn_start,
    ROW_NUMBER() OVER (PARTITION BY nhs, epi_end_dttm ORDER BY episode_id) AS rn_end,
    LEAD(epi_start_dttm) OVER (PARTITION BY nhs ORDER BY epi_start_dttm, episode_id) AS next_start
  FROM ep3
),
conflicts AS (
  SELECT nhs FROM epw WHERE death_dttm IS NOT NULL
  GROUP BY nhs HAVING count(DISTINCT death_dttm) > 1
),
inv AS (
  SELECT episode_id, 'VA_VC_01' AS code, 'invalid nhs number' AS reason
  FROM epw WHERE NOT ((11 - vrem != 10) AND ((11 - vrem) % 11 = CAST(substr(ident,10,1) AS INT)))
  UNION ALL
  SELECT episode_id, 'VA_CP_01', 'no ICU outcome status'
  FROM epw WHERE outcome = 'E' OR outcome IS NULL
  UNION ALL
  SELECT e.episode_id, 'VE_UP_01', 'duplicate and conflicting death times'
  FROM epw e SEMI JOIN conflicts c ON e.nhs = c.nhs
  UNION ALL
  SELECT episode_id, 'VE_CP_01', 'episode end cannot be reconciled'
  FROM epw WHERE epi_end_dttm IS NULL
  UNION ALL
  SELECT episode_id, 'VE_TP_01', 'episode length <= 0'
  FROM epw WHERE epi_end_dttm <= epi_start_dttm
  UNION ALL
  SELECT episode_id, 'VE_UP_01', 'duplicate start time of episode'
  FROM epw WHERE rn_start > 1
  UNION ALL
  SELECT episode_id, 'VE_UP_01', 'duplicate end time of episode'
  FROM epw WHERE epi_end_dttm IS NOT NULL AND rn_end > 1
  UNION ALL
  SELECT episode_id, 'VE_VC_04', 'overlapping episodes'
  FROM epw WHERE next_start IS NOT NULL AND next_start < epi_end_dttm
)
"""


def q_episode_table(spark, sf_dir):
    """The composed characterise_episodes (reference
    R/characterise_episodes.R:30-191): wide pivot → outcome-precedence end
    → 7 checks → anti-join invalid → LOS table."""
    table, _invalid = E.characterise_episodes(_episodes_wide(spark, sf_dir))
    return table


SQL_EPISODE_TABLE = _EPI_CTE + """
SELECT epw.episode_id, nhs AS nhs_number, epi_start_dttm, epi_end_dttm, outcome,
       ROUND((epoch_us(epi_end_dttm) - epoch_us(epi_start_dttm)) / 3.6e9 / 24.0, 6) AS los_days
FROM epw ANTI JOIN (SELECT DISTINCT episode_id FROM inv) i
  ON epw.episode_id = i.episode_id
"""


def q_episode_invalid_records(spark, sf_dir):
    """The invalid_records side table (reference attaches it as an R
    attribute, R/characterise_episodes.R:186; here the second tuple
    element)."""
    _table, invalid = E.characterise_episodes(_episodes_wide(spark, sf_dir))
    return invalid


SQL_EPISODE_INVALID_RECORDS = _EPI_CTE + "SELECT episode_id, code, reason FROM inv"


def q_origin_failures(spark, sf_dir):
    """evaluate_origin (reference R/evaluate_origin.R:12-20): every event
    of an invalid episode inherits failure VE_RC_04."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "episode_id",
        F.col("user_id") * 100000
        + F.datediff(F.to_date("ts"), F.lit(EPOCH_DAY0).cast("date")),
    )
    _table, invalid = E.characterise_episodes(_episodes_wide(spark, sf_dir))
    return E.evaluate_origin(ev, invalid).select(
        "event_id", "episode_id", "eval_code"
    )


SQL_ORIGIN_FAILURES = _EPI_CTE + f"""
SELECT e.event_id,
       e.user_id * 100000 + datediff('day', DATE '{EPOCH_DAY0}', CAST(e.ts AS DATE)) AS episode_id,
       'VE_RC_04' AS eval_code
FROM events e
SEMI JOIN (SELECT DISTINCT episode_id FROM inv) i
  ON e.user_id * 100000 + datediff('day', DATE '{EPOCH_DAY0}', CAST(e.ts AS DATE)) = i.episode_id
"""


def q_monthly_blacklist(spark, sf_dir):
    """evaluate_episodes month blacklist (reference R/verify_episodes.R:
    26-150): days below the (site, year, weekday) mean - k*sd baseline plus
    absent calendar days; months with >= threshold bad days. Instantiated
    over events with site := event_type, episode := event, and (k=1,
    threshold=3) so the verdict is non-trivial at fixture scale (the
    reference's k=2/threshold=10 never fires on the uniform synthetic
    corpus; operator defaults keep the reference values)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("site"),
        F.col("ts").alias("epi_start_dttm"),
        F.col("event_id").alias("episode_id"),
    )
    _valid, _invalid, months = E.evaluate_episodes(ev, threshold=3, sd_k=1.0)
    return months.select(
        "site",
        F.col("year").cast("long").alias("year"),
        F.col("month").cast("long").alias("month"),
        F.col("n_bad_days").cast("long").alias("n_bad_days"),
    )


SQL_MONTHLY_BLACKLIST = """
WITH daily AS (
  SELECT event_type AS site, CAST(ts AS DATE) AS date,
         COUNT(DISTINCT event_id) AS episode_count, COUNT(*) AS episodes
  FROM events GROUP BY 1, 2
),
baseline AS (
  SELECT site, CAST(year(date) AS BIGINT) AS year,
         CAST(dayofweek(date) AS BIGINT) + 1 AS wday,
         AVG(episode_count) AS mean_episodes,
         STDDEV_SAMP(episode_count) AS sd_episodes
  FROM daily GROUP BY 1, 2, 3
),
too_few AS (
  SELECT d.site, d.date FROM daily d
  JOIN baseline b ON d.site = b.site
    AND CAST(year(d.date) AS BIGINT) = b.year
    AND CAST(dayofweek(d.date) AS BIGINT) + 1 = b.wday
  WHERE d.episodes < b.mean_episodes - 1.0 * b.sd_episodes
),
cal AS (
  SELECT s.site, CAST(u.d AS DATE) AS date
  FROM (SELECT DISTINCT event_type AS site FROM events) s
  CROSS JOIN (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
    FROM (SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events)
  ) u
),
absent AS (
  SELECT cal.site, cal.date FROM cal
  ANTI JOIN daily ON cal.site = daily.site AND cal.date = daily.date
),
bad AS (SELECT * FROM too_few UNION ALL SELECT * FROM absent)
SELECT site, CAST(year(date) AS BIGINT) AS year,
       CAST(month(date) AS BIGINT) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_bad_days
FROM bad GROUP BY 1, 2, 3
HAVING COUNT(*) >= 3
"""


def q_comparison_failures(spark, sf_dir):
    """Lookup-driven comparison battery with per-side failure decomposition
    (reference evaluate_comparison, R/evaluate_comparison.R:49-192):
    first-signup/-purchase/-error per user, constraints signup<=purchase,
    signup<=error, purchase-requires-signup; violations decompose back to
    both participating extracts. Values are exact epoch-microsecond ints
    rendered as strings (cross-engine-stable)."""
    from inspectehr_spark.operators.comparison import (
        Comparison,
        evaluate_comparisons_wide,
    )

    ev = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    et = F.col("event_type")
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(et == t, ts_us)).alias(t)
            for t in ("signup", "purchase", "error")
        ]
    )
    lookup = [
        Comparison("signup_before_purchase", "signup", "purchase", "<="),
        Comparison("signup_before_error", "signup", "error", "<="),
        Comparison("purchase_requires_signup", "purchase", "signup", "exists"),
    ]
    return evaluate_comparisons_wide(firsts, lookup, ["user_id"])


SQL_COMPARISON_FAILURES = """
WITH f AS (
  SELECT user_id,
    min(CASE WHEN event_type='signup' THEN epoch_us(ts) END) AS signup,
    min(CASE WHEN event_type='purchase' THEN epoch_us(ts) END) AS purchase,
    min(CASE WHEN event_type='error' THEN epoch_us(ts) END) AS error
  FROM events GROUP BY user_id
),
v_sp AS (SELECT user_id FROM f
         WHERE signup IS NOT NULL AND purchase IS NOT NULL AND NOT (signup <= purchase)),
v_se AS (SELECT user_id FROM f
         WHERE signup IS NOT NULL AND error IS NOT NULL AND NOT (signup <= error)),
v_ps AS (SELECT user_id FROM f WHERE purchase IS NOT NULL AND signup IS NULL)
SELECT f.user_id, 'signup' AS code_name, CAST(signup AS VARCHAR) AS value,
       'signup_before_purchase' AS check_code, 'VE_AP_01' AS eval_code
FROM f SEMI JOIN v_sp ON f.user_id = v_sp.user_id WHERE signup IS NOT NULL
UNION ALL
SELECT f.user_id, 'purchase', CAST(purchase AS VARCHAR),
       'signup_before_purchase', 'VE_AP_01'
FROM f SEMI JOIN v_sp ON f.user_id = v_sp.user_id WHERE purchase IS NOT NULL
UNION ALL
SELECT f.user_id, 'signup', CAST(signup AS VARCHAR),
       'signup_before_error', 'VE_AP_01'
FROM f SEMI JOIN v_se ON f.user_id = v_se.user_id WHERE signup IS NOT NULL
UNION ALL
SELECT f.user_id, 'error', CAST(error AS VARCHAR),
       'signup_before_error', 'VE_AP_01'
FROM f SEMI JOIN v_se ON f.user_id = v_se.user_id WHERE error IS NOT NULL
UNION ALL
SELECT f.user_id, 'purchase', CAST(purchase AS VARCHAR),
       'purchase_requires_signup', 'VE_AP_01'
FROM f SEMI JOIN v_ps ON f.user_id = v_ps.user_id WHERE purchase IS NOT NULL
UNION ALL
SELECT f.user_id, 'signup', CAST(signup AS VARCHAR),
       'purchase_requires_signup', 'VE_AP_01'
FROM f SEMI JOIN v_ps ON f.user_id = v_ps.user_id WHERE signup IS NOT NULL
"""


TOD_LO, TOD_HI = 6 * 3600, 22 * 3600  # allowed time-of-day window [06:00, 22:00]


def q_tod_bounds_fail(spark, sf_dir):
    """Time-of-day range rule (reference evaluate_range.time_1d,
    R/evaluate_ranges.R:315-334) on the seconds-of-day int convention
    (SURVEY §1.3): events outside the allowed [06:00, 22:00] window."""
    from inspectehr_spark.functions.datetimefns import seconds_of_day
    from inspectehr_spark.operators.checks import violation_for
    from inspectehr_spark.rules import Rule

    rule = Rule(
        "tod_bounds", "VE_VC_05", "event time-of-day outside allowed window",
        column="tod", lo=float(TOD_LO), hi=float(TOD_HI),
    )
    ev = _t(spark, sf_dir, "events").withColumn("tod", seconds_of_day("ts"))
    return ev.filter(violation_for(rule)).select(
        "event_id",
        F.col("tod").cast("long").alias("tod"),
        F.lit(rule.eval_code).alias("eval_code"),
    )


SQL_TOD_BOUNDS_FAIL = f"""
SELECT event_id,
       CAST(date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
            + date_part('second', ts) AS BIGINT) AS tod,
       'VE_VC_05' AS eval_code
FROM events
WHERE date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
      + date_part('second', ts) NOT BETWEEN {TOD_LO} AND {TOD_HI}
"""


def q_tod_ks_drift(spark, sf_dir):
    """Time-of-day distribution drift (reference
    evaluate_time_distribution, R/evaluate_distribution.R:163-221): the
    pairwise two-sample KS on seconds-of-day between event_type groups,
    via the distributed ECDF formulation (no data collect)."""
    from inspectehr_spark.functions.datetimefns import seconds_of_day
    from inspectehr_spark.operators.distribution import ks_pairwise

    ev = _t(spark, sf_dir, "events").select(
        "event_type", seconds_of_day("ts").alias("tod")
    )
    return ks_pairwise(ev, "event_type", "tod")


SQL_TOD_KS_DRIFT = """
WITH todv AS (
  SELECT event_type,
         date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
         + date_part('second', ts) AS tod
  FROM events
),
counts AS (SELECT event_type, tod, COUNT(*) AS c FROM todv GROUP BY 1, 2),
e AS (
  SELECT event_type, tod,
         SUM(c) OVER (PARTITION BY event_type ORDER BY tod
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / SUM(c) OVER (PARTITION BY event_type) AS cdf
  FROM counts
),
types AS (SELECT DISTINCT event_type FROM todv),
pairs AS (
  SELECT a.event_type AS group_a, b.event_type AS group_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
merged AS (
  SELECT group_a, group_b, v, MAX(cdf_a) AS cdf_a, MAX(cdf_b) AS cdf_b
  FROM (
    SELECT p.group_a, p.group_b, e.tod AS v, e.cdf AS cdf_a, NULL::DOUBLE AS cdf_b
    FROM pairs p JOIN e ON e.event_type = p.group_a
    UNION ALL
    SELECT p.group_a, p.group_b, e.tod AS v, NULL::DOUBLE AS cdf_a, e.cdf AS cdf_b
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


DRIFT_T = 0.023  # fixture-scale threshold; reference uses 0.5 (operator default)


def q_drift_flagged_groups(spark, sf_dir):
    """evaluate_distribution flag rule (reference
    R/evaluate_distribution.R:86-147): a group fails when its KS distance
    exceeds the threshold against ALL other groups (min over its pairs).
    Composes the distributed pairwise KS with drift_flags."""
    from inspectehr_spark.operators.distribution import drift_flags, ks_pairwise

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return drift_flags(ks_pairwise(ev, "event_type", "value"), threshold=DRIFT_T)


SQL_DRIFT_FLAGGED_GROUPS = f"""
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
),
ks AS (
  SELECT group_a, group_b, ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat
  FROM stepped GROUP BY group_a, group_b
),
sym AS (
  SELECT group_a AS g, ks_stat AS s FROM ks
  UNION ALL
  SELECT group_b, ks_stat FROM ks
)
SELECT g AS "group", MIN(s) AS min_ks FROM sym
GROUP BY g HAVING MIN(s) > {DRIFT_T}
"""


def q_chronology_decomposed(spark, sf_dir):
    """evaluate_chronology + decompose_chronology (reference
    R/evaluate_chronology.R:30-99,118-159): pivot first-event times per
    user into the life-course order signup → view → purchase, melt, flag
    inversions with one lead window, then re-join the violating
    (user, concept) pairs to the core events for per-event failure rows."""
    from inspectehr_spark.operators.windows import (
        chronology_violations,
        decompose_chronology,
    )

    ev = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    et = F.col("event_type")
    wide = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(et == t, ts_us)).alias(t)
            for t in ("signup", "view", "purchase")
        ]
    )
    melted = wide.selectExpr(
        "user_id",
        "stack(3, 1, 'signup', signup, 2, 'view', view, 3, 'purchase', purchase)"
        " AS (order_key, event_type, first_us)",
    )
    viol = chronology_violations(melted, "user_id", "order_key", "first_us")
    return decompose_chronology(viol, ev, "user_id", "event_type").select(
        "event_id", "user_id", "event_type", "eval_code"
    )


SQL_CHRONOLOGY_DECOMPOSED = """
WITH wide AS (
  SELECT user_id,
    min(CASE WHEN event_type='signup' THEN epoch_us(ts) END) AS signup,
    min(CASE WHEN event_type='view' THEN epoch_us(ts) END) AS view,
    min(CASE WHEN event_type='purchase' THEN epoch_us(ts) END) AS purchase
  FROM events GROUP BY user_id
),
melted AS (
  SELECT user_id, 1 AS order_key, 'signup' AS event_type, signup AS first_us FROM wide
  UNION ALL
  SELECT user_id, 2, 'view', view FROM wide
  UNION ALL
  SELECT user_id, 3, 'purchase', purchase FROM wide
),
viol AS (
  SELECT DISTINCT user_id, event_type FROM (
    SELECT user_id, event_type, first_us,
           LEAD(first_us) OVER (PARTITION BY user_id ORDER BY order_key) AS nxt
    FROM melted
  ) WHERE nxt IS NOT NULL AND first_us > nxt
)
SELECT e.event_id, e.user_id, e.event_type, 'VE_TP_02' AS eval_code
FROM events e JOIN viol v ON e.user_id = v.user_id AND e.event_type = v.event_type
"""


MINHASH_NUM, MINHASH_BANDS = 16, 4


def q_minhash_band_signature(spark, sf_dir):
    """MinHash banded signature with ENGINE-REPLAYABLE hashes: h_i(gram) =
    md5(gram || '|i'), signature element = lexicographic min per i, band
    hash = md5 of its 4 concatenated elements. The signature and band keys
    are dedup.minhash_signature / dedup.minhash_band_hashes with
    hash_fn="md5" — the construction dedup.minhash_lsh_duplicates runs —
    so this gives the dedup path a full DuckDB value oracle. Docs with < 3
    tokens have no shingles and are absent (both engines)."""
    from inspectehr_spark.operators.dedup import (
        minhash_band_hashes,
        minhash_signature,
    )

    docs = _t(spark, sf_dir, "documents")
    bands = minhash_band_hashes("_sig", MINHASH_NUM, MINHASH_BANDS, "md5")
    return minhash_signature(docs, MINHASH_NUM, "md5").select(
        "doc_id", F.explode(bands).alias("f")
    ).select(
        "doc_id", F.col("f.band_id").cast("long").alias("band_id"),
        F.col("f.band_hash").alias("band_hash"),
    )


def _minhash_sql() -> str:
    per_band = MINHASH_NUM // MINHASH_BANDS
    hs = ",\n    ".join(
        f"list_min(list_transform(g, x -> md5(x || '|{i}'))) AS h{i}"
        for i in range(MINHASH_NUM)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, CAST({b} AS BIGINT) AS band_id, "
        f"md5({'||'.join(f'h{b * per_band + j}' for j in range(per_band))}) AS band_hash FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(l) - 2),
                        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g
  FROM toks WHERE len(l) >= 3
),
sig AS (
  SELECT doc_id,
    {hs}
  FROM grams
)
{bands}
"""


SQL_MINHASH_BAND_SIGNATURE = _minhash_sql()


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (SURVEY §8 similarity-search scale path #2, beside
    hyperplane LSH): per-label centroid quantizer → assign → probe the 3
    cells nearest the vec_id=0 query → exact cosine top-10 inside.
    Fully SQL-expressible (unlike the xxhash64 LSH variant) → value
    oracle."""
    from inspectehr_spark import ann

    emb = _t(spark, sf_dir, "embeddings")
    cents = ann.label_centroids(emb)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann.ivf_topk(emb, cents, qv, k=10, nprobe=3)


SQL_IVF_TOPK = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT label, unnest(generate_series(1, len(v))) AS pos,
         unnest(v) AS x
  FROM e
),
cent0 AS (SELECT label AS cid, pos, ROUND(AVG(x), 6) AS m FROM dims GROUP BY 1, 2),
cent AS (SELECT cid, list(m ORDER BY pos) AS c FROM cent0 GROUP BY cid),
asg AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
  FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROUND(list_dot_product(e.v, c.c)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.c, c.c))), 6) AS cos
    FROM e CROSS JOIN cent c
  )
),
assigned AS (SELECT vec_id, v, cid FROM asg WHERE rk = 1),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probes AS (
  SELECT cid FROM (
    SELECT c.cid,
           ROW_NUMBER() OVER (ORDER BY ROUND(list_dot_product(q.qv, c.c)
             / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.c, c.c))), 6) DESC, c.cid) AS rk
    FROM cent c, q
  ) WHERE rk <= 3
),
cands AS (SELECT a.vec_id, a.v FROM assigned a SEMI JOIN probes p ON a.cid = p.cid)
SELECT vec_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
FROM cands, q
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


def q_bpe_token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish token counts per document (SURVEY §8 text
    analysis: token counting 'whitespace + a BPE-ish regex'). Both native
    expressions — regexp_count stays in codegen."""
    from inspectehr_spark.functions.textfns import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_ws_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


SQL_BPE_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, bucketed by cluster cell (SURVEY §8
    dedup modality #5): candidates share a cell, exact cosine >= 0.35
    verifies inside the cell only — never all-pairs. The per-cell cap
    (lowest-id keep, VERDICT r2 #2) bounds within-cell O(cell²) work; it is
    mirrored in the oracle via ROW_NUMBER so the cap semantics themselves
    are value-checked, not just the uncapped happy path.

    Engine = "arrow" (per-cell blocked float64 GEMM) — the scale path IS
    the registry path (VERDICT r4: the interpreted HOF left-fold cosine
    was the one remaining registry scale-killer, 67.8 s at sf1 vs 4.5 s
    arrow for identical pairs). The DuckDB oracle's left-fold arithmetic
    still hash-matches because cosines are rounded to 6dp before the
    threshold compare: BLAS vs left-fold summation differs only in the
    last ulp, far inside the rounding grid off the exact boundary —
    asserted pair-for-pair WITH 6dp cosines against the sql engine in
    tests/test_operators.py::test_near_dup_engines_agree and re-verified
    at sf0.001/0.01/0.1/staged-sf1. The sql engine survives as that
    parity baseline only, out of every registry plan."""
    from inspectehr_spark.ann import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.35, bucket_col="label", bucket_cap=2000,
        engine="arrow",
    )


SQL_EMBEDDING_NEAR_DUP = """
WITH capped AS (
  SELECT vec_id, label, embedding FROM (
    SELECT vec_id, label, embedding,
           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings
  ) WHERE rn <= 2000
),
e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM capped
)
SELECT vec_id_a, vec_id_b, cos_sim FROM (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos_sim >= 0.35
"""


EPISODE_QUERIES = {
    "minhash_band_signature": (q_minhash_band_signature, SQL_MINHASH_BAND_SIGNATURE),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "bpe_token_counts": (q_bpe_token_counts, SQL_BPE_TOKEN_COUNTS),
    "episode_table": (q_episode_table, SQL_EPISODE_TABLE),
    "comparison_failures": (q_comparison_failures, SQL_COMPARISON_FAILURES),
    "tod_bounds_fail": (q_tod_bounds_fail, SQL_TOD_BOUNDS_FAIL),
    "tod_ks_drift": (q_tod_ks_drift, SQL_TOD_KS_DRIFT),
    "drift_flagged_groups": (q_drift_flagged_groups, SQL_DRIFT_FLAGGED_GROUPS),
    "chronology_decomposed": (q_chronology_decomposed, SQL_CHRONOLOGY_DECOMPOSED),
    "episode_invalid_records": (q_episode_invalid_records, SQL_EPISODE_INVALID_RECORDS),
    "origin_failures": (q_origin_failures, SQL_ORIGIN_FAILURES),
    "monthly_blacklist": (q_monthly_blacklist, SQL_MONTHLY_BLACKLIST),
}
