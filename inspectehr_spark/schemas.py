"""Output-contract StructTypes.

The reference enforces exact output schemas on every check
(`is_event_evaluation`, reference R/utils.R:485-514; the 6-col missing
schema, R/utils.R:517-545). We do the same with fixed StructTypes: every
check returns a failure log in FAILURE_LOG schema; aggregate metrics land in
METRICS; keep/drop decisions in DECISION. Uniform schemas are what make the
union-of-checks + anti-join architecture work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Per-(document, check) failure record — analog of `events_quality`
# (reference R/evaluate_events.R:95-105).
FAILURE_LOG = StructType(
    [
        StructField("source", StringType()),
        StructField("url", StringType()),
        StructField("doc_id", LongType()),
        StructField("check_code", StringType()),
        StructField("value", StringType()),
        StructField("eval_code", StringType()),
        StructField("description", StringType()),
    ]
)

# Per-(source, check, partition) aggregate metrics — analog of
# `events_missing` + the score tables (reference R/quality_score.R:47-128).
METRICS = StructType(
    [
        StructField("source", StringType()),
        StructField("check_code", StringType()),
        StructField("partition_id", StringType()),
        StructField("n_checked", LongType()),
        StructField("n_failed", LongType()),
        StructField("eval_code", StringType()),
        StructField("description", StringType()),
    ]
)

# Keep/drop decision — keep == absent from the failure log (anti-join
# semantics, reference R/quality_score.R:30-31,103-105).
DECISION = StructType(
    [
        StructField("url", StringType()),
        StructField("keep", BooleanType()),
        StructField("first_fail_code", StringType()),
        StructField("scrubbed_text", StringType()),
    ]
)

# Per-(group, category, month) missing-contribution record — the uniform
# 6-col missing-log schema (reference `events_missing`,
# R/evaluate_events.R:108-117; asserted R/utils.R:517-545).
MISSING_LOG = StructType(
    [
        StructField("source", StringType()),
        StructField("category", StringType()),
        StructField("year", LongType()),
        StructField("month", LongType()),
        StructField("eval_code", StringType()),
        StructField("description", StringType()),
    ]
)

FAILURE_COLS = [f.name for f in FAILURE_LOG.fields]
MISSING_COLS = [f.name for f in MISSING_LOG.fields]


def make_missing_log(
    missing: DataFrame,
    eval_code: str,
    description: str,
    source_col: str = "source",
    category_col: str = "category",
    month_col: str = "month_start",
) -> DataFrame:
    """Project missingness rows onto the uniform MISSING_LOG schema —
    analog of create_missing_log (reference R/evaluate_events.R:173-189):
    stamp eval_code/description, split the month key into (year, month).
    Missing key columns become NULL so global (no month) and local
    (monthly) missingness union cleanly."""
    cols = set(missing.columns)

    def col_or_null(name: str, cast: str):
        return F.col(name).cast(cast) if name in cols else F.lit(None).cast(cast)

    has_month = month_col in cols
    return missing.select(
        col_or_null(source_col, "string").alias("source"),
        col_or_null(category_col, "string").alias("category"),
        (F.year(month_col).cast("long") if has_month else F.lit(None).cast("long")).alias("year"),
        (F.month(month_col).cast("long") if has_month else F.lit(None).cast("long")).alias("month"),
        F.lit(eval_code).alias("eval_code"),
        F.lit(description).alias("description"),
    )


def make_failure_log(
    failures: DataFrame,
    check_code: str,
    eval_code: str,
    description: str,
    value_col: str = "value",
    url_col: str = "url",
    doc_id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Project an arbitrary DataFrame of failing rows onto FAILURE_LOG.

    Analog of `create_failure_log` (reference R/evaluate_events.R:137-154):
    select key columns, cast the offending value to string, stamp the check.
    Missing key columns become NULL so heterogeneous checks union cleanly.
    """
    cols = set(failures.columns)

    def col_or_null(name: str, cast: str):
        return (F.col(name).cast(cast) if name in cols else F.lit(None).cast(cast))

    return failures.select(
        col_or_null(source_col, "string").alias("source"),
        col_or_null(url_col, "string").alias("url"),
        col_or_null(doc_id_col, "long").alias("doc_id"),
        F.lit(check_code).alias("check_code"),
        col_or_null(value_col, "string").alias("value"),
        F.lit(eval_code).alias("eval_code"),
        F.lit(description).alias("description"),
    )
