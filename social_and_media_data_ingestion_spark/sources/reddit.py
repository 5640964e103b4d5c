"""Reddit submission/comment extraction pipelines.

Re-expression of the reference's flagship path (SURVEY §3.1;
reddit_subm_extraction.py, reddit_comm_extraction.py) as a declarative
Spark plan:

    zst-NDJSON scan (JVM codec, PERMISSIVE + corrupt-record column)
      -> validity split (bad JSON, unparseable created_utc)
      -> broadcast left-semi join on lowered subreddit allowlist
      -> substring keyword any-match on text fields
      -> fixed-field projection with ""-defaults
      -> observe() counters (total / bad / matched — ref's :71,95 metrics)

The whole plan is map-only + one broadcast: shuffle-free, so it scales
linearly with input files. `.zst` is non-splittable (1 task/file) — the
reference had the identical parallelism model (1 process/file); for
100 TB landings call io.landing_to_parquet first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from social_and_media_data_ingestion_spark.io import (
    landing_to_parquet,
    read_ndjson,
    split_corrupt,
)
from social_and_media_data_ingestion_spark.schemas import CORRUPT_COL
from social_and_media_data_ingestion_spark.operators.filters import (
    isin_lowered,
    semi_join_lowered,
)
from social_and_media_data_ingestion_spark.operators.keyword_match import (
    auto_contains_any,
)
from social_and_media_data_ingestion_spark.operators.projections import (
    project_fields_defaulted,
)
from social_and_media_data_ingestion_spark.schemas import (
    REDDIT_COMMENT,
    REDDIT_COMMENT_FIELDS,
    REDDIT_SUBMISSION,
    REDDIT_SUBMISSION_FIELDS,
)

# Threshold below which an allowlist is inlined as an isin() literal
# instead of a broadcast semi-join.
_ISIN_MAX = 1000


def _apply_allowlist(
    df: DataFrame, key: str, allowlist: DataFrame | Sequence[str]
) -> DataFrame:
    if isinstance(allowlist, DataFrame):
        return semi_join_lowered(df, key, allowlist, allowlist.columns[0])
    values = [v for v in allowlist if v is not None]
    if len(values) <= _ISIN_MAX:
        return df.filter(isin_lowered(key, values))
    dim = df.sparkSession.createDataFrame([(v,) for v in values], ["v"])
    return semi_join_lowered(df, key, dim, "v")


def _extract(
    spark: SparkSession,
    input_path: str | list[str],
    allowlist: DataFrame | Sequence[str],
    keywords: Sequence[str],
    schema,
    fields: list[str],
    subreddit_col: str,
    text_cols: list[str],
    landing_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared submission/comment plan. Returns (matched, bad).

    landing_dir: when set, the non-splittable NDJSON(.zst) input is first
    recompressed to splittable parquet under this directory (good/ +
    bad/) via landing_to_parquet, and the filter/project plan runs over
    the parquet. This is the default posture for multi-TB landings:
    without it, scan parallelism is capped at the .zst FILE COUNT (zstd
    is non-splittable — SCALE.md), which silently dominates wall-time
    when files are few and large."""
    # created_utc must parse as an integer; rows where it doesn't are bad
    # (same skip semantics as the reference's int() + except path). A bad
    # row's _corrupt_record is its raw line, or for a parsed row with a
    # bad created_utc, the row re-serialized as JSON.
    has_ts = F.col("created_utc").try_cast("long").isNotNull()
    cols = [f.name for f in schema.fields if f.name != CORRUPT_COL]
    as_json = F.to_json(F.struct(*cols))
    if landing_dir is not None:
        good_path, bad_path = f"{landing_dir}/good", f"{landing_dir}/bad"
        landing_to_parquet(spark, input_path, schema, good_path, bad_dst=bad_path)
        good_schema = T.StructType([schema[c] for c in cols])
        good = spark.read.schema(good_schema).parquet(good_path)
        bad = (
            spark.read.schema(schema)
            .parquet(bad_path)
            .select(*cols, CORRUPT_COL)
            .unionByName(good.filter(~has_ts).withColumn(CORRUPT_COL, as_json))
        )
    else:
        raw = read_ndjson(spark, input_path, schema)
        good, _ = split_corrupt(raw)
        # one filter over the parsed scan: the input is decompressed and
        # parsed once for the bad rows
        bad = raw.filter(F.col(CORRUPT_COL).isNotNull() | ~has_ts).select(
            *cols, F.coalesce(F.col(CORRUPT_COL), as_json).alias(CORRUPT_COL)
        )
    valid = good.filter(has_ts)
    matched = _apply_allowlist(valid, subreddit_col, allowlist).filter(
        auto_contains_any(text_cols, list(keywords))
    )
    return project_fields_defaulted(matched, fields), bad


def extract_submissions(
    spark: SparkSession,
    input_path: str | list[str],
    subreddits: DataFrame | Sequence[str],
    keywords: Sequence[str],
    landing_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(matched submissions projected to FIELDS, bad-row side output).
    Pass landing_dir for multi-file/multi-TB .zst inputs — stages to
    splittable parquet first so parallelism isn't capped at file count."""
    return _extract(
        spark,
        input_path,
        subreddits,
        keywords,
        REDDIT_SUBMISSION,
        REDDIT_SUBMISSION_FIELDS,
        "subreddit",
        ["title", "selftext"],
        landing_dir=landing_dir,
    )


def extract_comments(
    spark: SparkSession,
    input_path: str | list[str],
    subreddits: DataFrame | Sequence[str],
    keywords: Sequence[str],
    landing_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(matched comments projected to FIELDS, bad-row side output).
    Pass landing_dir for multi-file/multi-TB .zst inputs (see
    extract_submissions)."""
    return _extract(
        spark,
        input_path,
        subreddits,
        keywords,
        REDDIT_COMMENT,
        REDDIT_COMMENT_FIELDS,
        "subreddit",
        ["body"],
        landing_dir=landing_dir,
    )


def with_scan_metrics(df: DataFrame, observation) -> DataFrame:
    """Attach observe() counters (total rows, corrupt rows) to a scan.
    `observation` is a pyspark.sql.Observation; after an action,
    `observation.get` returns the counts. Replaces the reference's
    every-100k-lines progress counters with zero-cost accumulators."""
    from social_and_media_data_ingestion_spark.schemas import CORRUPT_COL

    cols = [F.count(F.lit(1)).alias("n_total")]
    if CORRUPT_COL in df.columns:
        cols.append(
            F.count(F.when(F.col(CORRUPT_COL).isNotNull(), 1)).alias("n_bad")
        )
    return df.observe(observation, *cols)
