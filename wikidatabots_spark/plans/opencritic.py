"""The reference's two OpenCritic pipelines, Spark-first.

Shape (wd_opencritic.py:82-221): wd side = SPARQL frame → drop items with
duplicate rows (unique keep="none", :86) → qid extract via literal-prefix
strip (:89) → casts (score string→int, ISO date parse, reviews→int,
:92-94) → prefix every column ``wd_`` (:96); api side = parquet scan →
prefix ``api_`` (:136-138); left join ``wd_opencritic_id = api_id`` with
key coalescing (:141-147); then two sibling flows:

- **add** (:148-159): no existing statement, api has a score, enough
  reviews → render an add-statement template.
- **update** (:161-211, :100-128): statement exists and the rendered
  values actually changed beyond thresholds → render an update template
  via when/then/otherwise.

Each flow is a condition and a rendered statement (``add_condition`` /
``add_statement``, ``update_condition`` / ``update_statement``), shared by
the two registered flows and by ``plans.mains.opencritic_main_frame``,
which renders both over one join.

Scale notes: both filters are pure Column predicates evaluated post-join;
Catalyst pushes the single-side conjuncts (statement null-ness, api score
null-ness) below the join into the scans. The api side is a dimension
table → broadcast-joinable; AQE does this automatically at runtime size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.functions.core import pl_format, prefix_columns, unique_keep_none
from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table

NUM_REVIEWS_THRESHOLD = 10  # wd_opencritic.py:7

ENTITY_PREFIX = "http://www.wikidata.org/entity/"


def opencritic_joined(wd: DataFrame, api: DataFrame) -> DataFrame:
    """Common prefix: normalize wd side, prefix both, left-join.

    wd columns:  item STRING (entity URI), opencritic_id BIGINT,
                 statement STRING?, review_score STRING?,
                 point_in_time STRING?, number_of_reviews DOUBLE?
    api columns: id BIGINT, top_critic_score DOUBLE,
                 percent_recommended DOUBLE, num_reviews BIGINT,
                 latest_review_date DATE, retrieved_at TIMESTAMP
    """
    wd2 = unique_keep_none(wd, "item").withColumns(
        {
            "qid": F.replace(F.col("item"), F.lit(ENTITY_PREFIX), F.lit("")),
            "review_score": F.col("review_score").try_cast("int"),
            "point_in_time": F.to_date(F.col("point_in_time")),
            "number_of_reviews": F.col("number_of_reviews").try_cast("int"),
        }
    )
    wd2 = prefix_columns(wd2, "wd_")
    api2 = prefix_columns(api, "api_")
    return wd2.join(
        api2, on=F.col("wd_opencritic_id") == F.col("api_id"), how="left"
    ).drop("api_id")


def _score() -> Column:
    return F.round(F.col("api_top_critic_score"), 0).cast("int")


def _day() -> Column:
    return F.date_format(F.to_date(F.col("api_retrieved_at")), "yyyy-MM-dd")


def add_condition() -> Column:
    """Rows of the add-score flow (wd_opencritic.py:148-159): no existing
    statement, an api score, enough reviews."""
    return (
        F.col("wd_statement").isNull()
        & F.col("api_top_critic_score").isNotNull()
        & (F.col("api_num_reviews") > F.lit(NUM_REVIEWS_THRESHOLD))
    )


def add_statement() -> Column:
    return pl_format(
        'wd:{} p:P8865 [ ps:P8865 {} ; pq:P585 "{}" ] .',
        F.col("wd_qid"),
        _score(),
        _day(),
    )


def update_condition() -> Column:
    """Rows of the update-score flow with change detection
    (wd_opencritic.py:161-211): a statement exists, and the rounded api
    score differs from the recorded one or the review count grew beyond
    the threshold (+10 hysteresis, wd_opencritic.py:164-167,
    ``_NUM_REVIEWS_THRESHOLD`` :7)."""
    new_score = _score()
    changed = (new_score != F.col("wd_review_score")) | (
        F.col("api_num_reviews") > (F.col("wd_number_of_reviews") + F.lit(10))
    )
    return (
        F.col("wd_statement").isNotNull()
        & F.col("api_top_critic_score").isNotNull()
        & F.col("wd_review_score").isNotNull()
        & (F.col("api_num_reviews") > F.lit(NUM_REVIEWS_THRESHOLD))
        & changed
    )


def update_statement() -> Column:
    """The raise-vs-lower conditional template (wd_opencritic.py:100-128)."""
    new_score = _score()
    day = _day()
    return F.when(
        new_score > F.col("wd_review_score"),
        pl_format(
            'wds:{} ps:P8865 {} ; pq:P585 "{}" . # raise',
            F.col("wd_statement"),
            new_score,
            day,
        ),
    ).otherwise(
        pl_format(
            'wds:{} ps:P8865 {} ; pq:P585 "{}" . # lower',
            F.col("wd_statement"),
            new_score,
            day,
        )
    )


def opencritic_add(wd: DataFrame, api: DataFrame) -> DataFrame:
    """Add-score flow (wd_opencritic.py:148-159)."""
    return (
        opencritic_joined(wd, api)
        .where(add_condition())
        .select(add_statement().alias("rdf_statement"))
    )


def opencritic_update(wd: DataFrame, api: DataFrame) -> DataFrame:
    """Update-score flow (wd_opencritic.py:161-211)."""
    return (
        opencritic_joined(wd, api)
        .where(update_condition())
        .select(update_statement().alias("rdf_statement"))
    )


# ---------------------------------------------------------------------------
# Fixture wiring (FIXTURES.md §6: lineitem plays the SPARQL side, part the
# api parquet side)
# ---------------------------------------------------------------------------


def _wd_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(
            F.lit(ENTITY_PREFIX), F.lit("Q"), F.col("l_orderkey").cast("string")
        ).alias("item"),
        F.col("l_partkey").alias("opencritic_id"),
        F.when(
            F.col("l_returnflag") == "A",
            F.concat(F.lit("Q"), F.col("l_orderkey").cast("string"), F.lit("$S")),
        ).alias("statement"),
        F.when(
            F.col("l_linestatus") == "F", (F.col("l_linenumber") * 10).cast("string")
        ).alias("review_score"),
        F.date_format(F.col("l_shipdate"), "yyyy-MM-dd").alias("point_in_time"),
        F.col("l_quantity").alias("number_of_reviews"),
    )


_WD_FIXTURE_SQL = """
    SELECT 'http://www.wikidata.org/entity/Q' || l_orderkey AS item,
           l_partkey AS opencritic_id,
           CASE WHEN l_returnflag = 'A'
                THEN 'Q' || l_orderkey || '$S' END AS statement,
           CASE WHEN l_linestatus = 'F'
                THEN CAST(l_linenumber * 10 AS VARCHAR) END AS review_score,
           strftime(l_shipdate, '%Y-%m-%d') AS point_in_time,
           l_quantity AS number_of_reviews
    FROM lineitem
"""


def _api_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("id"),
        (F.col("p_retailprice") / 10.0).alias("top_critic_score"),
        (F.col("p_size") * 3.5).alias("percent_recommended"),
        F.col("p_size").cast("bigint").alias("num_reviews"),
        F.to_date(F.lit("2024-06-01")).alias("latest_review_date"),
        F.to_timestamp(F.lit("2024-06-02 03:04:05")).alias("retrieved_at"),
    )


_API_FIXTURE_SQL = """
    SELECT p_partkey AS id,
           p_retailprice / 10.0 AS top_critic_score,
           p_size * 3.5 AS percent_recommended,
           CAST(p_size AS BIGINT) AS num_reviews,
           DATE '2024-06-01' AS latest_review_date,
           TIMESTAMP '2024-06-02 03:04:05' AS retrieved_at
    FROM part
"""

_JOINED_SQL = f"""
wd AS ({_WD_FIXTURE_SQL}),
wd_dedup AS (
    SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY item) AS cnt FROM wd
    ) WHERE cnt = 1
),
wd2 AS (
    SELECT replace(item, 'http://www.wikidata.org/entity/', '') AS wd_qid,
           item AS wd_item,
           opencritic_id AS wd_opencritic_id,
           statement AS wd_statement,
           TRY_CAST(review_score AS INT) AS wd_review_score,
           TRY_CAST(point_in_time AS DATE) AS wd_point_in_time,
           TRY_CAST(number_of_reviews AS INT) AS wd_number_of_reviews
    FROM wd_dedup
),
api AS ({_API_FIXTURE_SQL}),
api2 AS (
    SELECT id AS api_id, top_critic_score AS api_top_critic_score,
           percent_recommended AS api_percent_recommended,
           num_reviews AS api_num_reviews,
           latest_review_date AS api_latest_review_date,
           retrieved_at AS api_retrieved_at
    FROM api
),
j AS (
    SELECT * FROM wd2 LEFT JOIN api2 ON wd_opencritic_id = api_id
)
"""

_OPENCRITIC_ADD_ORACLE = f"""
WITH {_JOINED_SQL}
SELECT 'wd:' || wd_qid || ' p:P8865 [ ps:P8865 '
       || CAST(round(api_top_critic_score, 0) AS INT)
       || ' ; pq:P585 "' || strftime(CAST(api_retrieved_at AS DATE), '%Y-%m-%d')
       || '" ] .' AS rdf_statement
FROM j
WHERE wd_statement IS NULL
  AND api_top_critic_score IS NOT NULL
  AND api_num_reviews > 10
"""

_OPENCRITIC_UPDATE_ORACLE = f"""
WITH {_JOINED_SQL}
SELECT 'wds:' || wd_statement || ' ps:P8865 '
       || CAST(round(api_top_critic_score, 0) AS INT)
       || ' ; pq:P585 "' || strftime(CAST(api_retrieved_at AS DATE), '%Y-%m-%d')
       || '" . # '
       || CASE WHEN CAST(round(api_top_critic_score, 0) AS INT) > wd_review_score
               THEN 'raise' ELSE 'lower' END AS rdf_statement
FROM j
WHERE wd_statement IS NOT NULL
  AND api_top_critic_score IS NOT NULL
  AND wd_review_score IS NOT NULL
  AND api_num_reviews > 10
  AND (CAST(round(api_top_critic_score, 0) AS INT) != wd_review_score
       OR api_num_reviews > wd_number_of_reviews + 10)
"""


@register("opencritic_add", oracle=_OPENCRITIC_ADD_ORACLE)
def opencritic_add_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return opencritic_add(_wd_fixture(spark, sf_dir), _api_fixture(spark, sf_dir))


@register("opencritic_update", oracle=_OPENCRITIC_UPDATE_ORACLE)
def opencritic_update_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return opencritic_update(_wd_fixture(spark, sf_dir), _api_fixture(spark, sf_dir))
