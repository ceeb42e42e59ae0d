"""Scalar-function family queries (SURVEY §2.8).

Each family the reference exercises (string build, RFC3339 time math,
offset arithmetic, casts, JSON, null handling) plus the [EXT] array
and map families. The DuckDB oracle is written as the *simplest SQL
producing the same values* — it validates results, not syntax parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load



# -- string family (type-name build, message formatting; README.md:58,:73)
@query(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           substr(p_type, 1, 5) AS type_prefix,
           split_part(p_name, ' ', 1) AS first_word,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           ltrim(rtrim(' ' || p_brand || ' ')) AS brand_trim
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.replace(
            F.col("p_brand"), F.lit("Brand#"), F.lit("B")
        ).alias("brand_short"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias(
            "brand_trim"
        ),
    )


# -- date/time family (RFC3339 parse/format, now−duration; README.md:60)
@query(
    "q_time_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(day(o_orderdate) AS BIGINT) AS dy,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           strftime(o_orderdate, '%Y-%m-%d') AS date_str,
           epoch_us(o_orderdate) AS epoch_us,
           o_orderdate + INTERVAL 90 DAY AS due_date
    FROM orders
    """,
)
def q_time_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("o_orderdate")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dy"),
        F.date_trunc("month", d).alias("month_start"),
        F.date_format(d, "yyyy-MM-dd").alias("date_str"),
        # parquet TIMESTAMP_NTZ → cast to LTZ (session tz is UTC) for epoch
        F.unix_micros(d.cast("timestamp")).alias("epoch_us"),
        (d + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
    )


# -- math family (offset arithmetic; server.go:332) --------------------
@query(
    "q_math_funcs",
    oracle="""
    SELECT o_orderkey,
           abs(o_totalprice - 100000) AS dist_from_100k,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           o_orderkey % 7 AS key_mod,
           greatest(o_orderkey % 7, o_orderkey % 5) AS g,
           least(o_orderkey % 7, o_orderkey % 5) AS l,
           CAST(sqrt(CAST(o_orderkey AS DOUBLE)) AS DOUBLE) AS key_sqrt
    FROM orders
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("o_orderkey")
    p = F.col("o_totalprice")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.abs(p - 100000).alias("dist_from_100k"),
        F.floor(p).alias("price_floor"),
        F.ceil(p).alias("price_ceil"),
        (k % 7).alias("key_mod"),
        F.greatest(k % 7, k % 5).alias("g"),
        F.least(k % 7, k % 5).alias("l"),
        F.sqrt(k.cast("double")).alias("key_sqrt"),
    )


# -- casts (offset int ↔ string id; main.go:113, server.go:272-276) ----
@query(
    "q_casts",
    oracle="""
    SELECT event_id,
           CAST(event_id AS VARCHAR) AS id_str,
           TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS id_roundtrip,
           TRY_CAST(event_type AS BIGINT) AS bad_cast,
           CAST(TRY_CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value_4dp,
           CAST(user_id AS INTEGER) AS user_int
    FROM events
    """,
)
def q_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failed string→int casts map to NULL (the reference's HTTP-400
    path for non-numeric ids) via try_cast, never a query abort."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_id").cast("string").alias("id_str"),
        F.col("event_id").cast("string").try_cast("bigint").alias("id_roundtrip"),
        F.col("event_type").try_cast("bigint").alias("bad_cast"),
        F.col("value").cast("decimal(18,4)").cast("double").alias("value_4dp"),
        F.col("user_id").cast("integer").alias("user_int"),
    )


# -- null handling (nullable entity refs; README.md:66-72) -------------
@query(
    "q_null_funcs",
    oracle="""
    SELECT event_id,
           coalesce(nullif(event_type, 'error'), '(masked)') AS masked_type,
           (event_type = 'error') AS is_error,
           CASE WHEN nullif(event_type, 'error') IS NULL
                THEN -1 ELSE user_id END AS user_or_sentinel,
           ifnull(nullif(user_id, 0), -99) AS nonzero_user
    FROM events
    """,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    et = F.col("event_type")
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(F.nullif(et, F.lit("error")), F.lit("(masked)")).alias(
            "masked_type"
        ),
        (et == "error").alias("is_error"),
        F.when(F.nullif(et, F.lit("error")).isNull(), F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("user_or_sentinel"),
        F.nvl(F.nullif(F.col("user_id"), F.lit(0)), F.lit(-99)).alias(
            "nonzero_user"
        ),
    )


# -- array family [EXT] (embedding ops) --------------------------------
@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(list_sum(list_transform(embedding[1:8],
                x -> CAST(x AS DOUBLE))) AS DOUBLE) AS head_sum,
           CAST(list_max(list_transform(embedding,
                x -> CAST(x AS DOUBLE))) AS DOUBLE) AS max_val
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = F.col("embedding")
    # list_sum parity: DuckDB skips NULL elements and returns NULL for
    # an empty (or all-NULL) list; a plain fold would 0.0 the empty
    # case and NULL-poison on any NULL element. try_element_at: ANSI
    # element_at would *throw* on an empty array where SQL yields NULL.
    head = F.filter(F.slice(emb, 1, 8), lambda x: x.isNotNull())
    head_sum = F.when(
        F.size(head) > 0,
        F.aggregate(
            head, F.lit(0.0).cast("double"), lambda a, x: a + x.cast("double")
        ),
    )
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(emb).cast("bigint").alias("dim"),
        F.try_element_at(emb, F.lit(1)).cast("double").alias("first_val"),
        head_sum.alias("head_sum"),
        F.array_max(emb).cast("double").alias("max_val"),
    )


# -- map family [EXT] (props as map) -----------------------------------
@query(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           event_type AS m_type,
           CAST(user_id AS VARCHAR) AS m_user,
           2 AS m_size
    FROM events
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map column, then read it back via map functions; the
    oracle checks the extracted values directly."""
    ev = load(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("user"),
        F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("m_type"),
        F.element_at(m, "user").alias("m_user"),
        F.size(m).alias("m_size"),
    )


# -- JSON extraction over dynamic props (P8; README.md:84-86) ----------
@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                           '^-?[0-9]+$')
                THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS k_num,
           json_extract_string(props, '$.missing') AS missing
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_num"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


# -- bitwise family (offset/segment arithmetic is bit math at scale:
#    partition ids, hash buckets, simhash fingerprints)
@query(
    "q_bitwise_funcs",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 15 AS with_flags,
           xor(event_id, 6148914691236517205) AS toggled,
           event_id << 3 AS shifted_up,
           event_id >> 2 AS shifted_down,
           CAST(bit_count(event_id) AS BIGINT) AS popcount,
           ~event_id AS complement
    FROM events
    """,
)
def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family: and/or/xor/shifts/popcount/complement —
    the arithmetic under hash bucketing, simhash and salted keys. All
    codegen; one projection over the scan."""
    ev = load(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ev.select(
        "event_id",
        eid.bitwiseAND(F.lit(255)).alias("low_byte"),
        eid.bitwiseOR(F.lit(15)).alias("with_flags"),
        eid.bitwiseXOR(F.lit(6148914691236517205)).alias("toggled"),
        F.shiftleft(eid, 3).alias("shifted_up"),
        F.shiftright(eid, 2).alias("shifted_down"),
        F.bit_count(eid).cast("bigint").alias("popcount"),
        F.bitwise_not(eid).alias("complement"),
    )
