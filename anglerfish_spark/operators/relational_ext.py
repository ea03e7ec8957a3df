"""Extended relational surface: pivot, explode/unnest, array aggregation,
distribution windows, string/math function inventory, scalar subqueries,
limit/offset, map-typed decode access.

Same design rules as ``relational.py``: built-ins only, deterministic
cross-engine semantics (no transcendentals whose libm results could differ;
no locale-dependent string ops), aggregates via the decimal contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import scratch_dir
from ..registry import query
from ..session import prepare
from ..sources.registry import Catalog, load_table
from .common import dsum, dsum_sql
from .text import TOKENS_SQL, tokens

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"]


def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    prepare(spark)
    return Catalog(spark, sf_dir)


@query(
    "q_pivot",
    oracle=f"""
SELECT o_orderstatus,
       {", ".join(
         f"CAST(SUM(CASE WHEN o_orderpriority = '{v}' THEN 1 ELSE 0 END) AS BIGINT) AS {a}"
         for v, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
       )}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    group="relational",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (priority values → columns).  Values are listed explicitly —
    at scale an unlisted pivot needs a distinct-value collect first, which
    is a full extra job; never do that implicitly."""
    c = _cat(spark, sf_dir)
    piv = (
        c.orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = piv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
            for v, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
        ],
    )
    return renamed.orderBy("o_orderstatus")


@query(
    "q_explode",
    oracle="""
SELECT t AS token, COUNT(*) AS cnt
FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      FROM documents)
GROUP BY t
ORDER BY cnt DESC, token
LIMIT 20
""",
    group="relational",
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode/unnest (lateral flatten) + top-20 token frequencies."""
    from .text import tokens

    c = _cat(spark, sf_dir)
    return (
        c.documents.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


@query(
    "q_collect",
    oracle="""
SELECT lang,
       list_sort(list(DISTINCT source)) AS sources,
       CAST(len(list(DISTINCT source)) AS INT) AS n_sources
FROM documents
GROUP BY lang
ORDER BY lang
""",
    group="relational",
)
def q_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_set sorted for a deterministic result
    (an unsorted collect is nondeterministic under parallelism — never
    emit one)."""
    c = _cat(spark, sf_dir)
    return (
        c.documents.groupBy("lang")
        .agg(
            F.array_sort(F.collect_set("source")).alias("sources"),
            F.size(F.collect_set("source")).alias("n_sources"),
        )
        .orderBy("lang")
    )


@query(
    "q_window_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       NTILE(4)        OVER w AS quartile,
       CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pct_rank,
       CUME_DIST()     OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
    group="relational",
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist) —
    deterministic because the window order has a unique tiebreaker."""
    c = _cat(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return c.orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q_string_funcs2",
    oracle="""
SELECT p_partkey,
       lpad(p_brand, 12, '*')                   AS brand_pad,
       translate(p_type, 'aeiou', 'AEIOU')      AS type_tr,
       CAST(instr(p_name, 'a') AS INT)          AS first_a,
       left(p_name, 4)                          AS name_l4,
       right(p_name, 3)                         AS name_r3,
       reverse(p_brand)                         AS brand_rev,
       repeat('-', p_size % 5)                  AS dashes,
       split_part(p_type, ' ', 1)               AS type_head
FROM part
ORDER BY p_partkey
""",
    group="relational",
)
def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function inventory: pad/translate/instr/left/right/
    reverse/repeat/split_part (locale-independent ops only)."""
    c = _cat(spark, sf_dir)
    return c.part.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.translate("p_type", "aeiou", "AEIOU").alias("type_tr"),
        F.instr("p_name", "a").cast("int").alias("first_a"),
        F.left(F.col("p_name"), F.lit(4)).alias("name_l4"),
        F.right(F.col("p_name"), F.lit(3)).alias("name_r3"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("-"), (F.col("p_size") % 5).cast("int")).alias("dashes"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@query(
    "q_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       sqrt(l_quantity)                          AS qty_sqrt,
       CAST(sign(l_discount - 0.05) AS DOUBLE)   AS disc_sign,
       greatest(l_tax, l_discount)               AS max_rate,
       least(l_tax, l_discount)                  AS min_rate,
       CAST(ceil(l_extendedprice) AS BIGINT)     AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT)    AS price_floor,
       l_quantity - 7 * CAST(floor(l_quantity / 7) AS DOUBLE) AS qty_mod7
FROM lineitem
WHERE l_orderkey < 1000
ORDER BY l_orderkey, l_linenumber
""",
    group="relational",
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math inventory limited to IEEE-exact ops (sqrt is correctly rounded;
    transcendentals are deliberately excluded — libm results differ across
    engines and would poison the value hash)."""
    c = _cat(spark, sf_dir)
    li = c.lineitem.where(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        (F.col("l_quantity") - 7 * F.floor(F.col("l_quantity") / 7).cast("double")).alias("qty_mod7"),
    )


@query(
    "q_scalar_subquery",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS cnt
FROM orders
WHERE o_totalprice > (SELECT {dsum_sql('o_totalprice')} / COUNT(*) FROM orders)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    group="relational",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: global mean computed once, broadcast
    back as a 1-row join (no driver-side scalar fetch)."""
    c = _cat(spark, sf_dir)
    avg = c.orders.agg(
        (dsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("_avg")
    )
    return (
        c.orders.join(F.broadcast(avg))
        .where(F.col("o_totalprice") > F.col("_avg"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("o_orderstatus")
    )


@query(
    "q_limit_offset",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_orderkey
LIMIT 100 OFFSET 50
""",
    group="relational",
)
def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination (unique sort key; offset+limit)."""
    c = _cat(spark, sf_dir)
    return (
        c.orders.select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(50)
        .limit(100)
    )


@query(
    "q_distinct_rows",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
    group="relational",
)
def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    return (
        c.lineitem.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "json_decode_map",
    oracle="""
SELECT event_id,
       CAST(len(json_keys(props)) AS INT) AS n_keys,
       CAST(props->>'$.k' AS BIGINT) AS k
FROM events
ORDER BY event_id
""",
    group="codec",
)
def json_decode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-level *map* decode (Avro map type: string keys, typed values) —
    the schema-directed alternative to a record when keys are open-ended."""
    from ..codec.decoder import decode_json

    prepare(spark)
    ev = load_table(spark, sf_dir, "events")
    out = decode_json(ev, "props", '{"type": "map", "values": "long"}', mode="strict")
    return out.select(
        "event_id",
        F.size(F.map_keys("decoded")).alias("n_keys"),
        F.element_at("decoded", "k").alias("k"),
    )


@query(
    "q_skew_salted_agg",
    oracle=f"""
SELECT event_type, COUNT(*) AS cnt, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    group="relational",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: a low-cardinality/skewed group
    key (5 event types over all rows) is salted with a deterministic
    16-way hash so the first shuffle spreads each hot key over 16
    partitions; the second, tiny aggregation merges the partials.  The
    decimal accumulation keeps the two-phase result bit-identical to the
    single-phase oracle."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events")
    salt = (F.col("event_id") % 16).alias("_salt")
    partial = (
        ev.select("event_type", "value", salt)
        .groupBy("event_type", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("_sum"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("_cnt").alias("cnt"),
            F.sum("_sum").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q_approx_distinct",
    oracle="""
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    group="relational",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HyperLogLog++): the cardinality
    sketch path for 100 TB (mergeable, fixed memory).  Sketch estimates are
    implementation-specific, so the oracle checks the *contract* instead of
    the estimate: the HLL++ answer must sit within 3×rsd of the exact
    count (deterministic — the sketch is a pure function of the data)."""
    prepare(spark)
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 3 * rsd * F.col("exact_parts")
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# round-1 widening: outer/cross joins, percentiles, window frames, listagg
# ---------------------------------------------------------------------------


@query(
    "q_join_full",
    oracle="""
WITH l AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0),
r AS (SELECT o_custkey, COUNT(*) AS n_big FROM orders
      WHERE o_totalprice > 250000 GROUP BY o_custkey)
SELECT COALESCE(l.c_custkey, r.o_custkey) AS custkey, l.c_acctbal, r.n_big
FROM l FULL JOIN r ON l.c_custkey = r.o_custkey
ORDER BY custkey
""",
    group="relational",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with genuine non-matches on both sides (negative
    balances vs big-ticket order counts)."""
    c = _cat(spark, sf_dir)
    left = c.customer.where(F.col("c_acctbal") < 0).select("c_custkey", "c_acctbal")
    right = (
        c.orders.where(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    return (
        left.join(right, left["c_custkey"] == right["o_custkey"], "full")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"), "c_acctbal", "n_big"
        )
        .orderBy("custkey")
    )


@query(
    "q_cross_join",
    oracle="""
SELECT r_name, s.o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
ORDER BY r_name, o_orderstatus
""",
    group="relational",
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (dimension grid) — both sides tiny; the
    only place a cross join belongs at scale."""
    c = _cat(spark, sf_dir)
    statuses = c.orders.select("o_orderstatus").distinct()
    return (
        c.region.select("r_name")
        .crossJoin(statuses)
        .orderBy("r_name", "o_orderstatus")
    )


@query(
    "q_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5)  AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       median(l_quantity) AS med
FROM lineitem GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    group="relational",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (type-7 quantile in both
    engines).  Deterministic here because l_quantity is integral and the
    requested fractions are dyadic, so the interpolation arithmetic is
    exact in doubles.  (At 100 TB you would reach for approx_percentile —
    exact percentile is a full sort per group; kept exact for the oracle.)"""
    c = _cat(spark, sf_dir)
    return (
        c.lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
            F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
            F.median("l_quantity").alias("med"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_window_range",
    oracle="""
SELECT event_id, user_id,
       CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER (
         PARTITION BY user_id
         ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS VARCHAR) AS DOUBLE) AS sum_1h
FROM events
ORDER BY event_id
""",
    group="relational",
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per-user trailing-1-hour sum keyed on floor
    epoch seconds.  Decimal-accumulated (the window sum stays exact and
    order-insensitive); RANGE peers make the result tie-stable by
    construction."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast("decimal(38,10)")).over(w).cast("double").alias("sum_1h"),
        )
    )  # no trailing sort: row-level output


@query(
    "q_window_first_last",
    oracle="""
WITH w AS (
  SELECT o_orderstatus,
         FIRST_VALUE(o_orderkey) OVER win AS top_key,
         LAST_VALUE(o_orderkey)  OVER win AS bottom_key,
         NTH_VALUE(o_orderkey, 3) OVER win AS third_key,
         ROW_NUMBER() OVER win AS rn
  FROM orders
  WINDOW win AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_orderstatus, top_key, bottom_key, third_key
FROM w WHERE rn = 1
ORDER BY o_orderstatus
""",
    group="relational",
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over a full-partition frame with a total order
    (price desc, key) — tie-stable across engines."""
    c = _cat(spark, sf_dir)
    full = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    seq = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        c.orders.select(
            "o_orderstatus",
            F.first("o_orderkey").over(full).alias("top_key"),
            F.last("o_orderkey").over(full).alias("bottom_key"),
            F.nth_value("o_orderkey", 3).over(full).alias("third_key"),
            F.row_number().over(seq).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_orderstatus")
    )


@query(
    "q_string_agg",
    oracle="""
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
    group="relational",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is order-nondeterministic
    under parallelism, so the engine sorts the collected array before
    joining — deterministic at any partition count."""
    c = _cat(spark, sf_dir)
    return (
        c.nation.join(F.broadcast(c.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
        .orderBy("r_name")
    )


@query(
    "q_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, metric, value
FROM (
  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
           FROM lineitem WHERE l_linenumber = 1)
  ON l_quantity, l_extendedprice, l_discount
  INTO NAME metric VALUE value
)
""",
    group="relational",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt): three measure columns become (metric,
    value) rows — a pure map-side 1→3 expansion, no shuffle."""
    c = _cat(spark, sf_dir)
    return (
        c.lineitem.where(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_extendedprice", "l_discount"],
            variableColumnName="metric",
            valueColumnName="value",
        )
    )


@query(
    "q_join_null_safe",
    oracle="""
WITH a AS (SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS k FROM orders),
b AS (SELECT DISTINCT NULLIF(o_orderpriority, '1-URGENT') AS k FROM orders)
SELECT b.k, COUNT(a.o_orderkey) AS n
FROM b JOIN a ON a.k IS NOT DISTINCT FROM b.k
GROUP BY b.k
ORDER BY b.k NULLS FIRST
""",
    group="relational",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=>): NULL keys match each other, unlike plain
    equality — Spark still plans a hash join because the null-safe operator
    is an equi-key."""
    c = _cat(spark, sf_dir)
    a = c.orders.select(
        "o_orderkey", F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("k")
    )
    b = a.select("k").distinct().select(F.col("k").alias("bk"))
    return (
        b.join(a, F.col("k").eqNullSafe(F.col("bk")))
        .groupBy("bk")
        .agg(F.count("o_orderkey").alias("n"))
        .select(F.col("bk").alias("k"), "n")
        .orderBy(F.col("k").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# bucketed co-located join (the shuffle-elimination lever for fact⋈fact)
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders+lineitem bucketed by the join key (once per sf_dir) and
    return the table names.  Bucketing is a *write-time* contract: both
    sides hash-partitioned into N_BUCKETS files by key, so the join reads
    co-located buckets and needs NO exchange — at 100 TB this removes the
    dominant fact⋈fact shuffle entirely, paid once at ingest."""
    import os

    tag = f"{abs(hash(sf_dir)) % 10**8}"
    names = (f"ang_orders_b{tag}", f"ang_lineitem_b{tag}")
    c = Catalog(spark, sf_dir)
    specs = (
        (names[0], c.orders, "o_orderkey"),
        (names[1], c.lineitem, "l_orderkey"),
    )
    for name, df, key in specs:
        if not spark.catalog.tableExists(name):
            (
                df.write.mode("overwrite")
                .option("path", os.path.join(scratch_dir("anglerfish_buckets_"), name))
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    return names


@query(
    "q_join_bucketed",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_lines,
       {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    group="relational",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over bucketed tables: both sides pre-hashed into
    co-located buckets on the join key, so the sort-merge join runs with
    zero exchanges (asserted in tests/test_bucketed.py).  The aggregation
    after it is the only shuffle in the plan."""
    prepare(spark)
    orders_t, lineitem_t = _bucketed_tables(spark, sf_dir)
    o = spark.table(orders_t)
    li = spark.table(lineitem_t)
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# upsert emulation, deterministic sampling, SQL front door
# ---------------------------------------------------------------------------


@query(
    "q_upsert",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS price FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
  SELECT o_orderkey AS k, o_totalprice * 1.1 AS price FROM orders WHERE o_orderkey % 2 = 0
)
SELECT COALESCE(u.k, b.k) AS k,
       COALESCE(u.price, b.price) AS price,
       CASE WHEN u.k IS NOT NULL AND b.k IS NOT NULL THEN 'updated'
            WHEN u.k IS NOT NULL THEN 'inserted' ELSE 'unchanged' END AS action
FROM base b FULL JOIN upd u ON b.k = u.k
""",
    group="relational",
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation on plain parquet (no table format): full
    outer join on the key, update wins via coalesce, action audit column.
    One shuffle on the key — the same shape a Delta/Iceberg MERGE lowers
    to; at 100 TB you bucket both sides on the key first (q_join_bucketed)
    and the merge becomes exchange-free."""
    c = _cat(spark, sf_dir)
    base = c.orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("bk"), F.col("o_totalprice").alias("bprice")
    )
    upd = c.orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("uk"), (F.col("o_totalprice") * 1.1).alias("uprice")
    )
    action = (
        F.when(F.col("uk").isNotNull() & F.col("bk").isNotNull(), "updated")
        .when(F.col("uk").isNotNull(), "inserted")
        .otherwise("unchanged")
    )
    return base.join(upd, F.col("bk") == F.col("uk"), "full").select(
        F.coalesce("uk", "bk").alias("k"),
        F.coalesce("uprice", "bprice").alias("price"),
        action.alias("action"),
    )


@query(
    "q_sample_hash",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
""",
    group="llm-text",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content-independent key hash
    (md5 prefix < 0x1a ≈ 26/256).  Unlike TABLESAMPLE this is reproducible
    across engines, partitionings and reruns — the only kind of sample a
    training-data pipeline should ship.  Pure map-side filter."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents")
    return d.where(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2) < "1a"
    ).select("doc_id", "lang", "source")


@query(
    "q_curation_pipeline",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, source, len({TOKENS_SQL}) AS n_tok,
         md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp
  FROM documents
),
kept AS (
  SELECT * FROM scored
  WHERE lang = 'en' AND n_tok >= 20
),
dedup AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept
)
SELECT source, COUNT(*) AS n_docs,
       {dsum_sql('n_tok')} AS total_tokens
FROM dedup WHERE rn = 1
GROUP BY source
ORDER BY source
""",
    group="llm-text",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: language filter → length filter → exact-dedup
    keeper selection → per-source accounting.  The composed shape of a
    training-data pipeline: two map-side filters, one combinable shuffle on
    the fingerprint, one on the final group key."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents")
    tok = tokens()
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tok).alias("n_tok"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tok))).cast("binary")
        ).alias("fp"),
    )
    kept = scored.where((F.col("lang") == "en") & (F.col("n_tok") >= 20))
    w = Window.partitionBy("fp").orderBy("doc_id")
    dedup = kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        dedup.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum(F.col("n_tok").cast("double")).alias("total_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q_sql_api",
    oracle=f"""
SELECT l_orderkey, o_orderdate,
       {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'O'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    group="relational",
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door (TPC-H-Q3 shape via spark.sql over registered
    views) — same Catalyst plan as the DataFrame variant; proves the
    engine's surface is reachable from plain SQL strings too."""
    c = _cat(spark, sf_dir)
    c.customer.createOrReplaceTempView("v_customer")
    c.orders.createOrReplaceTempView("v_orders")
    c.lineitem.createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, o_orderdate,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue
        FROM v_customer JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'O'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


# ---------------------------------------------------------------------------
# salted skew join + map function inventory
# ---------------------------------------------------------------------------

N_SALT = 8


@query(
    "q_skew_salted_join",
    oracle=f"""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 100 END AS k,
         l_extendedprice
  FROM lineitem
),
dim AS (
  SELECT DISTINCT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 100 END AS k
  FROM lineitem
)
SELECT f.k, COUNT(*) AS n, {dsum_sql('f.l_extendedprice')} AS total
FROM fact f JOIN dim d ON f.k = d.k
GROUP BY f.k
ORDER BY f.k
""",
    group="relational",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed join de-skewed by explicit salting: ~70% of fact rows share
    key 0, so a plain hash join puts them in ONE task.  The fact side gets
    a deterministic salt; the dim side is replicated N_SALT times
    (explode of a literal range — dim rows are cheap, fact rows are not),
    so the hot key spreads over N_SALT tasks.  The salt never escapes:
    results are keyed on the real key only.  This is the manual fallback
    for engines/joins AQE skew-split does not cover (e.g. bucketed SMJ)."""
    c = _cat(spark, sf_dir)
    k = F.when(F.col("l_orderkey") % 10 < 7, F.lit(0)).otherwise(
        F.col("l_orderkey") % 100
    )
    fact = c.lineitem.select(
        k.alias("k"),
        F.pmod(F.col("l_orderkey") + F.col("l_linenumber"), F.lit(N_SALT)).alias("salt"),
        "l_extendedprice",
    )
    dim = (
        c.lineitem.select(k.alias("dk"))
        .distinct()
        .select("dk", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))).alias("dsalt"))
    )
    return (
        fact.join(dim, (F.col("k") == F.col("dk")) & (F.col("salt") == F.col("dsalt")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("l_extendedprice")).alias("total"))
        .orderBy("k")
    )


@query(
    "q_map_funcs",
    oracle="""
SELECT o_orderkey,
       2 + 1 AS n_keys,
       o_orderstatus AS status,
       TRUE AS has_prio,
       o_orderpriority AS prio
FROM orders
WHERE o_orderkey % 100 = 0
""",
    group="relational",
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function inventory (create_map / map_concat / cardinality /
    element_at / map_contains_key) with scalar outputs so the oracle is
    engine-order-independent."""
    c = _cat(spark, sf_dir)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    m2 = F.map_concat(m, F.create_map(F.lit("key"), F.col("o_orderkey").cast("string")))
    return c.orders.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.cardinality(m2).alias("n_keys"),
        F.element_at(m2, "status").alias("status"),
        F.map_contains_key(m2, "prio").alias("has_prio"),
        F.element_at(m2, "prio").alias("prio"),
    )


@query(
    "q_gap_fill",
    oracle=f"""
WITH b AS (
  SELECT user_id,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 3600 * 3600 AS h,
         value
  FROM events
),
agg AS (
  SELECT user_id, h, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
  FROM b GROUP BY user_id, h
),
rng AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM agg GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS h FROM rng
)
SELECT g.user_id, g.h,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.sum_value, 0.0) AS sum_value
FROM grid g LEFT JOIN agg a ON a.user_id = g.user_id AND a.h = g.h
""",
    group="streaming",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: hourly per-user rollup densified over
    each user's observed range (missing hours -> zero rows).  The grid is
    generated per key with sequence+explode — grid size depends on the
    TIME RANGE, not the data volume, so at 100 TB the dense grid is still
    keys x hours, and the left join back to the rollup shuffles only
    aggregated rows."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        F.expr("CAST(ts AS LONG) DIV 3600 * 3600").alias("h"),
        "value",
    )
    agg = b.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value")
    )
    rng = agg.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = rng.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.lit(3600).cast("long"))).alias("h"),
    )
    return grid.join(agg, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


@query(
    "q_array_hof",
    oracle=f"""
SELECT doc_id,
       CAST(len(list_filter({TOKENS_SQL}, x -> len(x) > 4)) AS INT) AS n_long,
       CAST(list_sum(list_transform({TOKENS_SQL}, x -> len(x))) AS BIGINT) AS total_chars,
       list_sort(list_distinct(list_transform({TOKENS_SQL}, x -> left(x, 1))))
         AS initials
FROM documents
WHERE doc_id % 50 = 0
""",
    group="relational",
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate) as
    first-class operators: per-doc token-length analytics without any
    explode — the lambda runs inside the row, so no row-count blowup and
    no shuffle."""
    c = _cat(spark, sf_dir)
    tok = tokens()
    n_long = F.size(F.filter(tok, lambda x: F.length(x) > 4))
    total_chars = F.aggregate(
        F.transform(tok, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    initials = F.array_sort(F.array_distinct(F.transform(tok, lambda x: F.substring(x, 1, 1))))
    return c.documents.where(F.col("doc_id") % 50 == 0).select(
        "doc_id",
        n_long.alias("n_long"),
        total_chars.alias("total_chars"),
        initials.alias("initials"),
    )


@query(
    "q_setops_all",
    oracle="""
WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'except_all' AS op, k, COUNT(*) AS n
FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
UNION ALL
SELECT 'intersect_all', k, COUNT(*)
FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
""",
    group="relational",
)
def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) — the
    multiplicity-preserving counterparts of q_except/q_intersect."""
    c = _cat(spark, sf_dir)
    a = c.orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = c.orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    ex = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    it = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    return ex.unionByName(it)


@query(
    "q_cond_agg",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) FILTER (o_totalprice > 200000) AS n_big,
       bool_and(o_totalprice > 1000)           AS all_over_1k,
       bool_or(o_orderpriority = '1-URGENT')   AS any_urgent,
       COUNT(DISTINCT o_orderpriority)         AS n_prios
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    group="relational",
)
def q_cond_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregates: count_if, every, some — all
    map-side combinable."""
    c = _cat(spark, sf_dir)
    return (
        c.orders.groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.some(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.countDistinct("o_orderpriority").alias("n_prios"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_grouping_id",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       COUNT(*) AS cnt, {dsum_sql('o_totalprice')} AS sum_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    group="relational",
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with GROUPING() markers: subtotal rows are identified by the
    grouping flags, not by NULL ambiguity (a real NULL key and a rollup
    subtotal are distinguishable)."""
    c = _cat(spark, sf_dir)
    return (
        c.orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy(
            "g_status",
            "g_prio",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q_lateral_join",
    oracle="""
SELECT r_name, t.n_name
FROM region, LATERAL (
  SELECT n_name FROM nation WHERE n_regionkey = r_regionkey
  ORDER BY n_name LIMIT 2
) t
ORDER BY r_name, n_name
""",
    group="relational",
)
def q_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-outer-row dependent limit) — Spark
    decorrelates it into a ranked join, so the per-row subquery never
    executes per row."""
    c = _cat(spark, sf_dir)
    c.region.createOrReplaceTempView("v_region")
    c.nation.createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT r_name, t.n_name
        FROM v_region, LATERAL (
          SELECT n_name FROM v_nation WHERE n_regionkey = r_regionkey
          ORDER BY n_name LIMIT 2
        ) t
        ORDER BY r_name, n_name
        """
    )


@query(
    "q_udtf",
    oracle="""
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tok
           FROM documents WHERE doc_id % 100 = 0)
SELECT doc_id,
       CAST(unnest(range(len(list_slice(tok, 1, 5)))) AS INT) AS pos,
       unnest(list_slice(tok, 1, 5)) AS tok
FROM t
""",
    group="relational",
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5 UDTF surface): a
    row-expanding generator invoked through LATERAL — the UDF family's
    1→N member, complementing scalar pandas UDFs and mapInPandas."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, tok: string")
    class SplitTokens:
        def eval(self, text: str, n: int):
            toks = [t for t in text.split(" ") if t]
            for i, t in enumerate(toks[:n]):
                yield i, t

    c = _cat(spark, sf_dir)
    spark.udtf.register("ang_split_tokens", SplitTokens)
    c.documents.createOrReplaceTempView("v_documents_udtf")
    return spark.sql(
        """
        SELECT doc_id, t.pos, t.tok
        FROM v_documents_udtf, LATERAL ang_split_tokens(text, 5) t
        WHERE doc_id % 100 = 0
        """
    )


@query(
    "q_approx_quantile",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS exact_p50,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    group="relational",
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch — mergeable, bounded
    memory, the 100 TB path where exact percentile means a full sort per
    group).  Contract oracle like q_approx_distinct: the sketch's median
    must land within the accuracy-implied rank error of the exact median
    (both are integral l_quantity values, so a tolerance of 1.0 covers the
    1/accuracy rank slack on this distribution)."""
    c = _cat(spark, sf_dir)
    return (
        c.lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("approx_p50"),
            F.percentile("l_quantity", F.lit(0.5)).alias("exact_p50"),
        )
        .select(
            "l_returnflag",
            "exact_p50",
            (F.abs(F.col("approx_p50") - F.col("exact_p50")) <= 1.0).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    group="relational",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: selective dims on both fact sides, join, grouped
    revenue, global top-10.  The segment filter prunes customers before the
    join; the top-k is a TakeOrderedAndProject (no full sort materializes).
    Tiebreak on l_orderkey makes the LIMIT deterministic cross-engine."""
    c = _cat(spark, sf_dir)
    return (
        c.customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(c.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .join(c.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q_exists_subquery",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    group="relational",
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: correlated EXISTS decorrelated into a left-semi
    join with a non-equi residual (l_shipdate > o_orderdate) — one shuffle
    on the order key, no row duplication from multi-match orders."""
    c = _cat(spark, sf_dir)
    o = c.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    return (
        o.join(
            c.lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _rcte_sql(revenue_expr: str) -> str:
    # shared between engines except the decimal→double spelling: Spark's
    # decimal→double cast is correctly rounded; DuckDB needs the VARCHAR
    # hop (see operators/common.py)
    return f"""
WITH RECURSIVE months(ym) AS (
  SELECT 199501
  UNION ALL
  SELECT CASE WHEN ym % 100 = 12 THEN ym + 89 ELSE ym + 1 END
  FROM months WHERE ym < 200108
),
per_month AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate) AS ym,
         COUNT(*) AS n_orders,
         {revenue_expr} AS revenue
  FROM orders
  GROUP BY 1
)
SELECT m.ym, COALESCE(p.n_orders, 0) AS n_orders,
       COALESCE(p.revenue, 0.0) AS revenue
FROM months m LEFT JOIN per_month p ON p.ym = m.ym
ORDER BY m.ym
"""


@query("q_recursive_cte", oracle=_rcte_sql(dsum_sql("o_totalprice")), group="relational")
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): a month calendar generated
    by pure-integer recursion (no date/timezone semantics in the recursion
    itself), left-joined to monthly order aggregates — the gap-filled
    rollup every reporting pipeline needs, with empty months materialized
    as zero rows.  Identical SQL runs on DuckDB; Spark executes the
    recursion as iterative UNION ALL steps over a tiny (80-row) relation
    while the fact-side aggregate stays one combinable shuffle."""
    c = _cat(spark, sf_dir)
    c.orders.createOrReplaceTempView("orders")
    return c.spark.sql(
        _rcte_sql("CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)")
    )


@query(
    "q_udaf_pandas",
    oracle=f"""
SELECT l_returnflag,
       {dsum_sql('l_extendedprice * l_quantity')} / {dsum_sql('l_quantity')} AS wavg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    group="relational",
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the engine's UDAF extension point):
    quantity-weighted mean price per return flag.

    The engine's float-determinism contract is applied *inside* the UDF —
    each addend is quantized to 10 decimal places (the same rounding as
    SQL ``CAST(x AS DECIMAL(38,10))``) and summed exactly with Decimal
    arithmetic, so the result is independent of row order and
    partitioning, bit-for-bit equal to the oracle's decimal-contract SQL.
    A plain ``series.sum()`` would drift per shuffle — the exact trap the
    contract exists to prevent."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` turns the
    # (Series, Series) -> float hints into strings the UDF type-hint parser
    # rejects for grouped-agg inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wavg(price, qty):
        q10 = Decimal("1E-10")
        num = sum(
            (Decimal(float(p) * float(v)).quantize(q10, ROUND_HALF_UP)
             for p, v in zip(price, qty)),
            Decimal(0),
        )
        den = sum(
            (Decimal(float(v)).quantize(q10, ROUND_HALF_UP) for v in qty), Decimal(0)
        )
        return float(num) / float(den)

    c = _cat(spark, sf_dir)
    return (
        c.lineitem.groupBy("l_returnflag")
        .agg(wavg("l_extendedprice", "l_quantity").alias("wavg_price"))
        .orderBy("l_returnflag")
    )


@query(
    "q_stats_moments",
    oracle=f"""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         {dsum_sql('l_quantity')} AS sx,
         {dsum_sql('l_quantity * l_quantity')} AS sxx,
         {dsum_sql('l_extendedprice')} AS sy,
         {dsum_sql('l_extendedprice * l_extendedprice')} AS syy,
         {dsum_sql('l_quantity * l_extendedprice')} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (sxx - sx * sx / n) / (n - 1) AS var_qty,
       sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
       (sxy - sx * sy / n) / (n - 1) AS covar_qty_price,
       (sxy - sx * sy / n)
         / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_price
FROM m ORDER BY l_returnflag
""",
    group="relational",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance / stddev / covariance / Pearson
    correlation) from decimal-exact moment sums.

    Built-in ``corr``/``var_samp`` accumulate in doubles, so their results
    depend on partition order — unreproducible across runs and engines.
    Computing the five moments with the decimal contract and deriving the
    statistics with identical double expression trees makes them
    deterministic in both engines, at one decimal add per moment per row
    (map-side combinable, same scaling as q1)."""
    c = _cat(spark, sf_dir)
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    m = c.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sxx"),
        dsum(y).alias("sy"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(k) for k in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    return m.select(
        "l_returnflag",
        "n",
        ((sxx - sx * sx / n) / (n - 1)).alias("var_qty"),
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("stddev_qty"),
        ((sxy - sx * sy / n) / (n - 1)).alias("covar_qty_price"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "q_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  COUNT(*) AS n_users,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_signup,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
            THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                 AND t_purchase > t_click
            THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
FROM firsts
""",
    group="relational",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (signup → click → purchase, strictly ordered first
    occurrences): one conditional-MIN aggregation per user then a global
    rollup — two combinable shuffles total, no joins, no explode.  The
    standard event-funnel shape at any scale."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s1.cast("int")).cast("bigint").alias("stage_signup"),
        F.sum(s2.cast("int")).cast("bigint").alias("stage_click"),
        F.sum(s3.cast("int")).cast("bigint").alias("stage_purchase"),
    )


@query(
    "q_pattern_match",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CASE WHEN event_type = LAG(event_type) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              THEN 0 ELSE 1 END AS chg
  FROM events
),
runs0 AS (
  SELECT user_id, event_type, rn,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM ordered
),
runs AS (
  SELECT user_id, run_id, MIN(event_type) AS typ,
         CAST(COUNT(*) AS BIGINT) AS len
  FROM runs0 GROUP BY user_id, run_id
),
seq AS (
  SELECT user_id, typ, len,
         LAG(typ)  OVER (PARTITION BY user_id ORDER BY run_id) AS prev_typ,
         LEAD(typ) OVER (PARTITION BY user_id ORDER BY run_id) AS next_typ
  FROM runs
),
matches AS (
  SELECT user_id, len FROM seq
  WHERE typ = 'click' AND prev_typ = 'view' AND next_typ = 'purchase'
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(len) AS BIGINT) AS total_clicks,
       CAST(MAX(len) AS BIGINT) AS max_click_run
FROM matches GROUP BY user_id
ORDER BY user_id
""",
    group="relational",
)
def q_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection — the pattern
    ``view click+ purchase`` over each user's event stream, CONTIGUOUS
    (no intervening events), reported per user as match count, clicks
    consumed, and longest click run.  Spark has no MATCH_RECOGNIZE; the
    standard re-expression is gaps-and-islands: same-type runs via the
    change-flag running sum, then one lag/lead pass over the RUN relation
    (a 'click' run sandwiched between a 'view' run and a 'purchase' run
    is exactly one greedy match).

    Since r6 the pattern is DATA, not code: ``patterns.VIEW_CLICK_PURCHASE``
    is a :class:`~..operators.patterns.PatternSpec`, and this query is its
    batch compilation via :func:`~..operators.patterns.match_pattern_batch`
    — the same spec drives the streaming automaton (q_stream_pattern), and
    a seeded spec fuzzer differentials the two against an independent
    runs-scan reference (tests/test_patterns.py).

    Scale shape: everything partitions by user_id and reuses that one
    partitioning — two window passes (event-level run ids, run-level
    lag/lead) and two combinable aggregations; no joins, no explode, no
    global sort.  Event order is the total (ts, event_id) — the oracle
    window-determinism house rule.
    """
    from .patterns import VIEW_CLICK_PURCHASE, match_pattern_batch

    prepare(spark)
    ev = load_table(spark, sf_dir, "events")
    return match_pattern_batch(ev, VIEW_CLICK_PURCHASE).select(
        "user_id",
        "n_matches",
        F.col("total_len").alias("total_clicks"),
        F.col("max_len").alias("max_click_run"),
    )
