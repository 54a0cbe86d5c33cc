"""Relational core queries — sources, filters, projections, joins,
aggregations, windows, rollups, set ops, batching, profiling
(SURVEY.md §2.1-2.8).

Each query exercises engine operators from :mod:`metalpipe_spark.operators`
and carries a DuckDB oracle.  Plans are written Spark-first: filters are
plain predicates (pushed to the parquet scan), dimension joins are
broadcast, aggregates pre-combine map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import register
from metalpipe_spark.functions.scalars import (
    datetime_to_milliseconds,
    timestamp_to_redshift,
    to_bool,
)
from metalpipe_spark.operators.aggregate import batch_messages, row_stat_collector
from metalpipe_spark.operators.filtering import filter_node
from metalpipe_spark.operators.joins import enrich_join
from metalpipe_spark.operators.transform import insert_data, remapper, substitute_regex
from metalpipe_spark.sources.readers import load_table


def dec(c: Column | str) -> Column:
    """Exact-accumulation cast: DOUBLE -> DECIMAL(24,8).  Sums over this
    are exact, so Spark and the oracle agree bit-for-bit after the final
    cast back to DOUBLE."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(24,8)")


def dsum(c: Column | str) -> Column:
    return F.sum(dec(c)).cast("double")


def davg(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return dsum(col) / F.count(col)


# SQL fragments mirroring dec/dsum/davg.
def _dsum(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(24,8))) AS DOUBLE)"


def _davg(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(24,8))) AS DOUBLE) / COUNT({expr})"


@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_davg('l_quantity')} AS avg_qty,
           {_davg('l_extendedprice')} AS avg_price,
           {_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan-filter-aggregate with map-side partial agg.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join-free scan+agg: the decimal partial agg is per-row CPU, so a
    # row-group-starved local scan benefits from rebalance (the joins in
    # q03/q05 do NOT — measured regressions from the extra exchange).
    li = load_table(spark, sf_dir, "lineitem", rebalance=True)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q03_top_orders",
    f"""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: dim broadcast, shuffled fact join, top-k.",
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # Broadcast only the selective dim (customer) into orders.  The
    # lineitem<->orders join has fact-sized inputs on both sides: a forced
    # broadcast there OOMs executors at scale, so it shuffles on the join
    # key (AQE is free to pick a broadcast at small SF — by size, not by
    # decree).
    co = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    joined = li.join(co, li.l_orderkey == F.col("o_orderkey"))
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q05_region_revenue",
    f"""
    SELECT n.n_name,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: star join, all dims broadcast, one fact shuffle.",
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    region = t["region"].filter(F.col("r_name") == "ASIA")
    # Dims (customer, nation, region) broadcast into orders first: the
    # region filter then prunes orders *before* the fact-fact join, so the
    # one unavoidable shuffle (lineitem<->orders on orderkey) moves the
    # least data.  orders itself is never broadcast — a 2-year date range
    # keeps most of the fact table, which would OOM at scale.
    co = (
        orders.join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    joined = (
        t["lineitem"]
        .join(co, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("s_suppkey") == F.col("l_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q_filter_events",
    """
    SELECT event_id, user_id, event_type,
           CAST(json_extract_string(props, 'k') AS BIGINT) AS k
    FROM events
    WHERE props IS NOT NULL
      AND event_type = 'purchase'
      AND CAST(json_extract_string(props, 'k') AS BIGINT) > 50
    ORDER BY event_id
    """,
    doc="Filter node (node.py:1294-1343): value_is_not_none + predicates, JSON key extraction.",
)
def q_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev = filter_node(ev, "value_is_not_none", "props")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("k", k)
        .filter(F.col("k") > 50)
        .select("event_id", "user_id", "event_type", "k")
        .orderBy("event_id")
    )


@register(
    "q_remap_customers",
    """
    SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,
           c_acctbal AS balance
    FROM customer
    ORDER BY id
    """,
    doc="Remapper (node.py:1694-1702): projection with renames.",
)
def q_remap_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    out = remapper(
        cust,
        {"id": "c_custkey", "name": "c_name", "segment": "c_mktsegment", "balance": "c_acctbal"},
    )
    return out.orderBy("id")


@register(
    "q_insert_scalars",
    """
    SELECT event_id,
           strftime(ts, '%b %d,%Y  %H:%M:%S') AS ts_redshift,
           epoch_ms(ts) AS ts_ms,
           (value > 0) AS value_truthy,
           'metalpipe' AS source_system
    FROM events
    ORDER BY event_id
    """,
    doc="InsertData + scalar datetime library (helpers.py:48-102,225-226).",
)
def q_insert_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev = insert_data(ev, {"source_system": "metalpipe"})
    return ev.select(
        "event_id",
        timestamp_to_redshift("ts").alias("ts_redshift"),
        datetime_to_milliseconds("ts").alias("ts_ms"),
        to_bool("value").alias("value_truthy"),
        "source_system",
    ).orderBy("event_id")


@register(
    "q_regex_parts",
    """
    SELECT p_partkey, lower(regexp_replace(p_type, ' ', '_', 'g')) AS type_slug, p_brand
    FROM part
    ORDER BY p_partkey
    """,
    doc="SubstituteRegex (node.py:1068-1077) -> regexp_replace.",
)
def q_regex_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    part = substitute_regex(part, "p_type", " ", "_")
    return part.select(
        "p_partkey", F.lower("p_type").alias("type_slug"), "p_brand"
    ).orderBy("p_partkey")


@register(
    "q_serializer",
    """
    SELECT p_partkey, unnest(string_split(p_type, ' ')) AS type_word
    FROM part
    ORDER BY p_partkey, type_word
    """,
    doc="Serializer (node.py:1257-1275) -> explode: one row per element, other columns retained.",
)
def q_serializer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.transform import serializer

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.split("p_type", " ").alias("type_word")
    )
    return serializer(part, "type_word").orderBy("p_partkey", "type_word")


@register(
    "q_enrich_join",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name AS nation_name
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY o_orderkey
    """,
    doc="retain_input enrichment join (queue.py:91-102): fact keeps all columns, dims broadcast.",
)
def q_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    out = enrich_join(orders, cust, on="o_custkey")
    out = enrich_join(out, nation, on="c_nationkey")
    return out.select(
        "o_orderkey", "o_totalprice", "c_name", F.col("n_name").alias("nation_name")
    ).orderBy("o_orderkey")


@register(
    "q_batch_orders",
    """
    SELECT CAST(FLOOR(o_orderkey / 100) AS BIGINT) AS batch_id,
           COUNT(*) AS batch_size,
           MIN(o_orderkey) AS first_key,
           MAX(o_orderkey) AS last_key
    FROM orders
    GROUP BY 1
    ORDER BY batch_id
    """,
    doc="BatchMessages (node.py:1731-1754): key-deterministic batching.",
)
def q_batch_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    batched = batch_messages(orders, 100, "o_orderkey", payload=["o_orderkey"])
    return batched.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("batch_size"),
        F.element_at("items", 1).getField("o_orderkey").alias("first_key"),
        F.element_at("items", -1).getField("o_orderkey").alias("last_key"),
    ).orderBy("batch_id")


@register(
    "q_profile_customer",
    """
    SELECT column_name, n_rows, n_null, n_distinct, (n_distinct = n_rows - n_null) AS is_unique
    FROM (
      SELECT 'c_custkey' AS column_name, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(c_custkey) AS n_null, COUNT(DISTINCT c_custkey) AS n_distinct FROM customer
      UNION ALL
      SELECT 'c_name', COUNT(*), COUNT(*) - COUNT(c_name), COUNT(DISTINCT c_name) FROM customer
      UNION ALL
      SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(c_nationkey), COUNT(DISTINCT c_nationkey) FROM customer
      UNION ALL
      SELECT 'c_mktsegment', COUNT(*), COUNT(*) - COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment) FROM customer
    )
    ORDER BY column_name
    """,
    doc="RowStatCollector (table_nodes.py:46-84): one-pass per-column profile.",
)
def q_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    prof = row_stat_collector(cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])
    return prof.orderBy("column_name")


@register(
    "q_window_top_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    )
    WHERE rnk <= 2
    ORDER BY o_custkey, rnk, o_orderkey
    """,
    doc="Window functions (engine surface beyond the reference, SURVEY §2.6 note).",
)
def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@register(
    "q_rollup_nation",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    doc="Rollup aggregation (engine surface; Catalyst-native).",
)
def q_rollup_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


@register(
    "q_union_parties",
    """
    SELECT c_name AS name, 'customer' AS party_type FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS party_type FROM supplier
    ORDER BY party_type, name
    """,
    doc="Set ops (SURVEY §2.7): fan-in of multiple sources = unionByName.",
)
def q_union_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("party_type")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("party_type")
    )
    return cust.unionByName(supp).orderBy("party_type", "name")


@register(
    "q_edges_part_supplier",
    """
    SELECT DISTINCT l_partkey AS src_key, l_suppkey AS tgt_key
    FROM lineitem
    ORDER BY src_key, tgt_key
    """,
    doc="RelationshipAssertion materialization (nft_nodes.py:672-793): keyed edge-table dedup.",
)
def q_edges_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_partkey").alias("src_key"), F.col("l_suppkey").alias("tgt_key"))
        .dropDuplicates()
        .orderBy("src_key", "tgt_key")
    )


@register(
    "q_systematic_sample",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 10 = 0
    ORDER BY o_orderkey
    """,
    doc="RandomSample (node.py:1055-1065) in its oracle-reproducible systematic form.",
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.filtering import systematic_sample

    orders = load_table(spark, sf_dir, "orders")
    return systematic_sample(orders, "o_orderkey", 10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).orderBy("o_orderkey")


@register(
    "q_cube_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="Cube aggregation (engine surface; Catalyst-native grouping sets).",
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority")
        )
    )


@register(
    "q_pivot_orders",
    f"""
    SELECT o_orderpriority,
           {_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS sum_price_f,
           {_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS sum_price_o,
           {_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS sum_price_p
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc=(
        "Pivot (engine surface): order revenue by priority x status, "
        "statuses spread to columns via pivot_pinned — conditional "
        "aggregation, ONE aggregate pair / one shuffle (DataFrame "
        ".pivot() would plan a double aggregate with an extra "
        "exchange)."
    ),
)
def q_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.aggregate import pivot_pinned

    orders = load_table(spark, sf_dir, "orders")
    wide = pivot_pinned(
        orders,
        "o_orderpriority",
        "o_orderstatus",
        ["F", "O", "P"],
        "o_totalprice",
        agg=dsum,
        out_names=["sum_price_f", "sum_price_o", "sum_price_p"],
    )
    return wide.orderBy("o_orderpriority")


@register(
    "q_unpivot_nation_counts",
    """
    WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS v FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS k, COUNT(*) AS v FROM supplier GROUP BY 1)
    SELECT n_name, 'n_customers' AS metric, coalesce(c.v, 0) AS value
    FROM nation LEFT JOIN c ON n_nationkey = c.k
    UNION ALL
    SELECT n_name, 'n_suppliers' AS metric, coalesce(s.v, 0) AS value
    FROM nation LEFT JOIN s ON n_nationkey = s.k
    ORDER BY n_name, metric
    """,
    doc=(
        "Unpivot / melt (engine surface; Catalyst Expand — one scan of "
        "the wide table, no per-metric union re-scan): per-nation entity "
        "counts to long (nation, metric, value) form."
    ),
)
def q_unpivot_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    wide = (
        nation.join(F.broadcast(cust), "n_nationkey", "left")
        .join(F.broadcast(supp), "n_nationkey", "left")
        .select(
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_customers", "n_suppliers"], "metric", "value"
    ).orderBy("n_name", "metric")


@register(
    "q_except_customers",
    """
    SELECT c_custkey FROM customer
    EXCEPT ALL
    SELECT DISTINCT o_custkey AS c_custkey FROM orders
    ORDER BY c_custkey
    """,
    doc="Set ops (SURVEY §2.7): EXCEPT — customers with no orders. Plans as a left-anti hash join.",
)
def q_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ordered = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).dropDuplicates()
    return cust.exceptAll(ordered).orderBy("c_custkey")


@register(
    "q_intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    ORDER BY nationkey
    """,
    doc="Set ops (SURVEY §2.7): INTERSECT — nations with both customers and suppliers. Plans as a left-semi join over distincts.",
)
def q_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp).orderBy("nationkey")


@register(
    "q_asof_clicks",
    """
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, e.ts,
           c.ts AS asof_ts, c.value AS asof_value
    FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY event_id
    """,
    doc=(
        "Backward as-of join (engine surface; absent from both the reference "
        "and Spark): latest click at-or-before each error, per user — the "
        "union-window plan shape (one key shuffle, no range-join blowup)."
    ),
)
def q_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.joins import as_of_join

    events = load_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = as_of_join(errors, clicks, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select("event_id", "user_id", "ts", "asof_ts", "asof_value").orderBy(
        "event_id"
    )


@register(
    "q_funnel",
    """
    WITH w1 AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0
      FROM events
    ), w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t0 THEN ts END)
                  OVER (PARTITION BY user_id) AS t1
      FROM w1
    ), w3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w2
    )
    SELECT user_id,
           CAST(CASE WHEN MIN(t2) IS NOT NULL THEN 3
                     WHEN MIN(t1) IS NOT NULL THEN 2
                     WHEN MIN(t0) IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage,
           epoch_ms(MIN(t0)) AS view_ms,
           epoch_ms(MIN(t1)) AS click_ms,
           epoch_ms(MIN(t2)) AS purchase_ms
    FROM w3
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc=(
        "Ordered conversion funnel (view -> click -> purchase): chained "
        "conditional MIN windows over one user-key exchange, then one "
        "groupBy on the same key."
    ),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.aggregate import funnel

    events = load_table(spark, sf_dir, "events")
    return funnel(events, ["view", "click", "purchase"]).orderBy("user_id")


@register(
    "q_retention_cohorts",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), cohort AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           date_diff('day', c.cohort_day, d.day)::BIGINT AS day_offset,
           COUNT(*) AS n_users
    FROM days d JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc=(
        "Cohort retention: first-active-day cohorts x active-day "
        "offsets; distinct-day dedup then same-key aggregates."
    ),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.aggregate import retention_cohorts

    events = load_table(spark, sf_dir, "events")
    return retention_cohorts(events).orderBy("cohort_day", "day_offset")


@register(
    "q_merge_upsert",
    """
    WITH target AS (
      SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ), updates AS (
      -- +1.0 is exactly representable in double: no ROUND-on-double
      -- half-way divergence between engines (determinism rules, README)
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice + 1.0 AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderkey, o_custkey, o_totalprice FROM updates
    UNION ALL
    SELECT t.o_orderkey, t.o_custkey, t.o_totalprice
    FROM target t
    WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    ORDER BY o_orderkey
    """,
    doc=(
        "MERGE / upsert semantics (SURVEY §4.2.3 divergence closed): "
        "updates replace matched keys, new keys insert, unmatched target "
        "rows pass through — one left_anti join + union, no window.  The "
        "write-path twin (upsert_parquet: staged partition renames onto "
        "parquet) is unit-tested in test_http_sinks."
    ),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.sinks.writers import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    target = orders.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double")
    )
    updates = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).cast("double").alias("o_totalprice"),
    )
    return merge_upsert(target, updates, "o_orderkey").orderBy("o_orderkey")


@register(
    "q_range_join",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS start_ts,
             ts + INTERVAL 1 HOUR AS end_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id, p.purchase_id
    FROM events e JOIN p
      ON e.user_id = p.user_id
     AND e.ts >= p.start_ts AND e.ts < p.end_ts
    ORDER BY event_id, purchase_id
    """,
    doc=(
        "Bucketized range join (engine surface; Spark would plan the "
        "naive form as a BroadcastNestedLoopJoin): events attributed to "
        "the 1-hour windows following each purchase, per user.  "
        "Intervals explode to the hour buckets they overlap, points map "
        "to ONE bucket, the match is an equi-join plus one codegen "
        "boundary check - each pair meets at most once by construction."
    ),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.joins import range_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    pairs = range_join(
        events.select("event_id", "user_id", "ts"),
        purchases,
        point_col="ts",
        start_col="start_ts",
        end_col="end_ts",
        keys="user_id",
        bucket_seconds=3600,
    )
    return pairs.select("event_id", "purchase_id").orderBy(
        "event_id", "purchase_id"
    )


@register(
    "q_time_rollup",
    """
    SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket_ts,
           event_type,
           COUNT(*) AS n,
           SUM(value::DECIMAL(28,12))::DOUBLE AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value,
           SUM(value::DECIMAL(28,12))::DOUBLE / COUNT(*) AS avg_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', date_trunc('day', ts), event_type,
           COUNT(*), SUM(value::DECIMAL(28,12))::DOUBLE,
           MIN(value), MAX(value),
           SUM(value::DECIMAL(28,12))::DOUBLE / COUNT(*)
    FROM events GROUP BY 2, 3
    ORDER BY granularity, bucket_ts, event_type
    """,
    doc=(
        "Hypertable-style multi-granularity rollup (engine surface): "
        "hour + day continuous-aggregate levels over the event stream, "
        "one map-side-combined shuffle per level."
    ),
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.aggregate import time_rollup

    events = load_table(spark, sf_dir, "events")
    return time_rollup(
        events, "ts", "value", granularities=("hour", "day"),
        group_cols=["event_type"],
    ).orderBy("granularity", "bucket_ts", "event_type")
