"""Hard-SQL catalog extensions: TPC-H-shaped decorrelation/outer-join/
distinct-agg queries, explicit GROUPING SETS, full analytic-window surface,
SCD2 history, and a CSV round-trip.

The reference's only real query is the daily mart (A1); these entries prove
the engine handles the decorrelated-subquery and outer-aggregate shapes a
Postgres user would migrate (SURVEY §2.4/§2.5 gap notes). Each one is
written as the plan we'd want at 100 TB:

- EXISTS/IN  → left-semi joins (no row explosion, partial-agg-friendly);
- NOT IN     → left-anti joins (with the not-null key guarantee stated);
- correlated COUNT per outer row → outer join + hash aggregate, never a
  per-row subquery;
- scalar subqueries → 1-row aggregates broadcast-cross-joined (two scans,
  zero driver round-trips).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.scd import scd2_compress
from .queries import read_events, register, t
from .session import local_frame

_FMT = "%Y-%m-%d %H:%M:%S"


@register(
    "q4_late_shipment_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL '60 days')
    GROUP BY o_orderpriority
    """,
    survey="§2.4 gap / TPC-H Q4 shape: correlated EXISTS with an inequality"
    " on both relations → left-semi join (decorrelated, no row explosion)",
    tags=("tpch",),
)
def q4_late_shipment_priority(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    survey="§2.4/§2.5 gap / TPC-H Q13 shape: outer join preserving"
    " zero-order customers + two-level aggregation (count of counts)",
    tags=("tpch",),
)
def q13_customer_order_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    # count(o_orderkey) counts matches only: customers with no surviving
    # orders land in the c_count=0 bucket via the preserved outer row
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q16_supplier_counts",
    """
    SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    survey="§2.4/§2.5 gap / TPC-H Q16 shape: NOT IN → left-anti join"
    " (s_suppkey is non-null so anti-join == NOT IN) + distinct aggregate",
    tags=("tpch",),
)
def q16_supplier_counts(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    kept = li.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        kept.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q18_large_volume_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 180)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_date
    """,
    survey="§2.5 gap / TPC-H Q18 shape: IN over a HAVING aggregate →"
    " aggregate-then-semi-join; the qualifying-keys set is aggregated once,"
    " not per outer row",
    tags=("tpch",),
)
def q18_large_volume_orders(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 180)
        .select("l_orderkey")
    )
    big = o.join(
        qualifying.withColumnRenamed("l_orderkey", "qk"),
        F.col("o_orderkey") == F.col("qk"),
        "left_semi",
    )
    return (
        big.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
    )


@register(
    "q22_dormant_rich_customers",
    """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1995-01-01'
                        AND o_orderdate <  TIMESTAMP '1996-01-01')
    GROUP BY c_nationkey
    """,
    survey="§2.4/§2.5 gap / TPC-H Q22 shape: scalar subquery (broadcast"
    " 1-row aggregate) + NOT EXISTS (left-anti join) in one query",
    tags=("tpch",),
)
def q22_dormant_rich_customers(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o95 = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg_bal")
    )
    dormant = rich.join(
        o95, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    survey="§2.5 gap: explicit GROUPING SETS (asymmetric — not expressible"
    " as rollup/cube) through the SQL entry point; one scan computes all"
    " three groupings",
    tags=("tpch",),
)
def grouping_sets_revenue(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gsets")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS rf,
               COALESCE(l_linestatus, 'ALL') AS ls,
               count(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "supplier_window_stats",
    """
    SELECT s_suppkey, s_name,
           percent_rank() OVER w AS bal_pct_rank,
           cume_dist()    OVER w AS bal_cume_dist,
           first_value(s_suppkey) OVER w AS poorest_suppkey,
           CAST(lead(s_suppkey, 1, -1) OVER w AS BIGINT) AS next_suppkey
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
    """,
    survey="§2.5 gap: analytic-window surface beyond lag/ntile —"
    " percent_rank, cume_dist, first_value, lead-with-default on one total"
    " ordering, computed scale-safely (operators.ranking.global_rank:"
    " bucketed rank + literal offset/handoff maps; percent_rank/cume_dist"
    " are arithmetic over (rank, n); lead crosses bucket boundaries via a"
    " next-bucket-first map; no single-partition exchange — the oracle"
    " keeps the exact global window as the twin)",
    tags=("tpch",),
)
def supplier_window_stats(spark, sf_dir):
    from .operators.ranking import global_rank

    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    # ONE-pass coarse mode: acctbal is domain-bounded ([-999.99, 9999.99]
    # by TPC-H spec at every SF), so floor(acctbal) has ≤ ~11k distinct
    # values — the histogram replaces the approxQuantile + stats passes
    rf = global_rank(
        s,
        "s_acctbal",
        ["s_suppkey"],
        key_cols=["s_suppkey"],
        coarse=F.floor(F.col("s_acctbal")),
    )
    if rf.n_total == 0:
        return local_frame(
            spark, [],
            "s_suppkey long, s_name string, bal_pct_rank double,"
            " bal_cume_dist double, poorest_suppkey long, next_suppkey long",
        )
    n = rf.n_total
    # lead across bucket boundaries: the last row of bucket b hands off to
    # the FIRST key of the next non-empty bucket (a ≤k-entry literal map)
    nxt = {
        bkt: rf.first_keys[rf.buckets[i + 1]][0]
        for i, bkt in enumerate(rf.buckets[:-1])
    }
    boundary = (
        F.create_map(*[F.lit(x) for b, v in nxt.items() for x in (b, v)])[
            F.col("_bkt")
        ]
        if nxt
        else F.lit(None)
    )
    wb = Window.partitionBy("_bkt").orderBy("s_acctbal", "s_suppkey")
    return rf.df.select(
        "s_suppkey",
        "s_name",
        ((F.col("_rank") - 1) / F.lit(max(n - 1, 1))).cast("double").alias("bal_pct_rank"),
        (F.col("_rank") / F.lit(n)).cast("double").alias("bal_cume_dist"),
        F.lit(rf.first_keys[rf.buckets[0]][0]).cast("long").alias("poorest_suppkey"),
        F.coalesce(F.lead("s_suppkey").over(wb), boundary, F.lit(-1))
        .cast("long")
        .alias("next_suppkey"),
    )


@register(
    "scd2_event_type_history",
    f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             event_id
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '{_FMT}') AS valid_from,
           COALESCE(strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, version),
                             '{_FMT}'), '9999-12-31 00:00:00') AS valid_to,
           CAST(version AS BIGINT) AS version
    FROM changes
    """,
    survey="§1.1 upgrade: SCD2 version history (operators/scd.scd2_compress)"
    " — consecutive equal attributes collapse, each change opens a version"
    " with [valid_from, valid_to) validity; per-key window, one shuffle",
    tags=("tpch", "scd"),
)
def scd2_event_type_history(spark, sf_dir):
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    hist = scd2_compress(
        ev, ["user_id"], ["event_type"], "ts", tie_break=["event_id"]
    )
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        "version",
    )


_CSV_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
    ]
)


@register(
    "csv_roundtrip_orders",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    survey="§2.1/§2.2 source-format breadth: CSV sink + schema'd CSV source"
    " round-trip preserves longs/strings/doubles exactly (shortest-repr"
    " double serialization round-trips); oracle reads the original parquet",
    tags=("tpch", "formats"),
)
def csv_roundtrip_orders(spark, sf_dir):
    # the audit aggregate is collected eagerly so the scratch CSV copy can
    # be deleted before returning (a lazily-returned plan over the temp
    # files would leak one filtered orders copy per invocation — same
    # hygiene as stream_cdc_apply, review finding r06)
    import shutil

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    scratch = tempfile.mkdtemp(prefix="csv_roundtrip_")
    try:
        path = scratch + "/orders_csv"
        o.write.mode("overwrite").option("header", "true").csv(path)
        back = spark.read.schema(_CSV_ORDERS_SCHEMA).option("header", "true").csv(path)
        audit = back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        rows, schema = audit.collect(), audit.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


@register(
    "props_map_stats",
    """
    SELECT event_type, k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS INTEGER))
                AS BIGINT) AS total_k
    FROM (SELECT event_type, props, unnest(json_keys(props)) AS k FROM events)
    GROUP BY event_type, k
    """,
    survey="§1.2 extension: MapType surface — from_json to map<string,int>,"
    " explode to key/value rows, aggregate per key (the reference's JSONB"
    " column read as a dynamic map rather than a fixed struct)",
    tags=("tpch", "formats"),
)
def props_map_stats(spark, sf_dir):
    ev = read_events(spark, sf_dir).select("event_type", "props")
    kv = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,int>")).alias("k", "v"),
    )
    return kv.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("long").alias("total_k"),
    )


@register(
    "orc_roundtrip_orders",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    survey="§2.1/§2.2 source-format breadth: ORC sink + source round-trip"
    " (columnar sibling of parquet; schema travels in the file so the read"
    " needs no user schema); oracle reads the original parquet",
    tags=("tpch", "formats"),
)
def orc_roundtrip_orders(spark, sf_dir):
    # eager audit + scratch cleanup, same hygiene as csv_roundtrip_orders
    import shutil

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    scratch = tempfile.mkdtemp(prefix="orc_roundtrip_")
    try:
        path = scratch + "/orders_orc"
        o.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        audit = back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        rows, schema = audit.collect(), audit.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)
