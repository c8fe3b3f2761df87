package graft.queries

import graft.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational capabilities: scan+filter+project with pushdown,
  * hash aggregation, every join flavor (broadcast / shuffle, semi, anti,
  * outer), top-k, conditional aggregation, scalar-subquery-style joins.
  *
  * Mirrors the reference's relational surface (SURVEY.md §2.2, §2.5,
  * §2.6): the reference does these row-at-a-time in pandas
  * (e.g. stage joins at validate_quality.py:197-219,
  * tag_contacts.py:120-125); here each is a declarative Spark plan so
  * Catalyst chooses broadcast vs shuffled joins and pushes
  * filters/projections into the parquet scan.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: partial (map-side) aggregation then
    * final merge — one shuffle on the tiny group-key space. At 100 TB the
    * partial agg reduces shuffle volume to ~|groups|×partitions rows. */
  val q01 = Q(
    "q01_pricing_summary",
    "groupBy two low-cardinality keys; exact decimal sums; avg via sum/count",
    (s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          round(sum(money(col("l_extendedprice")) * (lit(BigDecimal(1)) - money(col("l_discount"))))
            .cast("double"), 2).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
      round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE), 4) AS avg_qty,
      round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_discount) AS DOUBLE), 4) AS avg_disc,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q6-style selective scan: both predicates and the 2-column
    * projection must reach the parquet reader (PushedFilters/ReadSchema)
    * — at 100 TB this is the difference between reading 2 columns of a
    * date range and the whole table. */
  val q02 = Q(
    "q02_filter_pushdown_revenue",
    "highly selective filter + 2-col projection pushed into the scan",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          money(col("l_discount")).between(BigDecimal("0.05"), BigDecimal("0.07")) &&
          col("l_quantity") < 24)
        .agg(round(sum(money(col("l_extendedprice")) * money(col("l_discount"))).cast("double"), 2)
          .as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    Some("""SELECT
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
      count(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  /** 3-way join: lineitem⋈orders on orderkey (big-big shuffle join),
    * ⋈customer on custkey — AQE may broadcast customer at small SF; at
    * scale it stays a shuffle join co-partitioned on the join key. */
  val q03 = Q(
    "q03_segment_revenue",
    "fact-fact shuffle join + dim join, revenue per market segment",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          round(sum(money(col("l_extendedprice")) * (lit(BigDecimal(1)) - money(col("l_discount"))))
            .cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment,
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Explicit broadcast of the small dimension (part): no shuffle of the
    * fact side at all — the plan must show BroadcastHashJoin. */
  val q04 = Q(
    "q04_broadcast_dim_join",
    "broadcast hash join fact⋈dim, agg by brand",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    Some(s"""SELECT p_brand, ${oSum("l_quantity", "sum_qty")},
      ${oSum("l_extendedprice", "sum_price")}, count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""))

  /** Snowflake join chain over three broadcastable dims. */
  val q05 = Q(
    "q05_nation_region_rollup",
    "customer⋈nation⋈region dim chain, acctbal stats per region/nation",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some(s"""SELECT r_name, n_name, count(*) AS n_customers,
      ${oSum("c_acctbal", "sum_acctbal")}
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** Top-k: orderBy+limit compiles to TakeOrderedAndProject — per-partition
    * heaps + a k-row merge at the driver; no global sort at any scale. */
  val q06 = Q(
    "q06_topk_orders",
    "top-10 orders by totalprice (TakeOrderedAndProject, no full sort)",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""))

  /** Left-semi join (EXISTS): reference does dict-membership checks
    * (SURVEY.md §2.5); distributed form never materializes the probe
    * side's payload. */
  val q07 = Q(
    "q07_semi_join",
    "customers having at least one high-value order, per segment",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 300000).select(col("o_custkey"))
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n_customers FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Left-anti join (NOT EXISTS). Filter keeps the result non-empty at
    * every SF (plain "no orders" is empty on this data). */
  val q08 = Q(
    "q08_anti_join",
    "customers with no order above 400k",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey"""))

  /** TPC-H Q13-style outer join + double aggregation: how many customers
    * placed k orders. Outer-join preserving the empty group is the part a
    * naive inner join gets wrong. */
  val q09 = Q(
    "q09_order_count_distribution",
    "left outer join + two-level aggregation (distribution of counts)",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      val perCust = c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  /** Conditional aggregation (TPC-H Q12 shape): sum(case when …). */
  val q10 = Q(
    "q10_conditional_agg",
    "pivot-style conditional sums by order priority class",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** TPC-H Q17 shape: per-group mean as a join (scalar-subquery style).
    * The per-part threshold is a second aggregate over the same fact —
    * Spark reuses the exchange; mean computed as exact sum/count. */
  val q11 = Q(
    "q11_below_avg_quantity",
    "self-aggregation join: lineitems under 50% of their part's mean qty",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val thresholds = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((sum(money(col("l_quantity"))).cast("double") / count(lit(1)).cast("double")).as("avg_qty"))
      li.join(thresholds, col("l_partkey") === col("t_partkey"))
        .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n_rows"))
    },
    Some("""SELECT
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
      count(*) AS n_rows
      FROM lineitem l JOIN (
        SELECT l_partkey AS t_partkey,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty
        FROM lineitem GROUP BY l_partkey) t ON l.l_partkey = t.t_partkey
      WHERE l.l_quantity < 0.5 * t.avg_qty"""))

  /** Set operations: union / intersect / except on key sets. */
  val q12 = Q(
    "q12_set_ops",
    "intersect/except/union distinct over customer key sets",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val building = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bigSpenders = o.where(col("o_totalprice") > 250000).select(col("o_custkey").as("c_custkey")).distinct()
      val both = building.intersect(bigSpenders).withColumn("set_kind", lit("both"))
      val onlyB = building.except(bigSpenders).withColumn("set_kind", lit("building_only"))
      both.unionByName(onlyB)
        .orderBy(col("set_kind"), col("c_custkey"))
    },
    Some("""WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      spend AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000)
      SELECT c_custkey, 'both' AS set_kind FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM spend)
      UNION ALL
      SELECT c_custkey, 'building_only' AS set_kind FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM spend)
      ORDER BY set_kind, c_custkey"""))

  /** Distinct aggregation: exact + approximate cardinalities. The approx
    * path (HLL) is the 100 TB-scale answer; exact countDistinct is the
    * oracle-checked one. */
  val q13 = Q(
    "q13_distinct_agg",
    "count distinct keys per group (exact; HLL variant in ScalaTest)",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Having-clause aggregation (TPC-H Q18 shape). */
  val q14 = Q(
    "q14_having_groups",
    "groups filtered post-aggregation (HAVING)",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .where(col("total_qty") > 150)
        .orderBy(col("total_qty").desc, col("l_orderkey")),
    Some("""SELECT l_orderkey,
      round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) > 150
      ORDER BY total_qty DESC, l_orderkey"""))

  /** Two-phase salted aggregation over a pathologically skewed key
    * (l_returnflag has 3 values, so a plain groupBy funnels ~200k rows
    * per reducer at sf0.1 and one-key-per-task at cluster scale):
    * phase 1 pre-aggregates on (key, salt) — map-side combine plus 16×
    * reducer fan-out — phase 2 combines the 48 partials. The salt only
    * redistributes work; sums are exact-decimal so the result equals
    * the unsalted oracle bit-for-bit. */
  val q27 = Q(
    "q27_salted_agg",
    "two-phase salted aggregation over the skewed l_returnflag key",
    (s, dir) => {
      val partial = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          pmod(col("l_orderkey"), lit(16)).as("salt"))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(money(col("l_quantity"))).as("q"),
          sum(money(col("l_extendedprice"))).as("p"),
          count(lit(1)).as("n"))
      partial.groupBy(col("l_returnflag"))
        .agg(round(sum(col("q")).cast("double"), 2).as("sum_qty"),
          round(sum(col("p")).cast("double"), 2).as("sum_price"),
          sum(col("n")).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""SELECT l_returnflag, ${oSum("l_quantity", "sum_qty")},
        ${oSum("l_extendedprice", "sum_price")}, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Bucketed co-located join: both sides written as 8-bucket tables
    * on the join key, so the sort-merge join (forced via MERGE hint —
    * the dim side would otherwise broadcast at this SF) reads
    * bucket-aligned files and needs NO shuffle exchange on either
    * side. This is the pre-partitioning device for joins repeated
    * across many queries/runs at scale: pay the bucketed write once,
    * skip the join shuffle every time after. */
  /** Bucketed tables for q28, built once per (session, sfDir) — the
    * whole point of bucketing is pay-once/reuse-many, so the layout
    * write must not repeat on every query execution. Table names carry
    * the dir so two scale factors in one session don't collide. */
  private val BucketTables = Memo("bucket")

  private def bucketTables(s: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String) =
    sessionMemo(s, BucketTables, dir) {
      val base = localScratch(s, "buckets", dir)
      val safe = dir.replaceAll("[^a-zA-Z0-9]+", "_")
      val (ot, ct) = (s"b_orders_$safe", s"b_customer_$safe")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .write.format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/orders").mode("overwrite").saveAsTable(ot)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.format("parquet").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/customer").mode("overwrite").saveAsTable(ct)
      (ot, ct)
    }

  val q28 = Q.staged(
    "q28_bucketed_colocated_join",
    "8-bucket bucketed tables joined shuffle-free (MERGE hint)",
    Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
        ${oSum("o_totalprice", "sum_price")}
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))(bucketTables) {
    case (s, _, (ot, ct)) =>
      s.table(ot).hint("MERGE")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment"))
  }

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11,
    q12, q13, q14, q27, q28)
}
