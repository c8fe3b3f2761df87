package graft.queries

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window functions, multi-dimensional aggregation (rollup/cube/grouping
  * sets), date/string/JSON scalar functions, pivot, sessionization.
  *
  * The reference itself has no window functions (SURVEY.md §2.8) but our
  * merge/label-resolution engine is built on them (row_number argmax,
  * §2.6), so they are declared as first-class capabilities here.
  */
object Analytic {

  /** row_number/rank per partition: the same primitive the contact merge
    * uses for per-cluster argmax (combine_contacts.py:264-277 in the
    * reference → window row_number here). One shuffle on the partition
    * key; no global sort. */
  val q15 = Q(
    "q15_window_rank",
    "top-3 orders per customer via row_number window",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3 && col("o_custkey") < 50)
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        FROM orders) WHERE rn <= 3 AND o_custkey < 50
      ORDER BY o_custkey, rn"""))

  /** Running (cumulative) sum with an explicit frame; decimal inside the
    * window for bit-identical cross-engine totals. */
  val q16 = Q(
    "q16_window_running_sum",
    "cumulative account of order value per customer, frame-spec window",
    (s, dir) => {
      val o = t(s, dir, "orders").where(col("o_custkey") < 20)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"), 2)
            .as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
      FROM orders WHERE o_custkey < 20
      ORDER BY o_custkey, o_orderkey"""))

  /** lag/lead: gap-based sessionization over the events stream table —
    * the batch form of what the streaming module does with state. */
  val q17 = Q(
    "q17_sessionize_lag",
    "session counts per user from 30-min gaps via lag()",
    (s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      e.select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (col("ts").cast("long") - col("prev_ts").cast("long")) > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        SELECT user_id, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                 OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), ts) > 1800
               THEN 1 ELSE 0 END AS new_session
        FROM events)
      GROUP BY user_id ORDER BY user_id"""))

  /** ROLLUP: hierarchical super-aggregates; group keys coalesced to a
    * sentinel so NULL ordering differences between engines vanish. */
  val q18 = Q(
    "q18_rollup",
    "rollup(returnflag, linestatus) with sentinel-coalesced keys",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus")),
    Some(s"""SELECT coalesce(l_returnflag, '(all)') AS returnflag,
        coalesce(l_linestatus, '(all)') AS linestatus,
        count(*) AS n_rows, ${oSum("l_quantity", "sum_qty")}
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""))

  /** CUBE over two dimensions. */
  val q19 = Q(
    "q19_cube",
    "cube(orderstatus, orderpriority) counts",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
          col("n_orders"), col("sum_price"))
        .orderBy(col("orderstatus"), col("orderpriority")),
    Some(s"""SELECT coalesce(o_orderstatus, '(all)') AS orderstatus,
        coalesce(o_orderpriority, '(all)') AS orderpriority,
        count(*) AS n_orders, ${oSum("o_totalprice", "sum_price")}
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY orderstatus, orderpriority"""))

  /** GROUPING SETS via SQL (exercises the SQL entry path too). */
  val q20 = Q(
    "q20_grouping_sets",
    "explicit grouping sets (segment), (nationkey), ()",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("gs_customer")
      s.sql("""SELECT coalesce(c_mktsegment, '(all)') AS segment,
          coalesce(CAST(c_nationkey AS STRING), '(all)') AS nation,
          count(*) AS n_customers
        FROM gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY segment, nation""")
    },
    Some("""SELECT coalesce(c_mktsegment, '(all)') AS segment,
        coalesce(CAST(c_nationkey AS VARCHAR), '(all)') AS nation,
        count(*) AS n_customers
      FROM customer
      GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      ORDER BY segment, nation"""))

  /** Date/time scalar functions + month-level aggregation. */
  val q21 = Q(
    "q21_date_functions",
    "date_trunc/year/month/dayofweek extraction, monthly revenue",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
          year(col("o_orderdate")).as("order_year"),
          col("o_totalprice"))
        .groupBy(col("order_month"), col("order_year"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("order_month")),
    Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        CAST(year(o_orderdate) AS INTEGER) AS order_year,
        count(*) AS n_orders, ${oSum("o_totalprice", "sum_price")}
      FROM orders GROUP BY 1, 2 ORDER BY order_month"""))

  /** String scalar functions: the flavor the contact normalizer relies on
    * (lower/trim/regexp_replace/substr/concat/split — SURVEY.md §2.3). */
  val q22 = Q(
    "q22_string_functions",
    "regexp_replace/substring/concat/lower/length/split over part names",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 5).as("name_head"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devowel"),
          element_at(split(col("p_name"), " "), 1).as("first_token"),
          concat_ws("::", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey, lower(p_name) AS name_lower,
        CAST(length(p_name) AS INTEGER) AS name_len,
        substring(p_name, 1, 5) AS name_head,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devowel,
        split_part(p_name, ' ', 1) AS first_token,
        concat_ws('::', p_brand, p_type) AS brand_type
      FROM part ORDER BY p_partkey"""))

  /** JSON extraction from the events.props column (reference round-trips
    * addresses as JSON strings — combine_contacts.py:1313,1318). */
  val q23 = Q(
    "q23_json_extract",
    "get_json_object over props, grouped stats on the extracted field",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS n,
        CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  /** Pivot (wide conditional aggregation). */
  val q24 = Q(
    "q24_pivot_event_types",
    "events per user pivoted to one column per event_type",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
      types.foldLeft(p)((df, tname) =>
        df.withColumn(tname, coalesce(col(tname), lit(0L))))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id,
        CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Tumbling time window (batch form of the streaming aggregation):
    * Spark's window() aligns to the epoch, equivalent to date_trunc for
    * whole-hour widths. */
  val q25 = Q(
    "q25_tumbling_window",
    "hourly tumbling-window event counts and value sums",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
    Some(s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
        count(*) AS n_events, ${oSum("value", "sum_value")}
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""))

  /** ntile + percent_rank (distribution windows). */
  val q26 = Q(
    "q26_window_ntile",
    "acctbal quartiles per market segment via ntile(4)",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).as("quartile"))
        .groupBy(col("c_mktsegment"), col("quartile"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"), col("quartile"))
    },
    Some("""SELECT c_mktsegment, quartile, count(*) AS n FROM (
        SELECT c_mktsegment, c_custkey,
          CAST(ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER) AS quartile
        FROM customer)
      GROUP BY c_mktsegment, quartile ORDER BY c_mktsegment, quartile"""))

  // -- q29: as-of join (temporal point lookup) --------------------------

  /** AS-OF join — an operator Spark lacks natively, re-expressed
    * Spark-first as the union + running-`last` window pattern: anchor
    * rows ('view' events) and probe rows (every other event) union into
    * one stream, ONE shuffle+sort on (user, ts, kind) orders anchors
    * before probes at equal timestamps, and `last(anchor_ts,
    * ignoreNulls)` over rows-unbounded-preceding gives every probe the
    * latest anchor at-or-before it. This is the canonical distributed
    * as-of plan (one exchange, no range explosion, no per-key collect);
    * a sort-merge self-join would shuffle twice and a BNL would be
    * O(n·m). The DuckDB oracle uses its native ASOF JOIN, so the
    * window re-expression is checked against a reference
    * implementation of the real operator semantics. */
  val q29 = Q(
    "q29_asof_join",
    "as-of join: latest preceding 'view' per event via union + running last window",
    (s, dir) => {
      val e = t(s, dir, "events")
      val anchors = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
          unix_micros(col("ts")).as("anchor_us"),
          lit(null).cast("string").as("event_type"))
      val probes = e.where(col("event_type") =!= "view")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
          lit(null).cast("long").as("anchor_us"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val matched = anchors.unionByName(probes)
        .withColumn("m_us", last(col("anchor_us"), ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .select(col("event_type"),
          (unix_micros(col("ts")) - col("m_us")).as("gap_us"))
      matched.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("gap_us")).as("n_matched"),
          round(sum(col("gap_us")).cast("double") / lit(1000000.0) /
            count(col("gap_us")).cast("double"), 2).as("avg_gap_s"))
        .orderBy(col("event_type"))
    },
    Some("""WITH anchors AS (
        SELECT user_id, ts FROM events WHERE event_type = 'view'),
      probes AS (
        SELECT event_id, user_id, ts, event_type FROM events WHERE event_type <> 'view'),
      matched AS (
        SELECT p.event_type, epoch_us(p.ts) - epoch_us(a.ts) AS gap_us
        FROM probes p ASOF LEFT JOIN anchors a
          ON p.user_id = a.user_id AND p.ts >= a.ts)
      SELECT event_type, count(*) AS n_events,
        count(gap_us) AS n_matched,
        round(CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / 1000000.0 /
          CAST(count(gap_us) AS DOUBLE), 2) AS avg_gap_s
      FROM matched GROUP BY event_type ORDER BY event_type"""))

  // -- q39: range (interval) join via bin-bucketed equi-join ------------

  /** Pure range join (no equi key): every event within ±5 minutes of a
    * 'signup' event. Spark has no interval-join operator and the naive
    * plan is an O(n·m) nested loop; the Spark-first device is BINNING —
    * the probe side keeps its single 5-minute bucket, the interval side
    * explodes the 2-3 buckets its window overlaps (sequence()), and the
    * join becomes a shuffle hash equi-join on the bucket with a residual
    * |dt| predicate. Each pair is produced exactly once because a probe
    * event lives in exactly one bucket. Bucket width == window radius
    * bounds duplication at 3x regardless of data volume — this plan
    * scales linearly where the BNL is quadratic. The DuckDB oracle runs
    * the declarative BETWEEN join (its IEJoin handles it at oracle
    * scale). */
  val q39 = Q(
    "q39_range_join",
    "interval join: events within +/-5min of signups via bucket binning",
    (s, dir) => {
      val e = t(s, dir, "events")
      val BucketUs = 300000000L // 5 minutes in microseconds
      val signups = e.where(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), unix_micros(col("ts")).as("s_us"))
        // `div` = exact integer division (Spark's `/` on longs is DOUBLE)
        .withColumn("bucket", explode(expr(
          s"sequence((s_us - ${BucketUs}L) div ${BucketUs}L, (s_us + ${BucketUs}L) div ${BucketUs}L)")))
      val probes = e.select(col("event_id").as("e_id"), col("event_type"),
          unix_micros(col("ts")).as("e_us"))
        .withColumn("bucket", expr(s"e_us div ${BucketUs}L"))
      signups.join(probes, "bucket")
        .where(abs(col("e_us") - col("s_us")) <= BucketUs && col("e_id") =!= col("s_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("s_id")).as("n_signups"),
          countDistinct(col("e_id")).as("n_events"))
        .orderBy(col("event_type"))
    },
    Some("""WITH s AS (
        SELECT event_id AS s_id, ts AS s_ts FROM events WHERE event_type = 'signup')
      SELECT e.event_type, count(*) AS n_pairs,
        count(DISTINCT s.s_id) AS n_signups,
        count(DISTINCT e.event_id) AS n_events
      FROM s JOIN events e
        ON e.ts BETWEEN s.s_ts - INTERVAL 5 MINUTE AND s.s_ts + INTERVAL 5 MINUTE
        AND e.event_id <> s.s_id
      GROUP BY e.event_type ORDER BY e.event_type"""))

  // -- q70: RANGE-frame window (value-based, not row-based) -------------

  /** Moving 30-day revenue per customer: a RANGE frame over epoch-day
    * order, so the window is defined by VALUE distance (all orders
    * within the 30 days before each order), not a fixed row count —
    * the frame kind q16's running sum (ROWS) cannot express. Numeric
    * epoch-day ordering keeps Spark's rangeBetween and DuckDB's RANGE
    * frame bit-identical; sums are exact decimal. One shuffle on the
    * partition key. */
  val q70 = Q(
    "q70_range_frame_window",
    "30-day moving revenue per customer via RANGE window frame",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .where(col("o_custkey") < 20)
        .select(col("o_custkey"), col("o_orderkey"),
          // long: DuckDB's datediff is BIGINT; keep dtypes aligned,
          // not just stringified values
          datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
            .cast("long").as("day"),
          money(col("o_totalprice")).as("price"))
        .withColumn("moving_30d",
          round(sum(col("price")).over(w).cast("double"), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          round(col("price").cast("double"), 2).as("o_totalprice"),
          col("moving_30d"))
        .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, day,
        round(CAST(price AS DOUBLE), 2) AS o_totalprice,
        round(CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY day
          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS moving_30d
      FROM (
        SELECT o_custkey, o_orderkey,
          datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_custkey < 20)
      ORDER BY o_custkey, day, o_orderkey"""))

  /** Ordered-funnel analysis (view → click → purchase) with exact
    * per-user step latencies — the behavioral-analytics shape the
    * window/sessionize family (q15–q17, q26) doesn't cover: each
    * step's timestamp must be STRICTLY AFTER the previous step's (a
    * click before the first view is not funnel progress). The
    * dataflow is three cascaded conditional-min aggregations, every
    * exchange keyed on user_id — a deployment that bucketizes events
    * by user pays zero shuffles (demonstrated: BucketedFunnelBench,
    * ZERO ShuffleExchange nodes and 0.000 GB shuffle at 28.7M events,
    * THROUGHPUT round 14); latencies are integer microsecond
    * differences — exact in both engines, no rounding anywhere. */
  /** q113's oracle — shared verbatim by q119: the incremental merge's
    * whole contract is that its output hashes equal to the full
    * recompute, so the two queries must run the SAME DuckDB text. */
  private val oFunnelSql = """WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      SELECT v.user_id,
        CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                  WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS reached_step,
        date_diff('microsecond', v.t1, c.t2) AS v2c_micros,
        date_diff('microsecond', c.t2, p.t3) AS c2p_micros
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id"""

  val q113 = Q(
    "q113_funnel",
    "view->click->purchase funnel: per-user reached step + exact step latencies (micros)",
    (s, dir) => {
      // Deliberately NOT Scratch-persisted (unlike q108's bigram
      // relation): each stage's source scan carries a PUSHED
      // event_type filter into the parquet reader, which a shared
      // cached projection would forfeit — measured at 24M events as
      // equal wall and MORE shuffle for the persisted form
      // (FunnelVolBench, THROUGHPUT round 11).
      val e = t(s, dir, "events")
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(max(col("t1")).as("t1c"), min(col("ts")).as("t2"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(max(col("t2")).as("t2p"), min(col("ts")).as("t3"))
      v.join(c.select(col("user_id"), col("t2")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("t3")), Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .otherwise(1).cast("int").as("reached_step"),
          (unix_micros(col("t2")) - unix_micros(col("t1"))).as("v2c_micros"),
          (unix_micros(col("t3")) - unix_micros(col("t2"))).as("c2p_micros"))
        .orderBy(col("user_id"))
    },
    Some(oFunnelSql))

  /** q114's oracle — shared verbatim by q120 (the oFunnelSql rule:
    * incremental == full recompute is the contract, so both queries
    * must hash against the SAME DuckDB text). Declared BEFORE q114:
    * object vals initialize in declaration order, so a forward
    * reference would hand q114 a null oracle. */
  private val oRetentionSql = """WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
      cells AS (
        SELECT f.cohort_day, date_diff('day', f.cohort_day, d.day) AS day_offset,
          CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        FROM d JOIN f ON d.user_id = f.user_id
        GROUP BY 1, 2),
      sz AS (SELECT cohort_day, n_users AS cohort_size FROM cells WHERE day_offset = 0)
      SELECT c.cohort_day, CAST(c.day_offset AS INTEGER) AS day_offset, c.n_users,
        round(CAST(c.n_users AS DOUBLE) / sz.cohort_size, 4) AS retention
      FROM cells c JOIN sz ON c.cohort_day = sz.cohort_day
      ORDER BY c.cohort_day, c.day_offset"""

  /** Cohort retention matrix — the second classic behavioral-analytics
    * shape (q113's funnel is the first): users cohorted by first-seen
    * day, each cell = distinct users from that cohort active
    * `day_offset` days later, normalized by cohort size. Scale shape:
    * the distinct (user, day) activity relation and the first-seen
    * aggregation share the user_id key (one exchange each, fused on a
    * user-bucketed layout); the cell/cohort-size relations are
    * days²-bounded. Retention ratios are exact integer divisions
    * rounded at 4 dp. */
  val q114 = Q(
    "q114_retention",
    "daily cohort retention matrix: first-seen cohorts x day offset, distinct active users",
    (s, dir) => {
      // Window form (r20 optimization, guide §2.4): the original
      // derived the cohort by self-joining the distinct activity
      // against its own per-user min (two derivations of `d`), then
      // self-joined the cells for the cohort size — the event
      // relation was scanned twice and the cells subtree doubled.
      // cohort_day = min(day) over the user's partition is the same
      // value attached in one pass; [[retentionReport]] renders the
      // identical projection (its window cohort-size replaces the sz
      // join — every cohort here has its day-0 cell by construction).
      val w = Window.partitionBy(col("user_id"))
      val d = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      retentionReport(d
        .withColumn("cohort_day", min(col("day")).over(w))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users")))
    },
    Some(oRetentionSql))

  // ---- q119/q120: INCREMENTAL maintenance of the behavioral
  // analytics — q113/q114's standing-artifact halves. Both rest on
  // the same ingest contract as every event-log deployment: batches
  // arrive in TIME ORDER (every batch event's ts >= every standing
  // event's ts — the registered instances split on the
  // [[AnalyticCutoff]] date literal, which also day-aligns the
  // retention split). Under that contract both merges are EXACT, the
  // q112 proof shape: the oracle is the full recompute, verbatim.
  // The contract is ENFORCED, not assumed: both merges raise_error()
  // in-plan on a violating batch (see each merge's guard note), so a
  // mis-split batch fails loudly instead of producing wrong states.

  /** The day-aligned time split the registered q119/q120 instances
    * use: standing = the first week of the Jan 2024 generator window,
    * batch = the rest. Chosen early deliberately: generator users
    * complete their funnels within days, so a late cutoff would leave
    * the merge with nothing to do and the sf replays would prove the
    * identity vacuously (AnalyticMergeSpec asserts users actually
    * advance across the boundary — 5 at sf0.001, 59 at sf0.01). The
    * production daily-batch shape is FunnelVolBench's incremental
    * phase. */
  private[graft] val AnalyticCutoff = "2024-01-08"

  /** Per-user funnel state (user_id, t1, t2, t3) over an event
    * relation — q113's three cascaded conditional mins without the
    * presentation projection. This is the STANDING artifact q119
    * maintains; t1 is always set (a user enters the table on first
    * view), t2/t3 are null until the later steps happen. */
  private[graft] def funnelStates(e: DataFrame): DataFrame = {
    // SINGLE-PASS shape (r20 optimization, guide §2.4): the original
    // three-aggregation cascade (t2's aggregation joins t1's, t3's
    // joins t2's, final = v ⋈ c ⋈ p) references each earlier stage
    // from two consumers, and Catalyst does not share common subplans
    // — the physical plan re-derived v three times and c twice, i.e.
    // SIX scans of the event relation and ~5 exchanges for one state
    // table (and every epoch-erase rebuild that composes this
    // operator multiplied those again). The cascade is per-user
    // arithmetic, so it windows: one exchange by user_id, three
    // WindowExec passes over the partition (each min sees the
    // previous step's per-user constant), one reusing aggregation.
    // Row-identical by case: t1 = min view ts (null iff no view ⇒
    // user excluded, as the old v-anchored join excluded them);
    // t2 = min click ts strictly after t1 (the `ts > null` branch is
    // null ⇒ min skips it, exactly the old inner-join-then-filter);
    // t3 the same over t2. The isin pre-filter drops only rows no
    // branch of the old cascade read.
    val w = Window.partitionBy(col("user_id"))
    e.where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("_t1", min(when(col("event_type") === "view",
        col("ts"))).over(w))
      .withColumn("_t2", min(when(col("event_type") === "click" &&
        col("ts") > col("_t1"), col("ts"))).over(w))
      .withColumn("_t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("_t2"), col("ts"))).over(w))
      .where(col("_t1").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("_t1")).as("t1"), min(col("_t2")).as("t2"),
        min(col("_t3")).as("t3"))
  }

  /** FUNNEL-STATE MERGE — fold a later-window event batch into the
    * standing per-user states without rescanning history. The seeded
    * cascade mirrors q113's:
    *
    *   u1 = coalesce(t1_old, min batch view)
    *   u2 = coalesce(t2_old, min batch click with ts > u1)
    *   u3 = coalesce(t3_old, min batch purchase with ts > u2)
    *
    * EXACT under the time-order contract, by case: a set step can
    * never move (it is a min, and every batch event is later); an
    * unset step with the previous step set completes from the batch's
    * unconditional min (the `ts > u` guard is then vacuously true —
    * every batch event postdates the standing step); a fully new user
    * reduces to q113's cascade over the batch alone. Without the
    * contract no (t1, t2, t3) state is sufficient — a back-dated view
    * can resurrect an old click the standing state already discarded,
    * which is the same delete+insert residual the q101 index merge
    * documents for rebanded docs.
    *
    * GUARDED, not just documented (r14 VERDICT task 4 — silent
    * wrong-answer modes must not exist in registered operators): the
    * merge raise_error()s on exactly the batch rows that would make
    * merge != recompute — a batch view predating a set t1, a batch
    * click landing inside (t1, t2) with t2 set, a batch purchase
    * inside (t2, t3) with t3 set. This is deliberately WEAKER than
    * raw time order: a straggler that cannot change the recompute (a
    * view after t1, a click after t2, anything a set cascade already
    * dominates) passes, so the guard never rejects a batch the math
    * actually tolerates. Enforcement is in-plan (a conditional in the
    * step-update projection, no extra action); the only dataflow
    * change is that the click/purchase mins now aggregate over
    * completed users too (their batch events were pre-filtered
    * before), which is what makes the violating rows observable.
    * AnalyticMergeSpec proves each guard fires and that straggler
    * batches still pass.
    *
    * Scale shape: ONE exchange on user_id carries the batch's funnel
    * events plus the vertex-sized state rows (FunnelMergePlanSpec
    * asserts exactly one shuffle exchange in the executed plan); the
    * windows and the state aggregation reuse that partitioning.
    * Per-batch cost is the batch scan — history is touched only
    * through the state table, exactly like mergeComponents. */
  private[graft] def mergeFunnelStates(standing: DataFrame,
      batch: DataFrame): DataFrame = {
    def violation(what: String) = raise_error(concat(
      lit(s"q119 ingest-contract violation: batch $what standing step for user "),
      col("user_id").cast("string")))
    // SINGLE-PASS shape (r20 optimization, guide §2.4 — see
    // [[funnelStates]]): the original cascade joined three separate
    // batch aggregations against the growing state, and each stage's
    // two consumers re-derived its whole subtree — the epoch plans
    // scanned the standing store FOUR times per fold (eight across a
    // q145 chain step) and paid ~6 exchanges for per-user arithmetic.
    //
    // UNION, not full-outer join (r21 optimization, guide §2.4 —
    // mergeSessions' interval-sweep device applied here): r20's form
    // joined the batch to the standing state full-outer on user_id,
    // but Spark reports UnknownPartitioning for a full-outer
    // sort-merge join, so the windows below re-exchanged the JOINED
    // rows — two shuffles (batch + standing+batch joined rows) even
    // on the user-bucketed layout, which is how q119 regressed 2× at
    // sf0.1 (r20 VERDICT item 3). Instead the standing rows ride the
    // SAME relation as the batch events (null event side / null state
    // side), ONE exchange on user_id carries standing + batch rows
    // once, and the per-user standing steps become window maxes over
    // that partition (at most one standing row per user — the max IS
    // that row's value, null when the user is batch-only). The
    // cascade, the guards (same expressions over the same per-user
    // constants — same raises), and the final reusing aggregation are
    // unchanged. Row-set equality with the join form, per user: both
    // emit that user's batch event rows; the union adds the user's
    // standing row itself, whose cascade columns equal the per-user
    // constants every other row carries, so the min-aggregation is
    // unaffected (for a standing user with NO batch rows, that row is
    // exactly the join form's null-extended row). The `_hasSt`-or-`bv`
    // filter keeps users(standing) ∪ users(batch views), as before.
    val w = Window.partitionBy(col("user_id"))
    val tsNull = lit(null).cast("timestamp")
    batch.where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"),
        tsNull.as("t1"), tsNull.as("t2"), tsNull.as("t3"),
        lit(false).as("_st"))
      .unionByName(standing.select(col("user_id"), tsNull.as("ts"),
        lit(null).cast("string").as("event_type"),
        col("t1").cast("timestamp"), col("t2").cast("timestamp"),
        col("t3").cast("timestamp"), lit(true).as("_st")))
      .withColumn("t1", max(col("t1")).over(w))
      .withColumn("t2", max(col("t2")).over(w))
      .withColumn("t3", max(col("t3")).over(w))
      .withColumn("_hasSt", max(col("_st")).over(w))
      .withColumn("bv", min(when(col("event_type") === "view",
        col("ts"))).over(w))
      .withColumn("u1",
        when(col("t1").isNotNull && col("bv") < col("t1"),
          violation("view predates the")).otherwise(
          coalesce(col("t1"), col("bv"))))
      .withColumn("bc", min(when(col("event_type") === "click" &&
        col("ts") > col("u1"), col("ts"))).over(w))
      .withColumn("u2",
        when(col("t2").isNotNull && col("bc") < col("t2"),
          violation("click would move the")).otherwise(
          coalesce(col("t2"), col("bc"))))
      .withColumn("bp", min(when(col("event_type") === "purchase" &&
        col("ts") > col("u2"), col("ts"))).over(w))
      .withColumn("u3",
        when(col("t3").isNotNull && col("bp") < col("t3"),
          violation("purchase would move the")).otherwise(
          coalesce(col("t3"), col("bp"))))
      .where(col("_hasSt") || col("bv").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("u1")).as("t1"), min(col("u2")).as("t2"),
        min(col("u3")).as("t3"))
  }

  /** q113's presentation projection over a (user_id, t1, t2, t3)
    * state relation — factored so q113 and q119 render identically. */
  private[graft] def funnelReport(states: DataFrame): DataFrame =
    states.select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .otherwise(1).cast("int").as("reached_step"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("v2c_micros"),
        (unix_micros(col("t3")) - unix_micros(col("t2"))).as("c2p_micros"))
      .orderBy(col("user_id"))

  /** The registered instance: standing funnel states over the first
    * window of events absorb the later batch; the oracle is
    * q113's full-recompute SQL VERBATIM, so the driver's hash gate
    * re-proves merge == recompute cross-engine every round.
    * AnalyticMergeSpec pins the branch cases (cross-boundary
    * progression, pre-anchor click discarded on both paths, batch-only
    * user, out-of-order batch) on crafted event logs. */
  /** q119's standing artifact — the pre-cutoff per-user funnel states,
    * materialized for the prepare handoff (a deployment
    * reads the stored state table; the timed body is the batch
    * merge). Built inline when unprepared. */
  private def q119Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    // Persisted user-bucketed STORE (r16 VERDICT task 4): the merge's
    // full-outer joins key on user_id, so the standing side's scan
    // carries the hash distribution and contributes zero exchange —
    // the fold shuffles only the batch aggregates (r17 plan audit).
    bucketedStore(s, dir, "funstates_pre", "user_id")(funnelStates(
      t(s, dir, "events").where(col("ts") < lit(AnalyticCutoff).cast("timestamp"))))

  val q119 = Q.staged(
    "q119_funnel_merge",
    "incremental funnel maintenance: final-window batch merged into standing per-user states == full recompute",
    Some(oFunnelSql))(q119Arts) { (s, dir, standing) =>
    val cut = lit(AnalyticCutoff).cast("timestamp")
    val e = t(s, dir, "events")
    funnelReport(mergeFunnelStates(standing, e.where(col("ts") >= cut)))
  }

  /** Retention standing artifacts over an event relation: the
    * first-seen table (user_id, cohort_day) and the ADDITIVE cells
    * table (cohort_day, day_offset, n_users). Because the underlying
    * relation is the DISTINCT (user, day) activity, each user
    * contributes at most one row per (cohort_day, day_offset) — so
    * count(*) here equals q114's countDistinct, and cells compose by
    * plain count addition like the q112 histogram. */
  private[graft] def retentionState(e: DataFrame): (DataFrame, DataFrame) = {
    val d = e.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val f = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val cells = d.join(f, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    (f, cells)
  }

  /** RETENTION MERGE — fold a later-window batch into the first-seen
    * and cells tables. Day-aligned time order makes this exact: an
    * existing user's cohort_day cannot move (new days are later) and
    * the batch's distinct (user, day) pairs are DISJOINT from the
    * standing ones (old days < cutoff day <= new days), so each new
    * pair adds exactly 1 to exactly one cell — counts add, the
    * histogram-decrement argument run forward. New users cohort at
    * their first batch day. Scale shape: batch-bounded aggregations
    * keyed on user_id, then a days²-bounded cell merge — the
    * standing activity history is never rescanned.
    *
    * GUARDED (r14 VERDICT task 4): unlike the funnel state, the
    * (first-seen, cells) pair cannot witness per-user violations — a
    * batch day duplicating a standing (user, day) pair would silently
    * double-count its cell. The cells table DOES witness the one
    * boundary the contract needs: its max activity day is
    * max(cohort_day + day_offset), so every batch day must lie
    * STRICTLY after it (day-disjointness + no cohort can move, since
    * every cohort_day is itself an activity day). The scalar is
    * days²-bounded, broadcast onto the batch's distinct pairs, and a
    * violating row raise_error()s in-plan — no extra action. */
  private[graft] def mergeRetention(f: DataFrame, cells: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) = {
    val maxDay = cells.agg(
      max(date_add(col("cohort_day"), col("day_offset").cast("int"))).as("_max_day"))
    // Scratch-scoped (r20 optimization): nd feeds BOTH the first-seen
    // fold and the delta aggregation, and an unmaterialized reference
    // re-derived the batch distinct, the cells-wide max-day scalar and
    // the guard per consumer. Bounded by the batch's distinct
    // (user, day) pairs; the guard still evaluates for every pair at
    // materialization.
    // PARTITIONED BY user_id BEFORE the distinct (r21 optimization,
    // guide §2.4): the (user_id, day) distinct is clustered by
    // user_id alone, so one hash exchange on user_id serves the
    // distinct AND both downstream consumers — the per-user min
    // aggregation and the delta join — where the previous
    // (user_id, day)-keyed distinct exchange satisfied neither and
    // each consumer re-exchanged the cached batch. Per-user day
    // counts are bounded by the window's day span, so the narrower
    // key cannot skew. Rows are unchanged.
    val nd = graft.Scratch.scoped(
      batch.select(col("user_id"), to_date(col("ts")).as("day"))
      .repartition(col("user_id")).distinct()
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        when(col("day") <= col("_max_day"), raise_error(concat(
          lit("q120 ingest-contract violation: batch day "),
          col("day").cast("string"),
          lit(" does not postdate the standing activity (max day "),
          col("_max_day").cast("string"), lit(")"))))
          .otherwise(col("day")).as("day")), adaptive = true)
    val fNew = f.join(
        nd.groupBy(col("user_id")).agg(min(col("day")).as("bday")),
        Seq("user_id"), "full")
      .select(col("user_id"),
        coalesce(col("cohort_day"), col("bday")).as("cohort_day"))
    val delta = nd.join(fNew, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val merged = cells
      .select(col("cohort_day"), col("day_offset"), col("n_users").as("c_old"))
      .join(delta.select(col("cohort_day"), col("day_offset"),
          col("n_users").as("c_new")),
        Seq("cohort_day", "day_offset"), "full")
      .select(col("cohort_day"), col("day_offset"),
        (coalesce(col("c_old"), lit(0L)) + coalesce(col("c_new"), lit(0L)))
          .as("n_users"))
    (fNew, merged)
  }

  /** q114's presentation (normalize by cohort size, 4-dp ratio) over
    * a cells relation — factored so q114 and q120 render identically. */
  private[graft] def retentionReport(cells: DataFrame): DataFrame = {
    // Window, not self-join (r20 optimization, guide §2.4): the old
    // cells ⋈ (cells where day_offset = 0) doubled the ENTIRE subtree
    // below the report — cheap when cells is a store scan, but the
    // epoch bodies feed an unmaterialized merge+erase pipeline whose
    // whole dataflow re-derived once per side. The cohort size is the
    // cohort's own day-0 cell, i.e. a per-cohort window max; the
    // isNotNull filter reproduces the old inner join exactly (a
    // cohort with no day-0 cell — impossible for states built or
    // maintained by this family's operators, whose zero-cell drop is
    // cohort-wide — was dropped by the join too).
    val w = Window.partitionBy(col("cohort_day"))
    cells
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_users"))).over(w))
      .where(col("cohort_size").isNotNull)
      .select(col("cohort_day"), col("day_offset").cast("int").as("day_offset"),
        col("n_users"),
        round(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** The registered instance: standing retention state over the first
    * window absorbs the later batch; oracle = q114's
    * full-recompute SQL verbatim (merge == recompute, cross-engine,
    * every round). */
  /** q120's standing artifacts — the pre-cutoff first-seen + cells
    * pair (q119's prepare note applies). */
  private def q120Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // first-seen is per-user and joins on user_id -> bucketed store;
    // cells are days^2-bounded -> plain store (r16 VERDICT task 4).
    def pre = t(s, dir, "events")
      .where(col("ts") < lit(AnalyticCutoff).cast("timestamp"))
    val f = bucketedStore(s, dir, "retfirst_pre", "user_id")(
      retentionState(pre)._1)
    val cells = plainStore(s, dir, "retcells_pre")(retentionState(pre)._2)
    (f, cells)
  }

  val q120 = Q.staged(
    "q120_retention_merge",
    "incremental retention maintenance: final-window batch folded into first-seen + cells == full recompute",
    Some(oRetentionSql))(q120Arts) { case (s, dir, (f, cells)) =>
    val cut = lit(AnalyticCutoff).cast("timestamp")
    val e = t(s, dir, "events")
    val (_, merged) = mergeRetention(f, cells, e.where(col("ts") >= cut))
    retentionReport(merged)
  }

  // ---- q125/q126: USER ERASURE from the behavioral standing
  // artifacts — the remove half of q119/q120's add half, completing
  // the add/remove matrix for all six standing artifact families
  // (index, cluster, histogram, funnel, retention; r14 VERDICT task
  // 1). This is the GDPR-delete shape a behavioral store faces first:
  // the input is a batch of user ids, and every trace of those users
  // must leave the standing state while the survivors' rows stay
  // bit-identical.

  /** The q125/q126 deterministic 10 % erasure batch (the q116/q117
    * "remove:" convention over user_id). */
  private[graft] def erasedUsers: Column =
    h60(concat(lit("erase:"), col("user_id"))) % 10 === 0

  /** FUNNEL-STATE ERASURE — the trivial half, and provably so: the
    * per-user states are independent rows (q113's cascade never looks
    * across users), so erasing a user IS deleting their state row.
    * The anti-join broadcasts the batch-bounded removal set; the
    * standing table never shuffles. */
  private[graft] def eraseFunnelUsers(states: DataFrame,
      removed: DataFrame): DataFrame =
    states.join(removed.select(col("user_id")), Seq("user_id"), "left_anti")

  /** PARTIAL funnel-state erasure at per-user T — the batch half of
    * q130 (as [[eraseSessionsBeforeT]] is of q134): the (t1,t2,t3)
    * state cannot be truncated at T from state alone (the post-T
    * cascade's own anchors are unknowable — the q130 straddle guard's
    * argument), so touched users' states are REBUILT from their
    * post-T events with the q136 pruned-scan shape: the event store
    * is probed once via broadcast semi-join on the request set, the
    * cascade recomputes over that batch-bounded slice, and untouched
    * users pass through anti-joined, bit-identical. Introduced by the
    * q140 epoch driver, which needed the funnel matrix cell that the
    * stream side (q130/q138) had and the batch side lacked. */
  private[graft] def eraseFunnelBeforeT(states: DataFrame,
      events: DataFrame, requests: DataFrame): DataFrame =
    eraseFunnelBeforeTFrom(states, cohortEvents(events, requests), requests)

  /** [[eraseFunnelBeforeT]] over a pre-joined [[cohortEvents]] slice —
    * the r20 shared-scan shape: the epoch body computes the cohort
    * slice ONCE and every per-family erase consumes it, instead of
    * each erase re-scanning the event store (guide §2.4: remove
    * shuffles/passes outright). Row-identical to the (events,
    * requests) form by construction — the slice IS the relation the
    * old body's semi-join + inner-join produced. */
  private[graft] def eraseFunnelBeforeTFrom(states: DataFrame,
      cohort: DataFrame, requests: DataFrame): DataFrame = {
    val postT = cohort
      .where(unix_micros(col("ts")) >= col("req_us"))
      .select(col("user_id"), col("ts"), col("event_type"))
    states.join(broadcast(requests.select(col("user_id"))),
        Seq("user_id"), "left_anti")
      .unionByName(funnelStates(postT))
  }

  /** The requested cohort's event slice, (user_id, ts, event_type,
    * req_us): ONE broadcast join restricts the event relation to the
    * requested users and attaches each user's erase instant. The old
    * erase bodies each derived this themselves as a broadcast
    * semi-join FOLLOWED BY a broadcast inner join on the same key —
    * the semi-join was subsumed by the inner join (requests is
    * per-user unique where registered, and even under duplicates the
    * inner join alone produces the identical relation), so each erase
    * paid one redundant broadcast hash join per event row, and the
    * epoch body paid FOUR separate corpus scans for what is one
    * cohort slice. Callers with several consumers Scratch-scope the
    * slice (bounded: the requested ~10% cohort's events, 4 columns). */
  private[graft] def cohortEvents(events: DataFrame,
      requests: DataFrame): DataFrame = {
    // event_type rides along only when the relation carries it: the
    // session-only spec fixtures feed (user_id, ts) relations, and the
    // session erase never reads the type column anyway.
    val payload = Seq(col("user_id"), col("ts")) ++
      (if (events.columns.contains("event_type")) Seq(col("event_type"))
       else Nil)
    events.join(broadcast(requests), Seq("user_id"))
      .select(payload :+ col("req_us"): _*)
  }

  /** RETENTION ERASURE — the non-trivial half: the cells table is an
    * AGGREGATE over users, so a user's traces are spread across every
    * (cohort_day, day_offset) cell their activity touched. The q118
    * subtraction argument runs over the distinct (user, day) relation:
    * each removed user contributed exactly 1 to exactly the cells
    * their activity days name (day_offset via their own cohort_day),
    * so subtracting their per-cell contribution count and dropping
    * zero-count cells yields precisely the cells a from-scratch
    * rebuild over the surviving users computes. Survivors' rows are
    * untouched: a surviving user's cohort_day is the min over their
    * OWN days (removing other users cannot move it), and cohort-size
    * normalization self-heals because every cohort member contributes
    * to their own (c, 0) cell — if that cell empties, every cell of
    * the cohort does.
    *
    * INPUT CONTRACT (the exactness choice r14's verdict asked to
    * make explicit): `removedActivity` must be the removed users'
    * complete distinct (user_id, day) standing activity — the q116
    * persisted-banding shape. A deployment recovers it from a
    * user-bucketed event store as a pruned scan of the removal
    * batch's buckets (never a corpus scan); the registered instance
    * derives it from the same event relation the standing state was
    * built from, which satisfies the contract by construction.
    * GUARDED: a decrement naming a cell the standing table lacks, or
    * driving any cell negative, raise_error()s in-plan — those are
    * exactly the observable symptoms of an incomplete or foreign
    * activity relation (an over-count hiding inside a still-positive
    * cell is the same undetectable-from-additive-state residual q118
    * documents for the histogram).
    *
    * Scale shape: the decrement aggregation is bounded by the removal
    * batch's activity; the cell merge is days²-bounded; the
    * first-seen delete is an anti-join on the broadcast removal set.
    * Nothing corpus-sized shuffles. */
  private[graft] def eraseRetention(f: DataFrame, cells: DataFrame,
      removedActivity: DataFrame): (DataFrame, DataFrame) = {
    val rmUsers = removedActivity.select(col("user_id")).distinct()
    val dec = removedActivity.join(f, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("c_rm"))
    val after = cells
      .select(col("cohort_day"), col("day_offset"), col("n_users").as("c_old"))
      .join(dec, Seq("cohort_day", "day_offset"), "full")
      .select(col("cohort_day"), col("day_offset"),
        when(coalesce(col("c_old"), lit(0L)) < coalesce(col("c_rm"), lit(0L)),
          raise_error(concat(
            lit("q125 erasure-input violation: cell ("),
            col("cohort_day").cast("string"), lit(", "),
            col("day_offset").cast("string"),
            lit(") decremented below zero — removedActivity is not the "),
            lit("removed users' complete standing activity"))))
          .otherwise(col("c_old") - coalesce(col("c_rm"), lit(0L)))
          .as("n_users"))
      .where(col("n_users") > 0)
    (f.join(rmUsers, Seq("user_id"), "left_anti"), after)
  }

  /** The registered retention-erasure instance: the standing q114
    * state over the full corpus erases the deterministic 10 % user
    * batch; the oracle recomputes q114 over the SURVIVING users'
    * events from scratch, so the driver's cross-engine hash gate
    * re-proves erasure == rebuild every round (the q116/q117 proof
    * inversion). AnalyticEraseSpec pins the branch cases (cell
    * decrement vs drop, full-cohort removal, unknown user no-op,
    * guard on foreign activity) and replays the identity on the sf
    * event tables; RetentionVolBench's erasure phase runs it at
    * 28.7M events. */
  /** q125's standing artifacts — the FULL-corpus retention state
    * (q119's prepare note applies; the timed body is the activity
    * recovery + erasure, EraseVolBench's recurring shape). */
  private def q125Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (f0, c0) = retentionState(t(s, dir, "events"))
    val f = graft.Scratch.scoped(f0, adaptive = true)
    val cells = graft.Scratch.scoped(c0, adaptive = true)
    graft.Scratch.fill(f); graft.Scratch.fill(cells)
    (f, cells)
  }

  val q125 = Q.staged(
    "q125_retention_erase",
    "user erasure from retention state: first-seen rows deleted, cells decremented == recompute over survivors",
    Some(s"""WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0),
      f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
      cells AS (
        SELECT f.cohort_day, date_diff('day', f.cohort_day, d.day) AS day_offset,
          CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        FROM d JOIN f ON d.user_id = f.user_id
        GROUP BY 1, 2),
      sz AS (SELECT cohort_day, n_users AS cohort_size FROM cells WHERE day_offset = 0)
      SELECT c.cohort_day, CAST(c.day_offset AS INTEGER) AS day_offset, c.n_users,
        round(CAST(c.n_users AS DOUBLE) / sz.cohort_size, 4) AS retention
      FROM cells c JOIN sz ON c.cohort_day = sz.cohort_day
      ORDER BY c.cohort_day, c.day_offset"""))(q125Arts) { case (s, dir, (f, cells)) =>
    val e = t(s, dir, "events")
    val removedActivity = e.where(erasedUsers)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val (_, after) = eraseRetention(f, cells, removedActivity)
    retentionReport(after)
  }

  /** The registered funnel-erasure instance: state-row delete over
    * the standing q113 states, reported through the shared
    * presentation; oracle = q113's recompute over the surviving
    * users' events (per-user independence makes event-filtering and
    * row-deletion the same operation — that triviality is the point,
    * and the cross-engine gate re-proves it every round). */
  /** q126's standing artifact — the FULL-corpus funnel states
    * (q125's prepare note applies). */
  private def q126Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val st = graft.Scratch.scoped(funnelStates(t(s, dir, "events")), adaptive = true)
    graft.Scratch.fill(st)
    st
  }

  val q126 = Q.staged(
    "q126_funnel_erase",
    "user erasure from funnel state: removed users' state rows deleted == recompute over survivors",
    Some(s"""WITH ev AS (
        SELECT user_id, event_type, ts FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0),
      v AS (
        SELECT user_id, min(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM ev e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM ev e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      SELECT v.user_id,
        CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                  WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS reached_step,
        date_diff('microsecond', v.t1, c.t2) AS v2c_micros,
        date_diff('microsecond', c.t2, p.t3) AS c2p_micros
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id"""))(q126Arts) { (s, dir, standing) =>
    val e = t(s, dir, "events")
    val removed = e.where(erasedUsers).select(col("user_id")).distinct()
    funnelReport(eraseFunnelUsers(standing, removed))
  }

  // ---- q131: INCREMENTAL BATCH SESSIONIZATION — the session family's
  // missing batch add half (r15 VERDICT task 2). The family had live
  // shapes (q67/q122/q129) and the full gap-split recompute; this is
  // the table a warehouse maintains: fold an arriving event batch into
  // a STANDING session table, where a batch event can EXTEND a
  // standing session (either end), OPEN a new one, or BRIDGE two
  // standing sessions into one — the interval analog of q105's
  // component bridge merge.

  /** Full gap-split session table over an event relation: one row per
    * (user, session) with event count and bounds — q122's oracle CTE
    * as a batch operator, INCLUDING open tails (this is a stored
    * table, not an emission log). Establishes the table invariant
    * [[mergeSessions]] relies on: each session's events are internally
    * gap-connected and consecutive sessions of a user are separated by
    * more than the gap. */
  private[graft] def sessionTable(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    e.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > SessGapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
  }

  /** SESSION-TABLE MERGE — fold an event batch into a standing session
    * table. Untouched users pass through via a broadcast anti-join on
    * the batch's user set; a touched user's standing sessions and
    * batch events merge as INTERVALS: sessions are (start, end, n)
    * items, events are (ts, ts, 1) points, and a single
    * sweep — items in start order, break where start exceeds the
    * running max end by more than the gap — regroups them.
    *
    * EXACT with NO arrival contract, unlike q119/q120: the sweep over
    * intervals computes the same gap-components as the event-level
    * recompute, because each standing session is internally
    * gap-connected (the [[sessionTable]] invariant) — so two items
    * land in one component iff their underlying events do, whether
    * the batch is a suffix, a backfill inside history, or disorder
    * across both. Every branch falls out of the same sweep: a point
    * within the gap of a session's reach extends it, a point beyond
    * every reach opens a session, a point (or chain of points) whose
    * reach spans the gap between two standing sessions BRIDGES them,
    * a point inside a session's span only increments its count. The
    * output re-satisfies the invariant, so merges COMPOSE day after
    * day without drift.
    *
    * The one input contract is EXACTLY-ONCE ingest: the session table
    * stores counts, not event ids, so a batch row duplicating an
    * already-folded event silently inflates n_events — the same
    * information the q128 two-int state discards for boundedness; a
    * deployment needing redelivery tolerance keys the batch by
    * event_id and dedups it against a recent-ids side table before the
    * fold (the q101 tombstone device).
    *
    * Scale shape: the standing table shuffles ONLY for the touched
    * users' rows (the interval sweep's window partitions by user_id,
    * and its input is batch-bounded: batch points + touched users'
    * sessions); the untouched majority is a broadcast anti-join
    * passthrough, and the touched/untouched split broadcasts the
    * batch's distinct-user set (batch-bounded, the q125 removal-set
    * shape). Nothing corpus-sized shuffles. */
  private[graft] def mergeSessions(standing: DataFrame,
      batch: DataFrame): DataFrame = {
    // NOT Scratch-scoped (r20, measured): the two broadcasts of tt
    // are already deduped by ReuseExchange (one build serves the
    // semi and anti halves), so caching it only added a
    // materialization pass — q131 A/B: jobs 6→9, tasks 70→197,
    // executor time 2×. Expensive batch PIPELINES are covered at the
    // source instead (dedupBatchGated scopes its result). The
    // standing table's two scans likewise stay: the broadcast-pruned
    // semi/anti split is exchange-free, which beats windowing the
    // whole store through one pass.
    val tt = batch.select(col("user_id")).distinct()
    val sTouched = standing.join(broadcast(tt), Seq("user_id"), "left_semi")
    val sRest = standing.join(broadcast(tt), Seq("user_id"), "left_anti")
    val items = sTouched
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .unionByName(batch.select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        unix_micros(col("ts")).as("end_us"), lit(1L).as("n_events")))
    // Total order inside each user (start, end, n) — ties are
    // interchangeable for the running max, so brk is deterministic.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("start_us"), col("end_us"), col("n_events"))
    val prevReach = max(col("end_us")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = items
      .withColumn("brk",
        when(prevReach.isNull || col("start_us") - prevReach > SessGapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("start_us")).as("start_us"), max(col("end_us")).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
    sRest.unionByName(merged)
  }

  /** The registered q131 split: a deterministic 1/8 of EVENTS (hashed
    * by event_id, so the held-out batch is sprinkled through the whole
    * time range and through existing sessions — the shape that makes
    * extend/open/bridge/interior all fire, unlike a time-suffix batch
    * which can only extend tails). */
  private[graft] val sessBatchEvents: Column =
    h60(concat(lit("sessbatch:"), col("event_id"))) % 8 === 0

  /** q131's standing artifact — the session table over the 7/8
    * standing events (q119's prepare note applies; the timed body is
    * the recurring batch fold). */
  private def q131Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    // Persisted user-bucketed STORE (r16 VERDICT task 4): the standing
    // side already flowed exchange-free (broadcast semi/anti split);
    // the store makes it a durable deployment artifact, and the
    // touched-rows scan arrives bucket-sorted by user.
    bucketedStore(s, dir, "sess_pre8", "user_id")(
      sessionTable(t(s, dir, "events").where(!sessBatchEvents)))

  /** The registered instance: the standing 7/8 session table absorbs
    * the held-out 1/8 batch; the oracle is the full gap-split
    * recompute over ALL events (q122's CTE without the emission-log
    * filters), so the driver's hash gate re-proves merge == recompute
    * cross-engine every round. SessionMergeSpec pins each branch
    * (extend forward/backward, open, two-session bridge, chain
    * bridge, interior count) on crafted tables and proves the sf
    * split fires the bridge branch non-vacuously. */
  val q131 = Q.staged(
    "q131_session_table_merge",
    "incremental batch sessionization: event batch folded into the standing session table (extend/open/bridge) == recompute",
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b)
      SELECT user_id, count(*) AS n_events,
        min(ts_us) AS start_us, max(ts_us) AS end_us
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_us"""))(q131Arts) { (s, dir, standing) =>
    val e = t(s, dir, "events")
    mergeSessions(standing, e.where(sessBatchEvents))
      .orderBy(col("user_id"), col("start_us"))
  }

  // ---- q133: REDELIVERY-TOLERANT session fold — the registered
  // witness for q131's one input contract. q131 documents exactly-once
  // ingest and sketches the recipe ("keys the batch by event_id and
  // dedups it against a recent-ids side table"); q133 IS that recipe,
  // registered and oracle-checked: the batch arrives WITH duplicates
  // (in-batch redelivery AND redelivery of already-folded events), and
  // the fold must still equal the duplicate-free recompute.

  /** Drop redelivered rows from an event batch before the session
    * fold: in-batch duplicates collapse by event_id; rows whose
    * event_id the standing side store already absorbed are dropped by
    * the two-step broadcast device (the q116 persisted-banding probe
    * shape) — the corpus-sized id store is SCANNED once and probed
    * with the broadcast batch ids, giving the batch-bounded
    * intersection, which then anti-joins the batch; the store itself
    * never shuffles and is never on the build side of anything. A
    * deployment bounds the store to its redelivery horizon (ids older
    * than the maximum redelivery delay can be aged out, exactly like
    * a q101 tombstone horizon); the registered instance keeps the
    * full standing id set, the horizonless worst case. */
  private[graft] def dedupBatch(batch: DataFrame,
      standingIds: DataFrame): DataFrame =
    dedupBatchGated(batch, standingIds, DedupBroadcastIdCap)

  /** Batch-id ceiling for [[dedupBatch]]'s broadcast probe —
    * RECALIBRATED from the measured crossover (r17 VERDICT task 2 /
    * ADVICE: the old 20M default was a driver-safety ceiling, not a
    * performance choice, and r17's own SMVGATE A/B showed the shuffle
    * branch 4.5× faster at 10.8M ids). GateCrossBench's ladder
    * against the 25.2M-id volume store (THROUGHPUT r18) measures the
    * shuffle anti-join FASTER AT EVERY POINT from 150k to 14.4M batch
    * ids (4.9 s vs 7.0 s at 150k, 5.8 s vs 15.5 s at 9.6M, 7.3 s vs
    * 21.3 s at 14.4M): the broadcast path pays two serial
    * broadcast-and-wait stages (probe the store with the batch ids,
    * then anti-join the batch against the probed intersection), while
    * the shuffle path exchanges once and — on the registered BUCKETED
    * id store — exchanges only the batch side. 100k keeps the
    * broadcast plan only for trickle batches below the measured
    * ladder (≤ ~800 KB serialized, where two broadcasts beat spinning
    * up any exchange and the difference is noise); everything above
    * routes to the measured-faster shuffle branch. Driver safety is
    * now trivially implied (the old 20M ceiling argument is moot two
    * orders of magnitude below it). */
  private[graft] val DedupBroadcastIdCap = 100000L

  /** [[dedupBatch]] with the gate exposed for tests: cap 0 forces the
    * shuffle branch; a huge cap forces the broadcast branch. The
    * probe count doubles as the action that materializes the deduped
    * batch's cache, which both joins reuse — the q51 probe-then-pick
    * pattern, so the gate costs no extra pass. */
  private[graft] def dedupBatchGated(batch: DataFrame,
      standingIds: DataFrame, broadcastIdCap: Long): DataFrame = {
    val uniq = graft.Scratch.scoped(batch.dropDuplicates("event_id"), adaptive = true)
    // The RESULT is Scratch-scoped too (r20 optimization): the fold a
    // deduped batch feeds reads it more than once (mergeSessions'
    // touched-split, the funnel windows), and every unmaterialized
    // reference re-ran this device — including its corpus-sized
    // standing-store scan, the one pass the scaladoc promises is paid
    // once. Batch-bounded (it is a subset of `uniq`).
    graft.Scratch.scoped(
      if (uniq.count() <= broadcastIdCap) {
        val seen = standingIds.join(broadcast(uniq.select(col("event_id"))),
          Seq("event_id"), "left_semi")
        uniq.join(broadcast(seen), Seq("event_id"), "left_anti")
      } else {
        // Oversized batch: both sides exchange on event_id once
        // (sort-merge anti-join). The store-scanned-once property is
        // kept — the price of a batch too big to broadcast is its own
        // shuffle, which is the batch's write amplification floor
        // anyway.
        uniq.join(standingIds, Seq("event_id"), "left_anti")
      }, adaptive = true)
  }

  /** The registered q133 redelivery: every event whose
    * h60("redeliver:"||event_id) % 4 == 0 arrives AGAIN in the batch —
    * including ALREADY-FOLDED standing events (the at-least-once
    * delivery a checkpoint replay produces) and second copies of the
    * batch's own rows. ~25 % duplicate pressure. */
  private[graft] val redelivered: Column =
    h60(concat(lit("redeliver:"), col("event_id"))) % 4 === 0

  /** q133's standing artifacts — q131's session table plus the
    * standing event-id store the dedup probes. */
  private def q133Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // The id store is bucketed by event_id so the size-gated dedup's
    // SHUFFLE branch (an over-cap batch) exchanges only the batch —
    // the store-side anti-join reads its distribution from the scan.
    val st = bucketedStore(s, dir, "sess_pre8", "user_id")(
      sessionTable(t(s, dir, "events").where(!sessBatchEvents)))
    val ids = bucketedStore(s, dir, "evids_pre8", "event_id")(
      t(s, dir, "events").where(!sessBatchEvents).select(col("event_id")))
    (st, ids)
  }

  /** The registered instance: the q131 batch UNIONED with the
    * redelivered rows (duplicates of standing AND batch events) folds
    * through [[dedupBatch]] into the same standing table; the oracle
    * is q131's VERBATIM (the full duplicate-free recompute), so the
    * driver's hash gate re-proves that redelivery changes NOTHING —
    * the whole point of the witness. SessionMergeSpec's redelivery
    * cases pin both duplicate classes and the sf replay asserts the
    * duplicate pressure is real (non-vacuous). */
  val q133 = Q.staged(
    "q133_session_merge_redelivery",
    "redelivery-tolerant session fold: duplicate batch rows dropped against the standing id store == recompute",
    q131.oracle)(q133Arts) { case (s, dir, (standing, ids)) =>
    val e = t(s, dir, "events")
    val batch = e.where(sessBatchEvents).unionByName(e.where(redelivered))
    mergeSessions(standing, dedupBatch(batch, ids))
      .orderBy(col("user_id"), col("start_us"))
  }

  // ---- q135/q136: the session table's ERASE halves — the matrix
  // rule (every standing artifact gets add, remove, and user-erase
  // halves) applied to the artifact q131 introduced. q135 is the
  // whole-user delete; q136 is the PARTIAL erasure at each user's own
  // request instant (the q130/q134 privacy feed's batch half), where
  // the batch shape can do what the q134 stream handler provably
  // cannot: SPLIT a session straddling T, because the event store
  // still holds the user's post-T events to rebuild from.

  /** q135's standing artifact — the FULL-corpus session table. */
  private def q135Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bucketedStore(s, dir, "sess_full", "user_id")(
      sessionTable(t(s, dir, "events")))

  /** WHOLE-USER erasure from the session table — trivial, and
    * provably so (q126's argument, interval edition): sessions never
    * look across users, so erasing a user IS deleting their rows via
    * a broadcast anti-join on the batch-bounded removal set. The
    * oracle recomputes the gap-split over the survivors' events, so
    * the driver re-proves delete == rebuild cross-engine every
    * round. */
  val q135 = Q.staged(
    "q135_session_table_user_erase",
    "user erasure from the standing session table: broadcast anti-join row delete == recompute over survivors",
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events
        WHERE ${oH60("'erase:' || CAST(user_id AS VARCHAR)")} % 10 <> 0),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b)
      SELECT user_id, count(*) AS n_events,
        min(ts_us) AS start_us, max(ts_us) AS end_us
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_us"""))(q135Arts) { (s, dir, standing) =>
    val removed = t(s, dir, "events").where(erasedUsers)
      .select(col("user_id")).distinct()
    standing
      .join(broadcast(removed), Seq("user_id"), "left_anti")
      .orderBy(col("user_id"), col("start_us"))
  }

  /** The q130/q134 per-user request instants, batch-side: T(u) =
    * base + (h60("reqday:"+u) % range) days over the [[erasedUsers]]
    * cohort — ONE privacy feed across the stream and batch halves. */
  private[graft] val reqInstantUs: Column = privacyInstantUs

  /** PARTIAL session-table erasure at per-user instants — forget each
    * requested user's history BEFORE their own T while keeping their
    * post-T sessions. The touched users' rows are dropped wholesale
    * (broadcast anti-join) and REBUILT from their post-T events: the
    * event store is scanned once, pruned to the touched users by a
    * broadcast semi-join (the q116 store-probe shape), and the
    * gap-split runs over that batch-bounded slice only — so a session
    * STRADDLING a user's T is split exactly at its first post-T
    * event, the reconstruction the q134 stream handler cannot perform
    * (no event history in session state; its scaladoc documents the
    * hazard, this operator is the batch answer). Untouched users'
    * rows are bit-identical passthrough; the oracle recomputes the
    * gap-split over the per-user-T filtered relation, so erase ==
    * rebuild is re-proven cross-engine every round. */
  private[graft] def eraseSessionsBeforeT(standing: DataFrame,
      events: DataFrame, requests: DataFrame): DataFrame =
    eraseSessionsBeforeTFrom(standing, cohortEvents(events, requests), requests)

  /** [[eraseSessionsBeforeT]] over a pre-joined [[cohortEvents]]
    * slice — see [[eraseFunnelBeforeTFrom]]: row-identical, one scan
    * and one broadcast join fewer per call. */
  private[graft] def eraseSessionsBeforeTFrom(standing: DataFrame,
      cohort: DataFrame, requests: DataFrame): DataFrame = {
    val postT = cohort
      .where(unix_micros(col("ts")) >= col("req_us"))
      .select(col("user_id"), col("ts"))
    standing.join(broadcast(requests.select(col("user_id"))),
        Seq("user_id"), "left_anti")
      .unionByName(sessionTable(postT))
  }

  /** The standing artifacts of q136, q137 and q143: the privacy
    * feed's bounded store and the family's full-corpus state. The
    * feed reads its store (r20 — the r17 q140 accounting applied to
    * the single-family erases: a deployment's request log IS its own
    * table; deriving it inline cost the body a corpus scan per
    * reference). The oracles keep the events-derived DEFINITION
    * inline. */
  private def withRequests[A](arts: (org.apache.spark.sql.SparkSession, String) => A)
      : (org.apache.spark.sql.SparkSession, String) => (DataFrame, A) =
    (s, dir) => (EpochOps.requestStore(s, dir), arts(s, dir))

  val q136 = Q.staged(
    "q136_session_table_erase_before_t",
    "partial session-table erasure at per-user T: touched rows rebuilt from post-T events (straddling sessions split) == recompute",
    Some(s"""WITH req AS (
        SELECT user_id, ${oPrivacyInstantUs("user_id")} AS t_us
        FROM (SELECT DISTINCT user_id FROM events)
        WHERE ${oPrivacyRequested("user_id")}),
      x AS (
        SELECT e.user_id, epoch_us(e.ts) AS ts_us FROM events e
        LEFT JOIN req r ON e.user_id = r.user_id
        WHERE r.user_id IS NULL OR epoch_us(e.ts) >= r.t_us),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b)
      SELECT user_id, count(*) AS n_events,
        min(ts_us) AS start_us, max(ts_us) AS end_us
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_us"""))(withRequests(q135Arts)) {
    case (s, dir, (feed, standing)) =>
      // The feed is broadcast into two joins here.
      val requests = graft.Scratch.scoped(feed, adaptive = true)
      eraseSessionsBeforeT(standing, t(s, dir, "events"), requests)
        .orderBy(col("user_id"), col("start_us"))
  }

  // ---- q137: PARTIAL RETENTION ERASURE at per-user instants — the
  // cohort-move shape, and the batch half of q132 (as q136 is of
  // q134). Forgetting a user's pre-T activity is NOT a plain
  // decrement: their cohort day itself may be pre-T, so the user must
  // LEAVE their old cohort entirely and RE-COHORT at their first
  // post-T day — a delete+reinsert over the additive cells.

  /** Erase each requested user's pre-T activity from the standing
    * retention state. Two already-proven steps compose:
    *
    *   1. [[eraseRetention]] — the FULL removal of the touched users
    *      (q125 verbatim: per-cell decrement over their complete
    *      standing activity, zero-cell drop, and q125's in-plan
    *      guards against foreign/incomplete activity input);
    *   2. the re-add of their post-T activity as FRESH users: new
    *      cohort = first post-T day, cells merge by plain addition.
    *      No q120-style max-day guard applies or is needed — after
    *      step 1 the touched users have no standing rows, so their
    *      re-added pairs cannot double-count, and a re-added user
    *      landing on an existing cohort day merges into that cohort's
    *      cells additively (including its (c, 0) size cell).
    *
    * Equality with the per-user-T filtered recompute holds user by
    * user: an untouched user's rows never move (both steps touch only
    * requested users' contributions); a touched user's post-step
    * contribution is exactly the filtered relation's (their post-T
    * distinct days, offset against their first post-T day). The one
    * day-granularity subtlety is carried by the INPUTS, not the
    * arithmetic: `postTActivity` must be the distinct (user, day)
    * pairs of the FILTERED events — a day straddling a user's T
    * belongs in it iff a post-T event exists on that day — which the
    * registered instance recovers from the event store with the q136
    * pruned-scan shape. Scale: both activity relations and every
    * aggregation here are bounded by the request batch; the standing
    * state never rescans history. */
  private[graft] def eraseRetentionBeforeT(f: DataFrame, cells: DataFrame,
      fullActivity: DataFrame, postTActivity: DataFrame)
      : (DataFrame, DataFrame) = {
    val (f1, c1) = eraseRetention(f, cells, fullActivity)
    val fNew = postTActivity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val delta = postTActivity.join(fNew, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val merged = c1
      .select(col("cohort_day"), col("day_offset"), col("n_users").as("c_old"))
      .join(delta.select(col("cohort_day"), col("day_offset"),
          col("n_users").as("c_new")),
        Seq("cohort_day", "day_offset"), "full")
      .select(col("cohort_day"), col("day_offset"),
        (coalesce(col("c_old"), lit(0L)) + coalesce(col("c_new"), lit(0L)))
          .as("n_users"))
    (f1.unionByName(fNew), merged)
  }

  /** q137's standing artifacts — the full-corpus retention state as
    * stores. */
  private def q137Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val f = bucketedStore(s, dir, "retfirst_full", "user_id")(
      retentionState(t(s, dir, "events"))._1)
    val cells = plainStore(s, dir, "retcells_full")(
      retentionState(t(s, dir, "events"))._2)
    (f, cells)
  }

  /** The registered instance: the q130/q134/q136 privacy feed's
    * per-user instants against the standing retention state; oracle =
    * q114's matrix over the per-user-T filtered relation (q132's
    * oracle generalized to per-user instants), so the driver re-proves
    * delete+re-cohort == filtered recompute cross-engine every round.
    * AnalyticEraseSpec pins cohort-move / vanish / straddle-day /
    * same-cohort-rejoin; EraseVolBench's partial phase runs it at
    * 28.7M events. */
  val q137 = Q.staged(
    "q137_retention_erase_before_t",
    "partial retention erasure at per-user T: full decrement + post-T re-cohort (cohort move) == filtered recompute",
    // The per-user-T filtered rebuild, hoisted to the package object
    // (r17 ADVICE) — q139 and the epochs share it without touching
    // this object during their init.
    Some(oRetentionEraseBeforeTSql))(withRequests(q137Arts)) {
    case (s, dir, (feed, (f, cells))) =>
      val e = t(s, dir, "events")
      val requests = graft.Scratch.scoped(feed, adaptive = true)
      // Both activity relations derive from one cohort slice (r20:
      // the [[cohortEvents]] refactor — the semi-join the old
      // fullActivity branch paid was subsumed by the inner join),
      // Scratch-scoped because fullActivity and postT both read it.
      val cohort = graft.Scratch.scoped(cohortEvents(e, requests), adaptive = true)
      val fullActivity = cohort
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val postT = cohort.where(unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val (_, after) = eraseRetentionBeforeT(f, cells, fullActivity, postT)
      retentionReport(after)
  }

  // ---- q142: REDELIVERY-TOLERANT retention fold — q133's recipe
  // applied to the analytic family (r16 VERDICT task 5). The two
  // families answer redelivery differently, and the split is now
  // proven rather than assumed:
  //
  //   * The FUNNEL fold needs NO front-end: mergeFunnelStates is
  //     redelivery-IDEMPOTENT. Every anchor is a min over events
  //     strictly later than the previous anchor, so a redelivered
  //     copy of any already-folded event can only reproduce the min
  //     it set (guards compare with <, not <=, so equality passes
  //     untouched) — pinned in AnalyticMergeSpec's idempotence case.
  //
  //   * The RETENTION fold is GUARDED but not tolerant: a
  //     cross-epoch redelivery (yesterday's batch replayed today)
  //     lands on days <= the standing max activity day and
  //     raise_error()s loudly (never a silent double-count — the
  //     in-batch distinct already collapses same-batch dupes). A
  //     deployment that wants the fold to PROCEED drops redelivered
  //     rows first; q142 registers that front-end: [[dedupBatch]]
  //     against the standing event-id store, then q120's fold.

  /** q142's standing artifacts — q120's (first-seen, cells) pair plus
    * the standing event-id store the dedup probes (q133's device,
    * retention edition). */
  private def q142Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    def standingEvents =
      t(s, dir, "events").where(col("ts") < lit(AnalyticCutoff).cast("timestamp"))
    val f = bucketedStore(s, dir, "retfirst_pre", "user_id")(
      retentionState(standingEvents)._1)
    val cells = plainStore(s, dir, "retcells_pre")(
      retentionState(standingEvents)._2)
    val ids = bucketedStore(s, dir, "evids_cut", "event_id")(
      standingEvents.select(col("event_id")))
    (f, cells, ids)
  }

  /** The registered instance: q120's suffix batch UNIONED with the
    * q133 redelivery set (~25 % of ALL events — pre-cutoff rows are
    * the cross-epoch class that would raise q120's max-day guard,
    * suffix rows are second copies the in-batch dedup collapses),
    * deduped through the size-gated [[dedupBatch]] and folded; the
    * oracle is q120's VERBATIM (the full recompute), so the driver's
    * hash gate re-proves that redelivery changes NOTHING once the
    * front-end runs. AnalyticMergeSpec pins the guard raising
    * WITHOUT the front-end on the same dirty batch. */
  val q142 = Q.staged(
    "q142_retention_merge_redelivery",
    "redelivery-tolerant retention fold: dirty suffix batch deduped against the standing id store == recompute",
    q120.oracle)(q142Arts) { case (s, dir, (f, cells, ids)) =>
    val cut = lit(AnalyticCutoff).cast("timestamp")
    val e = t(s, dir, "events")
    val dirty = e.where(col("ts") >= cut).unionByName(e.where(redelivered))
    val (_, merged) = mergeRetention(f, cells, dedupBatch(dirty, ids))
    retentionReport(merged)
  }

  // ---- q147: the HORIZON-AGED id store (r17 VERDICT task 6) —
  // q133/q142's standing event-id store keeps EVERY id ever folded,
  // the horizonless worst case: 25.2M ids at the volume scale, 2.5B
  // at 100× — an unbounded artifact in a pipeline whose other state
  // is all bounded. The deployment recipe q133's scaladoc names is
  // registered here: redelivery has a HORIZON (a checkpoint replay or
  // an at-least-once queue re-sends within its retention window, not
  // from the beginning of time), so the id store only needs the ids
  // inside it — ids older than the maximum redelivery delay age out,
  // exactly like a q101 tombstone horizon.

  /** The registered redelivery horizon: ids (and redeliveries) on or
    * after this instant. Mid-window so both classes are non-vacuous
    // at the sf scales (ids aged out AND redeliveries caught).
    */
  private[graft] val RedeliveryHorizon = "2024-01-15"

  /** [[dedupBatch]] against a horizon-aged id store. The aged store
    * is sufficient ONLY under the horizon contract (every redelivered
    * row's ts is at/after the horizon); a batch row predating it is
    * indistinguishable from an aged-out redelivery — folding it could
    * silently double-count, which is exactly the failure class the
    * registered operators refuse to have — so the guard raises
    * IN-PLAN on any pre-horizon batch row. This is deliberately
    * CONSERVATIVE: the full-store [[dedupBatch]] would fold a genuine
    * pre-horizon backfill exactly (mergeSessions has no arrival
    * contract), but the aged variant cannot tell backfill from
    * redelivery, and correctness beats admitting the batch. A
    * deployment that needs pre-horizon backfills routes them through
    * a separate, redelivery-free channel (or widens the horizon).
    * Scale: the store is bounded by the horizon's event volume — the
    * 100× cost becomes O(days × rate), not O(history). */
  private[graft] def dedupBatchAged(batch: DataFrame, agedIds: DataFrame,
      horizon: String): DataFrame = {
    val cut = lit(horizon).cast("timestamp")
    // The guard wraps EVENT_ID — the dedup key — not ts (r18 ADVICE):
    // a ts-wrapped guard only fired when a row's ts was projected
    // AFTER dedup, so a violating row that happened to be eliminated
    // as a duplicate (dropDuplicates / the store anti-join never
    // evaluate its ts) passed silently, weaker than the documented
    // "raises on ANY pre-horizon batch row". The dedup must evaluate
    // every row's key, so keying the guard makes the contract hold
    // as stated (SessionMergeSpec pins the duplicate-violator case).
    val guarded = batch.withColumn("event_id",
      when(col("ts") < cut, raise_error(concat(
        lit("q147 redelivery-horizon violation: batch event "),
        col("event_id").cast("string"), lit(" at "),
        col("ts").cast("string"),
        lit(s" predates the id-store horizon $horizon — an aged-out " +
          "redelivery would silently double-fold")).cast("long")))
        .otherwise(col("event_id")))
    dedupBatch(guarded, agedIds)
  }

  /** q147's standing artifacts — q131's session table plus the AGED
    * id store (standing ids at/after the horizon only). */
  private def q147Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val st = bucketedStore(s, dir, "sess_pre8", "user_id")(
      sessionTable(t(s, dir, "events").where(!sessBatchEvents)))
    val ids = bucketedStore(s, dir, "evids_pre8_aged", "event_id")(
      t(s, dir, "events")
        .where(!sessBatchEvents &&
          col("ts") >= lit(RedeliveryHorizon).cast("timestamp"))
        .select(col("event_id")))
    (st, ids)
  }

  /** The registered instance: q133's redelivery shape restricted to
    * the horizon — the batch is the held-out events AT/AFTER the
    * horizon plus the ~25 % redelivered copies AT/AFTER the horizon
    * (both duplicate classes present: copies of standing events the
    * AGED store must catch, and in-batch copies), deduped through
    * [[dedupBatchAged]] and folded into the standing table. The
    * oracle is the gap-split recompute over (all standing events ∪
    * the post-horizon batch events), so the driver re-proves
    * aged-store dedup == recompute cross-engine every round.
    * SessionMergeSpec pins equality with the FULL store on a
    * horizon-respecting batch, the loud raise on a violating one,
    * and the sf census that both aged classes are non-vacuous. */
  val q147 = Q.staged(
    "q147_session_merge_aged_ids",
    s"redelivery-tolerant session fold with a horizon-aged id store (ids >= $RedeliveryHorizon): bounded store == recompute, pre-horizon batches refused loudly",
    Some(s"""WITH x AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events
        WHERE ${oH60("'sessbatch:' || CAST(event_id AS VARCHAR)")} % 8 <> 0
           OR ts >= TIMESTAMP '$RedeliveryHorizon 00:00:00'),
      b AS (
        SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS brk
        FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (
        SELECT user_id, ts_us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM b)
      SELECT user_id, count(*) AS n_events,
        min(ts_us) AS start_us, max(ts_us) AS end_us
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_us"""))(q147Arts) { case (s, dir, (standing, agedIds)) =>
    val e = t(s, dir, "events")
    val hcut = lit(RedeliveryHorizon).cast("timestamp")
    val batch = e.where(sessBatchEvents && col("ts") >= hcut)
      .unionByName(e.where(redelivered && col("ts") >= hcut))
    mergeSessions(standing, dedupBatchAged(batch, agedIds, RedeliveryHorizon))
      .orderBy(col("user_id"), col("start_us"))
  }

  // ---- q143: PARTIAL FUNNEL ERASURE at per-user T — the batch
  // matrix cell [[eraseFunnelBeforeT]] filled for the q140 epoch,
  // registered in its own right so the driver gates it directly (the
  // funnel family's q136/q137 sibling; its stream twin is q130).

  /** q143's standing artifact — the full-corpus funnel states as a
    * user-bucketed store. */
  private def q143Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bucketedStore(s, dir, "funstates_full", "user_id")(
      funnelStates(t(s, dir, "events")))

  /** The registered instance: the shared privacy feed's per-user
    * instants against the standing funnel states; the oracle is
    * q130's VERBATIM (the per-user-T filtered cascade — the stream
    * and batch halves of the same erasure prove against ONE rebuild),
    * so the driver re-proves rebuild-from-post-T == filtered
    * recompute cross-engine every round. EpochSpec pins the crafted
    * branches (post-T rebuild, vanish, untouched passthrough). */
  val q143 = Q.staged(
    "q143_funnel_erase_before_t",
    "partial funnel erasure at per-user T: touched cascades rebuilt from post-T events == filtered recompute",
    // q130's VERBATIM rebuild, via the package object rather than
    // StreamingOps.q130.oracle (r17 ADVICE: that cross-object
    // reference was half of a circular init dependency with q139).
    Some(oFunnelEraseBeforeTSql))(withRequests(q143Arts)) {
    case (s, dir, (feed, states)) =>
      val requests = graft.Scratch.scoped(feed, adaptive = true)
      funnelReport(eraseFunnelBeforeT(states, t(s, dir, "events"), requests))
  }

  val all: Seq[Q] = Seq(q15, q16, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q29, q39, q70)
}
