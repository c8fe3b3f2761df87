package graft.queries

import graft.Q
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * q55 is the exact brute-force baseline: broadcast the (tiny) query
  * set against the corpus scan, score every vector, keep top-k per
  * query. At 100 TB the corpus side stays partition-parallel with no
  * shuffle of the vectors themselves — only (query_id, vec_id, score)
  * triples move, and the per-query top-k runs as a window over that
  * narrow projection. q56 is the scale path: sign-LSH bucket the
  * corpus once (16 buckets from 4 axis-aligned hyperplanes), then
  * score only the bucket that matches each query — the same
  * probe-the-cell structure as an IVF index with nprobe=1.
  *
  * Dot products are index-wise double folds evaluated in the same
  * sequential order in Spark and the DuckDB oracle, so scores agree
  * bit-for-bit; ranking ties break on vec_id for total determinism.
  */
object SimilarityOps {

  /** Native sequential-fold dot product (plans.VecDotProduct): same
    * double accumulation order as the previous
    * aggregate(zip_with(...)) form — bit-identical scores — but
    * codegen'd with no per-pair allocation. Built as a Column
    * directly — no session registry mutation. */
  private def dot(x: Column, y: Column): Column = graft.plans.VecDotProduct(x, y)

  private val oDot =
    (a: String, b: String) =>
      s"""list_aggregate(list_transform(range(1, len($a) + 1),
         |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin

  private val NQueries = 8
  private val TopK = 5

  /** Brute-force cosine top-k: query vectors vec_id < 8, k = 5. */
  val q55 = Q(
    "q55_cosine_topk",
    s"brute-force cosine top-$TopK neighbors for $NQueries query vectors",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      val q = e.where(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos6"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos6").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"), round(col("cos6"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, embedding AS v,
          sqrt(${oDot("embedding", "embedding")}) AS norm
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          round(${oDot("q.v", "e.v")} / (q.norm * e.norm), 6) AS cos6
        FROM e q JOIN e ON q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos6,
          row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        round(cos6, 4) AS cosine
      FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""))

  private val ATopK = 3

  /** Sign-LSH ANN: probe only the query's own bucket (IVF-style,
    * nprobe=1), top-3 within it. Approximate by construction — the
    * bucketing is the documented recall trade vs q55's exact scan. */
  val q56 = Q(
    "q56_ann_lsh_topk",
    s"sign-LSH bucketed ANN top-$ATopK for $NQueries query vectors",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
        .withColumn("bucket", concat(
          when(element_at(col("v"), 1) >= 0, "1").otherwise("0"),
          when(element_at(col("v"), 17) >= 0, "1").otherwise("0"),
          when(element_at(col("v"), 33) >= 0, "1").otherwise("0"),
          when(element_at(col("v"), 49) >= 0, "1").otherwise("0")))
      val q = e.where(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qn"), col("bucket").as("qbucket"))
      val scored = e.join(broadcast(q),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos6"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos6").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= ATopK)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"), round(col("cos6"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, embedding AS v,
          sqrt(${oDot("embedding", "embedding")}) AS norm,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          round(${oDot("q.v", "e.v")} / (q.norm * e.norm), 6) AS cos6
        FROM e q JOIN e ON q.vec_id < $NQueries AND e.bucket = q.bucket
                      AND e.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos6,
          row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        round(cos6, 4) AS cosine
      FROM ranked WHERE rank <= $ATopK ORDER BY query_id, rank"""))

  private val IvfCells = 16
  private val IvfProbe = 2

  /** IVF-Flat ANN: a 16-centroid coarse quantizer (deterministic
    * training sample: the 16 lowest vec_ids), every vector assigned to
    * its best cell, queries probing their nprobe=2 nearest cells, exact
    * cosine inside the probed cells only.
    *
    * Scale shape: the centroid table broadcasts; assignment is one
    * scan + a 16-way scored window (no shuffle of vectors, only
    * (vec_id, cell)); the probe join is an equi-join on cell id, so
    * search cost tracks corpus/IvfCells × nprobe instead of the full
    * scan — the standard IVF trade vs q55's exact baseline, with
    * better recall than q56's single-bucket LSH probe. */
  val q59 = Q(
    "q59_ann_ivf_topk",
    s"IVF($IvfCells,nprobe=$IvfProbe) ANN top-$ATopK for $NQueries query vectors",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      val cents = e.where(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cell"), col("v").as("cv"), col("norm").as("cn"))
      val affinity = e.join(broadcast(cents), lit(true))
        .select(col("vec_id"), col("v"), col("norm"), col("cell"),
          round(dot(col("v"), col("cv")) / (col("norm") * col("cn")), 6).as("aff"))
      val aw = Window.partitionBy(col("vec_id"))
        .orderBy(col("aff").desc, col("cell").asc)
      val ranked = affinity.withColumn("crank", row_number().over(aw))
      val assigned = ranked.where(col("crank") === 1)
        .select(col("vec_id"), col("v"), col("norm"), col("cell"))
      val probes = ranked.where(col("vec_id") < NQueries && col("crank") <= IvfProbe)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qn"), col("cell"))
      val scored = assigned.join(broadcast(probes),
          assigned("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos6"))
        .distinct()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos6").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= ATopK)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"), round(col("cos6"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, embedding AS v,
          sqrt(${oDot("embedding", "embedding")}) AS norm
        FROM embeddings),
      cents AS (
        SELECT vec_id AS cell, v AS cv, norm AS cn FROM e WHERE vec_id < $IvfCells),
      affinity AS (
        SELECT e.vec_id, e.v, e.norm, cents.cell,
          round(${oDot("e.v", "cents.cv")} / (e.norm * cents.cn), 6) AS aff
        FROM e CROSS JOIN cents),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY aff DESC, cell ASC) AS crank
        FROM affinity),
      assigned AS (
        SELECT vec_id, v, norm, cell FROM ranked WHERE crank = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, norm AS qn, cell
        FROM ranked WHERE vec_id < $NQueries AND crank <= $IvfProbe),
      scored AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
          round(${oDot("p.qv", "a.v")} / (p.qn * a.norm), 6) AS cos6
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id),
      final AS (
        SELECT query_id, neighbor_id, cos6,
          row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        round(cos6, 4) AS cosine
      FROM final WHERE rank <= $ATopK ORDER BY query_id, rank"""))

  private val LloydIters = 2

  /** One Lloyd step, DataFrame-only: assign every vector to its
    * max-cosine centroid, then recompute each cell's centroid as the
    * element-wise mean of its members. The mean is an exact
    * DECIMAL(27,12) sum divided by the exact count (then rounded to 9
    * dp as a double), so it is independent of aggregation order — the
    * property that makes a floating-point k-means oracle-checkable at
    * all. Shuffle shape per step: one 16-way broadcast for
    * assignment, one hash shuffle keyed (cell, pos) for the mean —
    * both scale-linear in the corpus, nothing through the driver. */
  private def lloydStep(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Assignment via the map-side-combining argmax with the vector
    // riding through as first() (see [[assignedWithVec]]) — no
    // row_number window over the 16× fan-out, no join-back.
    val assigned = assignedWithVec(e, cents)
    assigned
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(
        sum(col("col").cast("double").cast(org.apache.spark.sql.types.DecimalType(27, 12)))
          .cast("double") / count(lit(1)), 9).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
  }

  /** Oracle text of one Lloyd step: `assign` from (e × prior cents),
    * then the exact-decimal element-wise mean. */
  private def oLloydStep(prev: String, out: String): String =
    s"""aff_$out AS (
       |  SELECT e.vec_id, e.v, c.cell,
       |    round(${oDot("e.v", "c.cv")} / (e.norm * c.cn), 6) AS aff
       |  FROM e CROSS JOIN $prev c),
       |asg_$out AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY aff DESC, cell ASC) AS crank FROM aff_$out)
       |  WHERE crank = 1),
       |comp_$out AS (
       |  SELECT cell, pos,
       |    round(CAST(sum(CAST(CAST(v[pos] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE)
       |      / count(*), 9) AS c
       |  FROM (SELECT cell, v, unnest(range(1, len(v) + 1)) AS pos FROM asg_$out)
       |  GROUP BY cell, pos),
       |$out AS (
       |  SELECT cell, cv, sqrt(${oDot("cv", "cv")}) AS cn FROM (
       |    SELECT cell, list(c ORDER BY pos) AS cv FROM comp_$out GROUP BY cell))""".stripMargin

  /** IVF with TRAINED centroids: k-means(16) refined by two Lloyd
    * iterations expressed purely as DataFrame aggregations, then the
    * q59 probe (nprobe=2, exact cosine inside probed cells, top-3).
    * Everything is deterministic: the seed set is the 16 smallest
    * multiplicative-hashed vec_ids (a fixed pseudo-random sample both
    * engines compute identically), and every mean is an exact decimal
    * sum — no RNG, no order-dependent float accumulation.
    *
    * Scale shape: seeding is a distributed top-k (TakeOrderedAndProject
    * on a 2-column projection — on a real corpus you'd seed from a
    * bounded TABLESAMPLE the same way); each Lloyd step is one
    * broadcast assignment pass + one (cell, pos)-keyed mean shuffle;
    * the trained quantizer then broadcasts for the probe join exactly
    * like q59. Training cost is iters × assignment, independent of
    * query count — the real IVF-index build shape. */
  /** Embeddings with precomputed norms — the shared scan. */
  private def embWithNorm(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Deterministic seed + [[LloydIters]] Lloyd refinements (see q79
    * doc). Shared by q79's probe and q85's diversity sampler. */
  private def trainCents(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val seedHash = (col("vec_id") * lit(2654435761L)) % lit(4294967296L)
    val seeds = e.select(col("vec_id"), col("v"), col("norm"), seedHash.as("h"))
      .orderBy(col("h"), col("vec_id")).limit(IvfCells)
    val sw = Window.orderBy(col("h"), col("vec_id"))
    val cents0 = seeds
      .withColumn("cell", (row_number().over(sw) - 1).cast("long"))
      .select(col("cell"), col("v").cast("array<double>").as("cv"), col("norm").as("cn"))
    (1 to LloydIters).foldLeft(cents0)((c, _) => lloydStep(e.sparkSession, e, c))
  }

  /** Per-(vector, centroid) cosine affinity — slim columns only: the
    * vectors themselves must NOT ride through the 16× fan-out (they
    * re-join by vec_id where needed; carrying them cost 10× shuffle
    * bytes at 2M vectors — IvfBench / THROUGHPUT.md). */
  private[graft] def affinityTo(rows: org.apache.spark.sql.DataFrame,
      trained: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rows.join(broadcast(trained), lit(true))
      .select(col("vec_id"), col("cell"),
        round(dot(col("v"), col("cv")) / (col("norm") * col("cn")), 6).as("aff"))

  /** Every vector's assigned cell (max affinity, ties to the lowest
    * cell) with its affinity — a partial-aggregating groupBy argmax
    * (struct max over (aff, -cell)), NOT a row_number window: the
    * map-side combine collapses the 16× affinity fan-out before the
    * shuffle, where a window would sort-shuffle all n·16 rows. The
    * tiebreak is identical to `row_number ORDER BY aff DESC, cell
    * ASC` = 1, which is what the oracle ranks. */
  private[graft] def assignedCells(e: org.apache.spark.sql.DataFrame,
      trained: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    affinityTo(e, trained)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("aff"), (-col("cell")).as("negcell"))).as("m"))
      .select(col("vec_id"), (-col("m.negcell")).as("cell"), col("m.aff").as("aff"))

  /** [[assignedCells]] with the vector (+ norm) riding THROUGH the
    * argmax as `first()` aggregates (identical across a vec_id's 16
    * fan-out rows) — consumers that need the assigned vector get it
    * without a join-back against the corpus, and the fan-out still
    * collapses map-side before the shuffle. */
  private[graft] def assignedWithVec(e: org.apache.spark.sql.DataFrame,
      trained: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.join(broadcast(trained), lit(true))
      .select(col("vec_id"), col("v"), col("norm"), col("cell"),
        round(dot(col("v"), col("cv")) / (col("norm") * col("cn")), 6).as("aff"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("aff"), (-col("cell")).as("negcell"))).as("m"),
        first(col("v")).as("v"), first(col("norm")).as("norm"))
      .select(col("vec_id"), col("v"), col("norm"),
        (-col("m.negcell")).as("cell"), col("m.aff").as("aff"))

  /** The full centroid ranking (crank 1..nprobe) for the query-prefix
    * vectors only — the window is fine HERE because the prefix is
    * driver-bounded (NQueries rows × 16 cells). */
  private def probeRanked(e: org.apache.spark.sql.DataFrame,
      trained: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("aff").desc, col("cell").asc)
    affinityTo(e.where(col("vec_id") < NQueries), trained)
      .withColumn("crank", row_number().over(aw))
      .where(col("crank") <= IvfProbe)
  }

  /** Oracle prefix shared by q79/q85: embeddings + seeded centroids +
    * two Lloyd steps + ranked affinity against the trained quantizer. */
  private val oTrainedRanked =
    s"""e AS (
        SELECT vec_id, embedding AS v,
          sqrt(${oDot("embedding", "embedding")}) AS norm
        FROM embeddings),
      cents0 AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
          list_transform(v, x -> CAST(x AS DOUBLE)) AS cv, norm AS cn
        FROM (
          SELECT vec_id, v, norm, (vec_id * 2654435761) % 4294967296 AS h
          FROM e ORDER BY h, vec_id LIMIT $IvfCells)),
      ${oLloydStep("cents0", "cents1")},
      ${oLloydStep("cents1", "cents2")},
      affinity AS (
        SELECT e.vec_id, e.v, e.norm, c.cell,
          round(${oDot("e.v", "c.cv")} / (e.norm * c.cn), 6) AS aff
        FROM e CROSS JOIN cents2 c),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY aff DESC, cell ASC) AS crank
        FROM affinity)""".stripMargin

  val q79 = Q(
    "q79_ann_ivf_trained",
    s"IVF($IvfCells) with $LloydIters Lloyd-trained centroids, nprobe=$IvfProbe top-$ATopK",
    (s, dir) => {
      val e = embWithNorm(s, dir)
      // Materialize the 16-row quantizer once: it feeds BOTH the
      // assignment and probe branches, and without a persist Spark
      // re-executes the whole Lloyd training subtree per branch —
      // invisible on the 2k-vector corpus, 2× the job at 2M vectors
      // (IvfBench / THROUGHPUT.md).
      val trained = graft.Scratch.scoped(trainCents(e))
      // Eager: the assignment and probe branches each BROADCAST this
      // plan, and concurrent broadcast jobs race past a lazy persist
      // (both sides recompute the whole Lloyd training before either
      // fills the cache — measured as a full second training pass at
      // 2M vectors). One fill of the 16-row cache comes first.
      graft.Scratch.fill(trained)
      val assigned = assignedWithVec(e, trained)
        .select(col("vec_id"), col("v"), col("norm"), col("cell"))
      val probes = probeRanked(e, trained)
        .select(col("vec_id").as("query_id"), col("cell"))
        .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qn")), "query_id")
      val scored = assigned.join(broadcast(probes),
          assigned("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos6"))
        .distinct()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos6").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= ATopK)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"), round(col("cos6"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $oTrainedRanked,
      assigned AS (
        SELECT vec_id, v, norm, cell FROM ranked WHERE crank = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, norm AS qn, cell
        FROM ranked WHERE vec_id < $NQueries AND crank <= $IvfProbe),
      scored AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
          round(${oDot("p.qv", "a.v")} / (p.qn * a.norm), 6) AS cos6
        FROM assigned a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id),
      final AS (
        SELECT query_id, neighbor_id, cos6,
          row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        round(cos6, 4) AS cosine
      FROM final WHERE rank <= $ATopK ORDER BY query_id, rank"""))

  /** Centroid-balanced diversity sample: the m most-central vectors of
    * every trained IVF cell — the embedding-space counterpart of q81's
    * stratified sampler, where the strata are LEARNED (k-means cells)
    * instead of metadata columns. This is the standard
    * cluster-then-sample device for building a diverse fine-tuning or
    * eval subset from a large corpus: cells cover the embedding space,
    * and sampling per cell keeps rare modes that a global top-k or
    * uniform sample would drown out.
    *
    * Scale shape: training + assignment are exactly q79's (broadcast
    * quantizer, no vector shuffle); the per-cell top-m is a window the
    * optimizer bounds with WindowGroupLimit, and a mega-cell would take
    * q81's salted two-stage rank. n_cell rides along as the balance
    * evidence (sample size per cell vs cell population). */
  val q85 = Q(
    "q85_ivf_diversity_sample",
    s"top-3-central vectors per trained IVF cell (diversity sample)",
    (s, dir) => {
      val e = embWithNorm(s, dir)
      val assigned = assignedCells(e, trainCents(e))
      val cw = Window.partitionBy(col("cell"))
        .orderBy(col("aff").desc, col("vec_id").asc)
      assigned
        .withColumn("n_cell", count(lit(1)).over(Window.partitionBy(col("cell"))))
        .withColumn("rk", row_number().over(cw))
        .where(col("rk") <= 3)
        .select(col("cell"), col("rk").cast("int").as("rk"), col("vec_id"),
          round(col("aff"), 4).as("centrality"), col("n_cell"))
        .orderBy(col("cell"), col("rk"))
    },
    Some(s"""WITH $oTrainedRanked,
      assigned AS (
        SELECT vec_id, cell, aff FROM ranked WHERE crank = 1),
      samp AS (
        SELECT cell, vec_id, aff,
          CAST(row_number() OVER (PARTITION BY cell
            ORDER BY aff DESC, vec_id ASC) AS INTEGER) AS rk,
          count(*) OVER (PARTITION BY cell) AS n_cell
        FROM assigned)
      SELECT cell, rk, vec_id, round(aff, 4) AS centrality,
        CAST(n_cell AS BIGINT) AS n_cell
      FROM samp WHERE rk <= 3 ORDER BY cell, rk"""))

  /** Anchor set and margin thresholds for q109. PosMin/NegMax are
    * compared against the 6-dp-rounded cosine, so the literals are
    * the SAME doubles in both engines. */
  private val PairAnchorsMod = 10
  private val PosMin = 0.25
  private val NegMax = 0.10

  /** q109's two-sided selection over a scored candidate relation
    * (anchor_id, cand_id, cos6): rank-1 positive at or above `posMin`,
    * rank-1 (hardest) negative strictly under `negMax`, inner-joined
    * so an anchor missing either side emits nothing. Shared by the
    * registered q109 (q56-bucketed candidates) and PairVolBench
    * (q91-banded candidates at 2M vectors) — the candidate generator
    * is a parameter of the deployment, the selection is the operator. */
  private[graft] def minePairs(scored0: org.apache.spark.sql.DataFrame,
      posMin: Double, negMax: Double): org.apache.spark.sql.DataFrame = {
    // Scratch-persisted: the positive and negative selections are two
    // consumers of the same scored relation — un-persisted, the whole
    // candidate generation + cosine pass runs twice.
    val scored = graft.Scratch.scoped(scored0)
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos6").desc, col("cand_id").asc)
    val pos = scored.where(col("cos6") >= posMin)
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("anchor_id"), col("cand_id").as("pos_id"),
        round(col("cos6"), 4).as("pos_cos"))
    val neg = scored.where(col("cos6") < negMax)
      .withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("anchor_id"), col("cand_id").as("neg_id"),
        round(col("cos6"), 4).as("neg_cos"))
    pos.join(neg, "anchor_id").orderBy(col("anchor_id"))
  }

  /** Contrastive training-pair mining — the selection a retrieval /
    * embedding-training data pipeline runs over a corpus: for each
    * ANCHOR, emit its nearest in-bucket neighbor above a positive
    * floor (the pair to pull together) and its HARDEST in-bucket
    * negative — the highest-cosine candidate still under the negative
    * margin (the pair to push apart; easy negatives teach nothing, so
    * the miner wants the closest one that is still a non-match).
    * Anchors with no candidate on either side emit nothing.
    *
    * Scale shape is q56's: candidates come from the anchor's sign-LSH
    * bucket (never all-pairs), anchors broadcast against the
    * partition-parallel corpus scan, and both selections are
    * rank-1-per-anchor windows over the narrow (anchor, cand, cos)
    * relation. At production scale the bucketing swaps to q91's
    * banded log-n-bit scheme — the selection layer is unchanged.
    * Ties break on cand_id; thresholds test the 6-dp-rounded cosine
    * so both engines compare identical doubles. */
  val q109 = Q(
    "q109_pair_mining",
    s"contrastive pair mining: per anchor, nearest positive (cos >= $PosMin) + hardest in-bucket negative (cos < $NegMax)",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
        .withColumn("bucket", concat(
          when(element_at(col("v"), 1) >= 0, "1").otherwise("0"),
          when(element_at(col("v"), 17) >= 0, "1").otherwise("0"),
          when(element_at(col("v"), 33) >= 0, "1").otherwise("0"),
          when(element_at(col("v"), 49) >= 0, "1").otherwise("0")))
      val a = e.where(col("vec_id") % PairAnchorsMod === 0)
        .select(col("vec_id").as("anchor_id"), col("v").as("av"),
          col("norm").as("an"), col("bucket").as("abucket"))
      val scored = e.join(broadcast(a),
          col("bucket") === col("abucket") && col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("vec_id").as("cand_id"),
          round(dot(col("av"), col("v")) / (col("an") * col("norm")), 6).as("cos6"))
      minePairs(scored, PosMin, NegMax)
    },
    Some(s"""WITH e AS (
        SELECT vec_id, embedding AS v,
          sqrt(${oDot("embedding", "embedding")}) AS norm,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      a AS (SELECT vec_id AS anchor_id, v AS av, norm AS an, bucket
            FROM e WHERE vec_id % $PairAnchorsMod = 0),
      scored AS (
        SELECT a.anchor_id, e.vec_id AS cand_id,
          round(${oDot("a.av", "e.v")} / (a.an * e.norm), 6) AS cos6
        FROM a JOIN e ON a.bucket = e.bucket AND e.vec_id <> a.anchor_id),
      pos AS (
        SELECT anchor_id, cand_id AS pos_id, round(cos6, 4) AS pos_cos,
          row_number() OVER (PARTITION BY anchor_id
            ORDER BY cos6 DESC, cand_id ASC) AS r
        FROM scored WHERE cos6 >= $PosMin),
      neg AS (
        SELECT anchor_id, cand_id AS neg_id, round(cos6, 4) AS neg_cos,
          row_number() OVER (PARTITION BY anchor_id
            ORDER BY cos6 DESC, cand_id ASC) AS r
        FROM scored WHERE cos6 < $NegMax)
      SELECT p.anchor_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
      FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
      WHERE p.r = 1 AND n.r = 1
      ORDER BY p.anchor_id"""))

  /** Sequential left-fold dot product over DOUBLE arrays (the
    * centroid vectors q110 derives) — same fold order as the DuckDB
    * list_aggregate mirror, so scores agree bit-for-bit. Interpreted
    * is fine here: it runs over the label×label matrix (≤ k² rows),
    * never over the corpus. */
  private def dotD(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** Per-label embedding CENTROIDS + the pairwise centroid-cosine
    * drift matrix — the domain-balance diagnostic a curation pipeline
    * watches (two labels whose centroids drift together are merging
    * domains; a centroid drifting from its history is distribution
    * shift). The 100-TB shape is pure partial aggregation: posexplode
    * feeds a map-side-combined groupBy(label, pos), so the exchange
    * carries ≤ partitions × labels × 64 rows no matter the corpus,
    * and the matrix itself is label² rows. Cross-engine determinism
    * for the cross-row float sums follows the package decimal rule:
    * each element is cast DECIMAL(18,8) BEFORE summation, so the
    * per-dimension sums are exact in both engines; the cosine is then
    * a fixed-order fold over 64 identical doubles. */
  val q110 = Q(
    "q110_embedding_centroids",
    "per-label embedding centroids (decimal-exact dimension sums) + pairwise centroid-cosine drift matrix",
    (s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), (col("pos") + 1).cast("int").as("pos"))
        .agg(sum(col("col").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
          .cast("double").as("s"),
          count(lit(1)).as("n"))
      val cents = dims
        .groupBy(col("label"))
        .agg(max(col("n")).as("n"),
          transform(
            array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m")))),
            x => x("m")).as("c"))
      val a = cents.select(col("label").as("label_a"), col("n").as("n_a"), col("c").as("ca"))
      val b = cents.select(col("label").as("label_b"), col("n").as("n_b"), col("c").as("cb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          round(dotD(col("ca"), col("cb")) /
            (sqrt(dotD(col("ca"), col("ca"))) * sqrt(dotD(col("cb"), col("cb")))), 4)
            .as("cent_cos"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some(s"""WITH dims AS (
        SELECT label, CAST(pos AS INTEGER) AS pos,
          CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE) AS s,
          CAST(count(*) AS BIGINT) AS n
        FROM (SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY label, pos),
      cents AS (
        SELECT label, max(n) AS n, list(s / n ORDER BY pos) AS c
        FROM dims GROUP BY label)
      SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
        round(${oDot("a.c", "b.c")} /
          (sqrt(${oDot("a.c", "a.c")}) * sqrt(${oDot("b.c", "b.c")})), 4) AS cent_cos
      FROM cents a JOIN cents b ON a.label < b.label
      ORDER BY label_a, label_b"""))

  val all: Seq[Q] = Seq(q55, q56, q59, q79, q85)
}
