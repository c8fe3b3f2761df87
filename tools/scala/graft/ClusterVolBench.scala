package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume run for q105's cluster-maintenance merge — the two-batch
  * 2M-doc curve, the q101/q102 (IndexVolBench/EmbIndexVolBench) row
  * shape applied to CLUSTER state. Against `tools/dedup_gen.py`
  * corpora (62,500 4-doc near-dup clusters + 62,500 exact-dup pairs
  * at 2M docs, ground-truth group = doc_id / 4):
  *
  *   standing = components over the 80 % split (h60 residues 2-9),
  *              STORED as an (id, comp) assignment parquet,
  *   merge A  = gate matches of batch residue 0 vs the 80 % index,
  *              merged into the STORED assignment,
  *   merge B  = batch residue 1 likewise, into the post-A assignment.
  *
  * Timed body per batch: read matches + standing from parquet, one
  * mergeComponents (edge contraction against the vertex-sized
  * assignment, CC over the contracted remainder, broadcast remap),
  * store the result. The claim under test: per-batch cost is flat —
  * bounded by the batch's match count, not the corpus. Gate-match
  * cost itself is q96's story (volume row round 9) and runs in
  * UNTIMED setup here. After both merges:
  *
  *   - merged == from-scratch: the final assignment partitions ids
  *     exactly as one CC over standing pairs ∪ A ∪ B (both sides
  *     normalized to min-member labels) — grouping-invariance at
  *     volume, the incremental == batch proof;
  *   - soundness vs ground truth: every final cluster stays inside
  *     one generator group (doc_id / 4) — 0 expected violations;
  *   - bridge count per merge: final groups containing >= 2 distinct
  *     pre-merge standing comps (the branch ClusterMergeSpec pins).
  *
  * A final REMOVAL phase (q117) then takes a 10 % takedown batch out
  * of the post-B assignment via removeFromComponents against the
  * stored pair relation, asserts removal == the from-scratch closure
  * over the surviving edges, and prints the branch census (touched
  * components / splits / orphan drops).
  *
  * PROTOCOL CORPUS (r14 VERDICT task 6): the BRIDGED corpus
  * `/tmp/dedup2mb` (`dedup_gen.py /tmp/dedup2mb 2000000 8 16`) is the
  * default, so q105's bridge branch and q117's split branch fire on
  * every round's run rather than only when opted in — on the
  * unbridged corpus generator clusters land in ONE standing comp and
  * both counts read ~0. Pass `/tmp/dedup2m` explicitly to reproduce
  * the historical (r11–r13) rows.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  *   sbt "Test/runMain graft.ClusterVolBench"         # bridged corpus
  */
object ClusterVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/dedup2mb")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)

    val scratch = java.nio.file.Files.createTempDirectory("graft_cvb_").toString
    val m = queries.h60(concat(lit("ingest:"), col("doc_id"))) % 10

    def stats(label: String, df: DataFrame): Unit = {
      val r = df.groupBy().agg(count(lit(1)).as("docs"),
        countDistinct(col("comp")).as("comps")).collect()(0)
      println(f"CVBSTATE  $label%-10s assigned_docs=${r.getLong(0)}%,10d  comps=${r.getLong(1)}%,9d")
    }

    // ---- setup (untimed): standing assignment + both batches' gate
    // matches, all stored to parquet -------------------------------
    val t0 = System.nanoTime()
    val (ipairs, msA) = queries.DedupOps.q105Pairs(spark, dir, m >= 2, m === 0)
    ipairs.write.mode("overwrite").parquet(s"$scratch/ipairs")
    queries.DedupOps.componentsOf(spark.read.parquet(s"$scratch/ipairs"))
      .write.mode("overwrite").parquet(s"$scratch/asg0")
    msA.write.mode("overwrite").parquet(s"$scratch/mA")
    Scratch.releaseAll()
    val (_, msB) = queries.DedupOps.q105Pairs(spark, dir, m >= 2, m === 1)
    msB.write.mode("overwrite").parquet(s"$scratch/mB")
    Scratch.releaseAll()
    println(f"CVBSETUP  standing assignment + 2 batch match sets stored in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    stats("standing", spark.read.parquet(s"$scratch/asg0"))
    for (tag <- Seq("A", "B"))
      println(f"CVBSETUP  batch $tag matches: " +
        f"${spark.read.parquet(s"$scratch/m$tag").count()}%,d edges")

    // ---- merge batches A then B (timed) --------------------------
    var prev = s"$scratch/asg0"
    for (tag <- Seq("A", "B")) {
      meter.take()
      val t1 = System.nanoTime()
      val merged = queries.DedupOps.mergeComponents(
        spark.read.parquet(prev), spark.read.parquet(s"$scratch/m$tag"))
      val next = s"$scratch/asg$tag"
      merged.write.mode("overwrite").parquet(next)
      val dt = (System.nanoTime() - t1) / 1e9
      println(f"CVBMERGE  batch $tag merged in $dt%6.1f s  " +
        f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
      // Bridges: post-merge groups holding >= 2 pre-merge standing comps.
      val bridged = spark.read.parquet(next)
        .join(spark.read.parquet(prev).select(col("id"), col("comp").as("oc")), "id")
        .groupBy(col("comp")).agg(countDistinct(col("oc")).as("k"))
        .where(col("k") >= 2)
        .agg(count(lit(1)).as("events"), sum(col("k")).as("compsIn")).collect()(0)
      println(f"CVBMERGE  batch $tag bridges: " +
        (if (bridged.isNullAt(1)) "0 (no standing comps merged)"
         else f"${bridged.getLong(0)}%,d merge events joining ${bridged.getLong(1)}%,d standing comps"))
      stats(s"after_$tag", spark.read.parquet(next))
      prev = next
    }

    // ---- incremental == batch at volume (untimed verification) ----
    def normalized(asg: DataFrame): DataFrame =
      asg.join(asg.groupBy(col("comp")).agg(min(col("id")).as("lab")), "comp")
        .select(col("id"), col("lab"))
    val scratchEdges = spark.read.parquet(s"$scratch/ipairs")
      .union(spark.read.parquet(s"$scratch/mA"))
      .union(spark.read.parquet(s"$scratch/mB"))
    val fromScratch = queries.DedupOps.componentsOf(scratchEdges)
    val fin = spark.read.parquet(prev)
    val diff = normalized(fin).union(normalized(fromScratch))
      .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 2).count()
    // Soundness vs generator ground truth: one cluster, one truth key.
    // The key is the 4-doc group EXCEPT for dedup_gen's opt-in bridge
    // families (g % 16 == 2 holds roles 0-3 and the NEXT group's role
    // 0 — the hub X), whose five docs share one key. On a corpus
    // generated without bridges the bridge residues are singletons
    // (never assigned), so the expression is safe for both.
    val truthKey = expr("""CASE
        WHEN (id div 4) % 16 = 3 AND id % 4 = 0 THEN (id div 4) - 1
        ELSE id div 4 END""")
    val unsound = fin.groupBy(col("comp"))
      .agg(countDistinct(truthKey).as("groups"))
      .where(col("groups") >= 2).count()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(f"CVBVERIFY docs=$nDocs%,d  assignment_mismatches=$diff  " +
      f"unsound_clusters=$unsound  " +
      (if (diff == 0 && unsound == 0) "(merged == from-scratch, all clusters ground-truth pure)"
       else "MISMATCH"))
    require(diff == 0, s"$diff (id,label) rows differ between merged and from-scratch")
    require(unsound == 0, s"$unsound clusters mix generator groups")

    // ---- removal phase (q117): a 10 % takedown batch leaves the
    // final assignment. The stored pair relation (ipairs ∪ mA ∪ mB —
    // the edges whose closure the assignment IS) is already on disk
    // from the phases above; the timed body is the takedown itself:
    // touched-component probe, surviving-edge scan, CC rerun over the
    // touched subgraph only, broadcast-anti passthrough of untouched
    // components. At this corpus's density the DROP branch fires in
    // volume (an exact-dup pair losing one member orphans the other —
    // no surviving edge, so the survivor leaves the table exactly as
    // a from-scratch closure decides); splits are structurally rare
    // (clusters are near-cliques) and the census prints the honest
    // count either way — ClusterRemoveSpec pins the split branch on
    // crafted cut-vertex graphs.
    val removed = fin.select(col("id"))
      .where(queries.h60(concat(lit("remove:"), col("id"))) % 10 === 0)
    meter.take()
    val t5 = System.nanoTime()
    queries.DedupOps.removeFromComponents(fin, scratchEdges, removed)
      .write.mode("overwrite").parquet(s"$scratch/asgR")
    val dtR = (System.nanoTime() - t5) / 1e9
    println(f"CVBREMOVE 10%% takedown (${removed.count()}%,d assigned ids) applied in " +
      f"$dtR%6.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    val post = spark.read.parquet(s"$scratch/asgR")
    stats("after_rm", post)
    // Branch census over pre-removal components: split (>= 2 surviving
    // comps), intact survivors, and survivor drops (alive but edgeless).
    val preWithPost = fin
      .join(removed.select(col("id"), lit(true).as("rm")), Seq("id"), "left")
      .join(post.select(col("id"), col("comp").as("nc")), Seq("id"), "left")
    val perComp = preWithPost.groupBy(col("comp")).agg(
      countDistinct(col("nc")).as("survComps"),
      sum(when(col("rm").isNull && col("nc").isNull, 1L).otherwise(0L)).as("orphans"),
      sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("removedN"))
    val c = perComp.agg(
      sum(when(col("survComps") >= 2, 1L).otherwise(0L)).as("splits"),
      sum(col("orphans")).as("orphanDrops"),
      sum(when(col("removedN") > 0, 1L).otherwise(0L)).as("touchedComps")).collect()(0)
    println(f"CVBREMOVE branches: touched_comps=${c.getLong(2)}%,d  " +
      f"splits=${c.getLong(0)}%,d  orphan_drops=${c.getLong(1)}%,d")
    // Removal == from-scratch closure over the surviving edges.
    val survEdges = scratchEdges
      .join(removed.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(removed.select(col("id").as("dst")), Seq("dst"), "left_anti")
    val fromScratchR = queries.DedupOps.componentsOf(survEdges)
    val diffR = normalized(post).union(normalized(fromScratchR))
      .groupBy(col("id"), col("lab")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 2).count()
    println(f"CVBRMVERIFY assignment_mismatches=$diffR  " +
      (if (diffR == 0) "(removal == from-scratch closure over surviving edges)" else "MISMATCH"))
    require(diffR == 0, s"$diffR (id,label) rows differ between removal and from-scratch")
    require(c.getLong(1) > 0, "orphan-drop branch never fired at volume")
    spark.stop()
  }
}
