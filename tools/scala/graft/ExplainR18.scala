package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-18 audits (PlanAuditSpec runs [[audit]] under `sbt test`).
  *
  * 1. THE EPOCH'S REQUEST-FEED SCAN (r17 VERDICT task 5): q140 used to
  *    derive the privacy-request relation from a full events scan
  *    inside the timed body even though the feed is its own small
  *    relation everywhere else. The registered body now reads the
  *    bounded [[queries.EpochOps.requestStore]]; this audit runs the
  *    registered q140 body (prepared, census excludes the prepare) and
  *    the SAME dataflow with the r17 inline derivation, requires the
  *    two produce IDENTICAL relations, and requires the registered
  *    body's recordsRead to be lower by at least one full events pass.
  *
  * 2. THE EPOCH CHAIN'S RECURRING SHAPE (q145): the first run pays
  *    epoch 1 + publish + epoch 2; a later run in the same session
  *    reads the published post-epoch-1 stores and pays only epoch 2 —
  *    the nightly job's actual recurring cost. Censused as
  *    first-run vs second-run recordsRead and wall.
  *
  * Usage: sbt "Test/runMain graft.ExplainR18 [sfDir]"
  */
object ExplainR18 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    audit(spark, dir)
    spark.stop()
  }

  def audit(spark: SparkSession, dir: String): Unit = {
    import queries.{Analytic, DedupOps, EpochOps}

    val meter = new Meter(spark)
    def censused[A](f: => A): (A, Long, Double) = {
      meter.take()
      val t0 = System.nanoTime()
      val a = f
      val wall = (System.nanoTime() - t0) / 1e9
      (a, meter.take().inputRecords, wall)
    }

    try {
      val nEvents = queries.t(spark, dir, "events").count()

      // ---- 1. Registered q140 (store-read requests) vs the r17 form
      // (requests derived from a full events scan inside the body).
      Registry.preparesMap("q140_maintenance_epoch")(spark, dir)
      val (rowsNew, readNew, wallNew) = censused {
        Registry.queriesMap("q140_maintenance_epoch")(spark, dir)
          .collect().map(_.toSeq).toSeq
      }
      Scratch.releaseAll()
      // The r17 body: identical except the request derivation. The
      // artifacts are built UNTIMED here exactly as the registered
      // prepare hook does, so both censuses cover the body alone.
      val (sessSt, funSt, retF, retC,
        (sig, banded, idx, pairs, standing, pidSize)) =
        EpochOps.q140Arts(spark, dir)
      val (rowsOld, readOld, wallOld) = censused {
        val e = queries.t(spark, dir, "events")
        val requestsInline = Scratch.scoped(
          e.where(Analytic.erasedUsers).select(col("user_id")).distinct()
            .select(col("user_id"), Analytic.reqInstantUs.as("req_us")))
        val cut = lit(Analytic.AnalyticCutoff).cast("timestamp")
        val batch = Scratch.scoped(e.where(col("ts") >= cut))
        val (sess2, fun2, _, retC2) = EpochOps.behavioralEpoch(
          sessSt, funSt, retF, retC, batch, e, requestsInline)
        val (lo, hi) = DedupOps.q141Range(spark, dir)
        val removed = queries.t(spark, dir, "documents")
          .where(col("doc_id") >= lo && col("doc_id") < hi).select(col("doc_id"))
        val comps = DedupOps.removeFromCappedCluster(idx, banded, sig, pairs,
          standing, removed, DedupOps.Q141Cap, Some(pidSize))
        EpochOps.taggedEpoch(sess2, fun2, retC2, comps)
          .collect().map(_.toSeq).toSeq
      }
      Scratch.releaseAll()
      require(rowsNew == rowsOld,
        "store-read requests changed the epoch's output — NOT a pure scan elision")
      println(f"EXPLAINR18 q140 request feed: registered (store) " +
        f"recordsRead=$readNew%,d wall=$wallNew%.2f s; inline-derived " +
        f"recordsRead=$readOld%,d wall=$wallOld%.2f s; saved=" +
        f"${readOld - readNew}%,d rows (events table = $nEvents%,d)")
      require(readOld - readNew >= (nEvents * 9) / 10,
        "the registered body did not save the full events pass")

      // ---- 2. q145 first-run (both epochs + publish) vs recurring
      // (published stores hit) shape.
      Registry.preparesMap("q145_epoch_chain")(spark, dir)
      val (n1, read1, wall1) = censused {
        Registry.queriesMap("q145_epoch_chain")(spark, dir).count()
      }
      Scratch.releaseAll()
      Registry.preparesMap("q145_epoch_chain")(spark, dir)
      val (n2, read2, wall2) = censused {
        Registry.queriesMap("q145_epoch_chain")(spark, dir).count()
      }
      Scratch.releaseAll()
      require(n1 == n2, s"q145 reruns disagree: $n1 vs $n2")
      println(f"EXPLAINR18 q145 chain: first run (epoch1+publish+epoch2) " +
        f"recordsRead=$read1%,d wall=$wall1%.2f s; recurring run " +
        f"(published stores) recordsRead=$read2%,d wall=$wall2%.2f s")
    } finally meter.close()
  }
}
