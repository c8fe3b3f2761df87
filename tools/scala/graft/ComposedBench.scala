package graft

import graft.etl._
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume head-to-head of the FULL pipeline in its two shapes, same
  * session, same corpus (the THROUGHPUT generator's 100k-identity
  * default):
  *
  *   staged    the four stage bodies exactly as the CLIs run them —
  *             consolidate writes the three CSV artifacts, validate /
  *             confidence / tag re-read CSV interchange and write
  *             their own artifacts (9 sinks total). This is the
  *             reference's `make pipeline` dataflow.
  *   composed  consolidate→validate→confidence→tag chained in memory
  *             (the q87 contract): the SAME stage functions, no
  *             intermediate file sink — only the two end deliverables
  *             (tagged_contacts, referral_targets) are written.
  *
  * Records wall time and total shuffle read/write bytes per path, and
  * asserts the composed plan's physical evidence at volume: its scans
  * touch only the corpus source files, never an artifact CSV, and the
  * pre-sink plan contains no file-sink command (the volume-scale
  * Q87PlanSpec).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ComposedBench
  *   [corpusDir] [outBase] [cap=<n>]"
  * (generate the corpus first: python3 tools/throughput_gen.py
  *  /tmp/tp100k 100000; `cap=50` enables the stop-key frequency cap
  *  in BOTH paths — the skew-corpus configuration, where the capped
  *  one-plan shape meets AQE skew handling.)
  */
object ComposedBench {
  def main(args: Array[String]): Unit = {
    val corpus = args.headOption.getOrElse("/tmp/tp100k")
    val outBase = args.lift(1).getOrElse("/tmp/tp100k_out")
    val yamlText = args.lift(2).filter(_.startsWith("cap=")).map(a =>
      s"dedupe:\n  match_key_frequency_cap: ${a.drop(4)}\n")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = s"$corpus/linkedin.csv"
    val gm = s"$corpus/gmail.csv"
    val vcf = s"$corpus/contacts.vcf"

    val meter = new Meter(spark)
    def shuffled(): (Long, Long) = {
      val m = meter.take()
      (m.shuffleReadBytes, m.shuffleWriteBytes)
    }

    def gb(b: Long) = f"${b / 1e9}%.2f GB"

    // ---- staged: the four CLI bodies over CSV interchange ------------
    val stagedDir = s"$outBase/staged"
    meter.take()
    val t0 = System.nanoTime()
    ConsolidateMain.run(spark, li, gm, vcf, stagedDir, yamlText)
    ValidateMain.run(spark, stagedDir)
    ConfidenceMain.run(spark, stagedDir)
    TagMain.run(spark, stagedDir, gm, vcf)
    val stagedWall = (System.nanoTime() - t0) / 1e9
    val stagedShuf = shuffled()
    Scratch.releaseAll()

    // ---- composed: one lazy plan, final deliverables only ------------
    val composedDir = s"$outBase/composed"
    meter.take()
    val t1 = System.nanoTime()
    val cfg = Config.load(Config.Cli(outDir = Some(composedDir)), yamlText)
    val raw = Sources.loadAll(spark, li, gm, vcf).localCheckpoint(true)
    val normalized = Pipeline.normalize(raw, cfg.normalization)
    val (merged, lineage) = Pipeline.dedupeAndMerge(normalized, raw, cfg.dedupe)
    val contacts = Artifacts.consolidatedContacts(merged)
    val flattened = Artifacts.flattenedContacts(merged)
    val (report, _) = Stages.validate(contacts, flattened, cfg.quality)
    val (confReport, _) = Stages.confidence(contacts, report, flattened)
    val notes = Sources.gmailNotes(spark, gm).unionByName(Sources.vcfNotes(spark, vcf))
    val (tagged, targets) = Stages.tag(contacts, lineage.toDF(), notes, confReport)

    // Volume-scale plan audit BEFORE sinking: no file-sink command in
    // the composed read plan, and every file scan is a corpus source —
    // an artifact-CSV scan would mean the composition silently went
    // through disk.
    val physical = targets.queryExecution.executedPlan.toString
    require(!physical.contains("InsertInto") && !physical.contains("SaveIntoDataSource"),
      "composed plan writes an intermediate sink")
    val scannedCsvs = targets.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            hfs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten.distinct
    val artifactScans = scannedCsvs.filterNot(p => p.contains(corpus.stripPrefix("/")))
    require(artifactScans.isEmpty,
      s"composed plan scans non-corpus files: $artifactScans")

    Artifacts.writeCsv(tagged, s"$composedDir/tagged_contacts")
    Artifacts.writeCsv(targets, s"$composedDir/referral_targets",
      sortCols = Seq(col("referral_priority_score").desc,
        col("confidence_score").desc, col("contact_id")))
    val composedWall = (System.nanoTime() - t1) / 1e9
    val composedShuf = shuffled()
    Scratch.releaseAll()

    // Deliverable parity: same ranked rows in both paths' final artifact.
    val a = Stages.readArtifactCsv(spark, s"$stagedDir/referral_targets")
    val b = Stages.readArtifactCsv(spark, s"$composedDir/referral_targets")
    val sharedCols = a.columns.toIndexedSeq.intersect(b.columns.toIndexedSeq).sorted
    val na = a.count(); val nb = b.count()
    val diff = a.select(sharedCols.map(col): _*)
      .exceptAll(b.select(sharedCols.map(col): _*)).count()
    println(f"COMPOSED staged   wall=$stagedWall%7.1f s  shuffleR=${gb(stagedShuf._1)} shuffleW=${gb(stagedShuf._2)}")
    println(f"COMPOSED composed wall=$composedWall%7.1f s  shuffleR=${gb(composedShuf._1)} shuffleW=${gb(composedShuf._2)}")
    println(s"COMPOSED parity rows staged=$na composed=$nb exceptAll=$diff scans=${scannedCsvs.size} (all corpus)")
    spark.stop()
  }
}
