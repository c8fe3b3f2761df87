package graft

import graft.etl._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Config-driven scale sink mode, end to end: all four stage CLIs run
  * with `outputs.single_file: false`, the big artifacts come out
  * genuinely multi-part, every downstream stage re-reads the upstream
  * part-file layout, and the final artifacts row-match a parity-mode
  * (single-file) run over the same corpus.
  */
class StageCliSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def res(name: String): String =
    Paths.get(getClass.getResource(s"/difftest/$name").toURI).toString

  private def runAllStages(dir: String, yaml: Option[String]): Unit = {
    ConsolidateMain.run(spark, res("linkedin.csv"), res("gmail.csv"),
      res("contacts.vcf"), dir, yaml)
    ValidateMain.run(spark, dir, yaml)
    ConfidenceMain.run(spark, dir, yaml)
    TagMain.run(spark, dir, res("gmail.csv"), res("contacts.vcf"), yaml)
  }

  private def csvFiles(dir: String, artifact: String): Array[java.io.File] =
    new java.io.File(dir, artifact).listFiles().filter(_.getName.endsWith(".csv"))

  /** Artifact as a canonical sorted row set (column order normalized). */
  private def rows(dir: String, artifact: String): Seq[String] = {
    val df = Stages.readArtifactCsv(spark, s"$dir/$artifact")
    val cols = df.columns.sorted.toIndexedSeq
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
      .map(_.toSeq.map(v => Option(v).map(_.toString).getOrElse("")).mkString(""))
      .toSeq.sorted
  }

  private val Artifacts9 = Seq(
    "consolidated_contacts", "consolidated_lineage", "flattened_contacts",
    "validation_report", "contact_quality_scored",
    "confidence_report", "confidence_summary",
    "tagged_contacts", "referral_targets")

  test("readArtifactCsv's header schema reads like header inference, " +
      "for a reference <name>.csv and for a part-file directory") {
    def inferred(path: String) = spark.read
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(path).na.fill("")
    def same(path: String): Unit = {
      val (got, want) = (Stages.readArtifactCsv(spark, path), inferred(path))
      assert(got.schema == want.schema, path)
      assert(got.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001")) ==
        want.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001")), path)
      assert(got.count() > 0, path)
    }
    for (a <- Seq("consolidated_contacts", "consolidated_lineage", "flattened_contacts",
        "validation_report")) {
      val plain = res(s"golden_$a.csv")
      same(plain)
      // The same rows as an engine part-file directory.
      val parts = Files.createTempDirectory(s"graft-read-$a").toString
      Artifacts.writeCsv(inferred(plain).repartition(2), s"$parts/$a", singleFile = false)
      assert(csvFiles(parts, a).length > 1)
      same(Stages.artifactPath(parts, a))
    }
  }

  test("outputs.single_file=false drives a part-file run of all four stages " +
      "that matches the single-file run", SlowReplay) {
    val partDir = Files.createTempDirectory("graft-cli-parts").toString
    val singleDir = Files.createTempDirectory("graft-cli-single").toString
    // Both runs get a yaml (differing only in single_file) because a
    // config's PRESENCE also selects the config-loader tagging
    // defaults over the no-config CLI defaults — reference semantics
    // (tag_contacts.py --config), orthogonal to the sink mode.
    runAllStages(partDir, Some("outputs:\n  single_file: false\n"))
    runAllStages(singleDir, Some("outputs:\n  single_file: true\n"))

    // Scale mode genuinely engaged: the corpus-sized artifacts are
    // multi-part (2 shuffle partitions in this session), while parity
    // mode emits exactly one file per artifact.
    assert(csvFiles(partDir, "consolidated_contacts").length > 1)
    assert(csvFiles(partDir, "consolidated_lineage").length > 1)
    for (a <- Artifacts9)
      assert(csvFiles(singleDir, a).length == 1, s"$a not single-file in parity mode")

    // Both layouts re-read to identical row sets at every stage.
    for (a <- Artifacts9)
      assert(rows(partDir, a) == rows(singleDir, a), s"$a differs between modes")
  }
}
