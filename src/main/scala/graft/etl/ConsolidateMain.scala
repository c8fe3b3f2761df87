package graft.etl

import graft.sources.Sources
import org.apache.spark.sql.SparkSession

/** The consolidate stage as a runnable main — the library equivalent
  * of the reference's `contacts-consolidate` CLI
  * (combine_contacts.py:1532-1575): load the three sources, normalize,
  * dedupe+merge, write the three CSV artifacts.
  *
  * Usage: runMain graft.etl.ConsolidateMain
  *   <linkedinCsv> <gmailCsv> <macVcf> <outDir> [configYamlPath]
  * (pass "" for a missing source; config resolves CLI > yaml > default
  * via [[Config]]).
  */
object ConsolidateMain {

  /** The stage body, separated from session lifecycle so tests can
    * drive it against their own session (and yaml text directly). */
  def run(spark: SparkSession, linkedinCsv: String, gmailCsv: String,
      macVcf: String, outDir: String, yamlText: Option[String] = None): Long = {
    val resolved = Config.load(Config.Cli(
      linkedinCsv = Some(linkedinCsv).filter(_.nonEmpty),
      gmailCsv = Some(gmailCsv).filter(_.nonEmpty),
      macVcf = Some(macVcf).filter(_.nonEmpty),
      outDir = Some(outDir)), yamlText)
    // Scoped: the parsed sources feed normalize AND the raw side of
    // the merge join — materialize the (expensive) multi-format parse
    // once instead of re-running it per consumer. The first job that
    // reads it fills it.
    val raw = graft.Scratch.scoped(Sources.loadAll(spark,
      resolved.inputs("linkedin_csv").getOrElse(""),
      resolved.inputs("gmail_csv").getOrElse(""),
      resolved.inputs("mac_vcf").getOrElse("")), adaptive = true)
    val normalized = Pipeline.normalize(raw, resolved.normalization)
    val (merged, lineage) = Pipeline.dedupeAndMerge(normalized, raw, resolved.dedupe)
    try
      Artifacts.writeConsolidated(merged, lineage, resolved.outputsDir,
        singleFile = resolved.outputSingleFile)
    finally
      // dedupeAndMerge scope-persists intermediates (the pair table on
      // non-native corpora, the merged dataset shared by both sinks);
      // release them here so a long-lived session driving many stage
      // runs doesn't accumulate dead cache. Bench/Verify release after
      // every query themselves; this covers the ETL entry point.
      graft.Scratch.releaseAll()
  }

  def main(args: Array[String]): Unit = {
    val Array(linkedinCsv, gmailCsv, macVcf, outDir) = args.take(4)
    val yamlText = StageSession.yaml(args.lift(4))
    val resolved = Config.load(Config.Cli(outDir = Some(outDir)), yamlText)
    val spark = StageSession.session()
    spark.sparkContext.setLogLevel(resolved.logLevel match {
      case "DEBUG" | "INFO" | "WARN" | "ERROR" => resolved.logLevel
      case "WARNING" => "WARN"
      case _ => "WARN"
    })
    val t0 = System.nanoTime()
    val n = run(spark, linkedinCsv, gmailCsv, macVcf, outDir, yamlText)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"consolidated $n contacts -> $outDir in $secs%.2f s")
    spark.stop()
  }
}
