package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run in one JVM: set up a session, run the workload's
  * first pass, repeat the pass until the measuring window closes, and
  * write every raw measurement to a JSON file for `run.py` to check
  * and reduce.
  *
  * Closed loop, one client: each operation starts only after the
  * previous one returned. Arguments are `key=value` pairs; see
  * `run.py` for the set it passes. */
object Harness {
  private val runStartMs = System.currentTimeMillis()

  /** One unit of work of a workload. `prepare` runs first and is timed
    * on its own; `body` is timed through its terminal action and returns
    * the rows it produced (None for the ETL stage calls, whose outputs
    * are files). `digest` hashes the operation's output, untimed. */
  final case class Op(name: String,
      prepare: Option[() => Unit],
      body: String => Option[(Array[Row], StructType)],
      digest: (String, Option[(Array[Row], StructType)]) => String)

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = a("work")
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val env0 = Env.sample()

    val spark = session(workload, a("cpus"), work)
    spark.range(1000).selectExpr("sum(id) s").collect()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val meter = new Meter(spark)
    val ops = workload match {
      case "contacts_etl" => etlOps(spark, a("corpus"))
      case _ => new scala.util.Random(seed).shuffle(
        a("ops").split(",").toSeq.map(queryOp(spark, a("data"), _)))
    }

    val passes = Seq.newBuilder[Map[String, Any]]
    def pass(k: Int, traced: Boolean): Unit = {
      meter.tracePlans = traced
      val dir = s"$work/pass$k"
      val recs = ops.map(runOp(spark, meter, _, dir, k == 0, work))
      // The pass's wall time is its operations' timed spans: the
      // untimed checks between operations are left out.
      val wall = recs.flatMap(_.get("wall_s")).map(_.asInstanceOf[Double]).sum
      // Bench's between-pass protocol: per-query memos and scoped
      // caches go, the write-once stores stay.
      graft.queries.evictMemos(spark)
      graft.Scratch.releaseAll()
      passes += Map("pass" -> k, "traced" -> traced, "wall_s" -> wall, "ops" -> recs)
    }

    val extra = Map.newBuilder[String, Any]
    pass(0, traced = trace)
    if (workload == "contacts_etl")
      extra += "lineage" -> Etl.lineageCounts(spark, s"$work/pass0")
    // Later passes fill the measuring window. A traced run traces its
    // measured passes (from pass 2) in the order untraced, traced,
    // traced, untraced, so that the JIT's still-falling pass times bias
    // neither side of its own overhead figure.
    val seconds = a("seconds").toDouble
    val minLater = a("min_later").toInt
    val w0 = System.nanoTime()
    var k = 1
    while (k <= minLater || (System.nanoTime() - w0) / 1e9 < seconds) {
      pass(k, traced = trace && (k < 2 || Set(1, 2)((k - 2) % 4)))
      // Keep the first pass's artifacts (checked above) and the latest.
      if (k > 1) Etl.deleteTree(Paths.get(s"$work/pass${k - 1}"))
      k += 1
    }

    val heapMb = Env.liveHeapMb()
    if (trace) {
      extra += "kernels" -> Kernels.run(spark, seed)
      if (workload == "contacts_etl")
        extra += "layers" -> Etl.layered(spark, meter, a("corpus"), s"$work/layered",
          s"$work/pass${k - 1}")
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => ops.exists(_.name == n) }
    val out = Map("workload" -> workload, "oracle_sql" -> oracles, "seed" -> seed, "trace" -> trace,
      "cpus" -> a("cpus").toInt, "setup_s" -> setupS, "heap_live_mb" -> heapMb,
      "env_start" -> env0, "env_end" -> Env.sample(),
      "passes" -> passes.result()) ++ extra.result()
    Files.writeString(Paths.get(a("out")), Json.write(out))
    spark.stop()
  }

  /** The session the program's own entry points build: Bench's session
    * for the query workloads, the stage CLIs' session for the ETL.
    * Both keep every local file of Spark's inside the run directory.
    * Both also take Bench's generated-code cache size, the program's
    * setting for a session that reruns its work: a stage CLI runs once
    * per JVM, but here the stages rerun every pass, and with Spark's
    * default of 100 entries each later pass recompiled its generated
    * code (2.5 times the executor CPU), so later passes stayed JIT-bound
    * and swung with host load. */
  def session(workload: String, cpus: String, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    if (workload != "contacts_etl")
      b.config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
          "org.apache.hadoop.fs.local.RawLocalFs")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def queryOp(spark: SparkSession, dir: String, name: String): Op = {
    val run = graft.SparkEntry.queries(name)
    Op(name,
      graft.Registry.preparesMap.get(name).map(p => () => p(spark, dir)),
      _ => {
        val df = run(spark, dir)
        Some((df.collect(), df.schema))
      },
      (_, out) => sha256(out.get._1.iterator.map(_.toString).mkString("\n")))
  }

  def etlOps(spark: SparkSession, corpus: String): Seq[Op] = {
    val (li, gm, vc) = (s"$corpus/linkedin.csv", s"$corpus/gmail.csv", s"$corpus/contacts.vcf")
    def op(name: String, artifacts: Seq[String])(f: String => Unit) =
      Op(name, None, d => { f(d); None }, (d, _) => Etl.digest(d, artifacts))
    Seq(
      op("consolidate", Etl.ConsolidateArtifacts) { d =>
        graft.etl.ConsolidateMain.run(spark, li, gm, vc, d); () },
      op("validate", Seq("validation_report", "contact_quality_scored")) { d =>
        graft.etl.ValidateMain.run(spark, d) })
  }

  /** Run one operation: prepare, body, terminal action, all under the
    * operation's job label. A throw is recorded as a failure with no
    * timing. The output digest, the first pass's oracle copy and the
    * listener reduction happen after the clock stops. */
  def runOp(spark: SparkSession, meter: Meter, op: Op, dir: String,
      first: Boolean, work: String): Map[String, Any] = {
    val sc = spark.sparkContext
    meter.take(meter.snapshot()) // events of the previous op's untimed checks
    val before = meter.snapshot()
    sc.setJobDescription(op.name)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tPrep = t0
    val res = try {
      op.prepare.foreach(_())
      tPrep = System.nanoTime()
      Right(op.body(dir))
    } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    sc.setJobDescription(null)
    val cachedRdds = sc.getPersistentRDDs.size
    val cacheMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    graft.Scratch.releaseAll()
    val m = meter.take(before)
    val timing: Map[String, Any] = res match {
      case Right(out) =>
        if (first) out.foreach { case (rows, schema) =>
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$work/first_outputs/${op.name}")
        }
        Map("ok" -> true, "hash" -> op.digest(dir, out),
          "rows" -> out.map(_._1.length).getOrElse(-1),
          "wall_s" -> (t1 - t0) / 1e9, "prepare_s" -> (tPrep - t0) / 1e9,
          "body_s" -> (t1 - tPrep) / 1e9)
      case Left(err) => Map("ok" -> false, "error" -> err)
    }
    val busyMs = Meter.coveredMs(w0, w1, m.stages.map(s => (s.submitMs, s.endMs)))
    timing ++ Map("name" -> op.name, "start_ms" -> (w0 - runStartMs),
      "span_ms" -> (w1 - w0), "prepare_ms" -> (tPrep - t0) / 1000000,
      "driver_s" -> math.max(0L, (w1 - w0) - busyMs) / 1e3,
      "counters" -> m.counters,
      "jobs" -> m.jobs.map(j => Map("id" -> j.id, "start_ms" -> (j.startMs - w0),
        "end_ms" -> (j.endMs - w0), "desc" -> j.desc, "stages" -> j.stageIds)),
      "stages" -> m.stages.map(s => Map("id" -> s.id, "start_ms" -> (s.submitMs - w0), "end_ms" -> (s.endMs - w0),
        "tasks" -> s.tasks, "name" -> s.name)),
      "batches" -> m.batches.map(b => Map("batch" -> b.batchId,
        "start_ms" -> (b.startMs - w0), "input_rows" -> b.inputRows,
        "duration_ms" -> b.durationMs, "state_rows" -> b.stateRows,
        "state_bytes" -> b.stateBytes)),
      "plans" -> m.plans.map(p => Map("action" -> p.action, "shuffles" -> p.shuffles,
        "broadcasts" -> p.broadcasts, "file_scans" -> p.fileScans,
        "cache_scans" -> p.cacheScans, "rdd_scans" -> p.rddScans)),
      "cached_rdds" -> cachedRdds, "cache_mb" -> cacheMb)
  }
}

/** Host state recorded at the start and end of a run, so every result
  * describes the window it was measured in. */
object Env {
  def sample(): Map[String, Any] = {
    val memAvail = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .find(_.startsWith("MemAvailable")).get.replaceAll("[^0-9]", "").toLong / 1024.0
    }.getOrElse(-1.0)
    // Aggregate cpu line of /proc/stat: user nice system idle iowait irq
    // softirq steal. Steal is time the host ran someone else.
    val cpu = scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).take(8).map(_.toLong).toSeq).getOrElse(Seq.empty[Long])
    Map("load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "mem_available_mb" -> memAvail, "cpu_ticks" -> cpu,
      "nproc" -> Runtime.getRuntime.availableProcessors())
  }

  /** Heap in use after full collections, outside every timed region. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Helpers for the contact ETL workload: artifact digests, the lineage
  * completeness count and the traced layer-by-layer consolidate. */
object Etl {
  val ConsolidateArtifacts =
    Seq("consolidated_contacts", "consolidated_lineage", "flattened_contacts")

  /** Order-insensitive digest of CSV artifacts: the sorted lines of every
    * data file under each artifact, so the hash does not depend on part
    * file names or on row order within an unordered artifact. */
  def digest(dir: String, artifacts: Seq[String]): String =
    Harness.sha256(artifacts.map { a =>
      val p = Paths.get(graft.etl.Stages.artifactPath(dir, a))
      val files =
        if (Files.isDirectory(p)) Files.list(p).iterator.asScala.toSeq
          .filter(f => f.getFileName.toString.startsWith("part-")).sortBy(_.toString)
        else Seq(p)
      val lines = files.flatMap(f => Files.readAllLines(f).asScala).sorted
      s"$a\n${lines.mkString("\n")}"
    }.mkString("\n\n"))

  /** Distinct (source, source_row_id) pairs per source in the first
    * pass's lineage; `run.py` checks them against the generated
    * record counts. */
  def lineageCounts(spark: SparkSession, dir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    graft.etl.Stages.readArtifactCsv(spark,
        graft.etl.Stages.artifactPath(dir, "consolidated_lineage"))
      .groupBy(col("source")).agg(countDistinct(col("source_row_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** `ConsolidateMain.run`'s steps called one by one, each forced, with
    * a span and listener counters per step. Its artifacts must hash
    * equal to `ConsolidateMain.run`'s in `refDir`. */
  def layered(spark: SparkSession, meter: Meter, corpus: String, outDir: String,
      refDir: String): Map[String, Any] = {
    import graft.etl._
    val (li, gm, vc) = (s"$corpus/linkedin.csv", s"$corpus/gmail.csv", s"$corpus/contacts.vcf")
    val steps = Seq.newBuilder[Map[String, Any]]
    def step[T](name: String)(f: => T): T = {
      val before = meter.snapshot()
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      steps += Map("name" -> name, "wall_s" -> dt, "counters" -> meter.take(before).counters)
      r
    }
    val resolved = Config.load(Config.Cli(linkedinCsv = Some(li), gmailCsv = Some(gm),
      macVcf = Some(vc), outDir = Some(outDir)), None)
    val raw = step("sources.load") {
      graft.sources.Sources.loadAll(spark, li, gm, vc).localCheckpoint(true)
    }
    val normalized = step("etl.normalize") {
      val n = graft.Scratch.scoped(Pipeline.normalize(raw, resolved.normalization))
      n.count(); n
    }
    val (merged, lineage) = step("etl.dedupe_merge") {
      val (m, l) = Pipeline.dedupeAndMerge(normalized, raw, resolved.dedupe)
      val mc = graft.Scratch.scoped(m)
      mc.count()
      (mc, l)
    }
    step("etl.write") {
      Artifacts.writeConsolidated(merged, lineage, resolved.outputsDir,
        singleFile = resolved.outputSingleFile)
      merged.count()
    }
    graft.Scratch.releaseAll()
    val same = digest(outDir, ConsolidateArtifacts) == digest(refDir, ConsolidateArtifacts)
    Map("steps" -> steps.result(), "artifacts_equal" -> same)
  }
}
