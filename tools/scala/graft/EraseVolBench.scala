package graft

import org.apache.spark.sql.functions._

/** Volume run for q125/q126's user erasure at 28.7M events / 240k
  * users — the remove half of the behavioral standing artifacts.
  *
  * Shape: the standing q113 funnel states and q114 retention state
  * (first-seen + cells) are built once and STORED (a deployment reads
  * them); a deterministic 10 % user batch then erases. The timed
  * takedown body is (a) recovering the removed users' distinct
  * (user, day) activity — a pruned scan on a user-bucketed event
  * store, a filter scan here — and (b) the erasure merges themselves,
  * reported separately so the recurring costs are visible. Verify is
  * erasure == from-scratch recompute over the survivors, cell for
  * cell and state row for state row, plus branch counters (cells
  * decremented / dropped, cohorts dropped, state rows deleted).
  *
  * Usage: sbt "Test/runMain graft.EraseVolBench /tmp/events24m"
  */
object EraseVolBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/events24m")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new Meter(spark)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val e = Tables.load(spark, dir, "events")
    val scratch = java.nio.file.Files.createTempDirectory("graft_evb_").toString

    // ---- setup: standing artifacts stored (registration-instance
    // cost a deployment pays once at build time, not per takedown).
    val (_, setupS) = timed {
      queries.Analytic.funnelStates(e).write.mode("overwrite").parquet(s"$scratch/fs")
      val (f, c) = queries.Analytic.retentionState(e)
      f.write.mode("overwrite").parquet(s"$scratch/f")
      c.write.mode("overwrite").parquet(s"$scratch/c")
    }
    val nStates = spark.read.parquet(s"$scratch/fs").count()
    val nF = spark.read.parquet(s"$scratch/f").count()
    println(f"EVBSETUP  standing funnel states ($nStates%,d) + retention " +
      f"(first-seen $nF%,d) stored in $setupS%5.1f s")

    // ---- the erasure batch: deterministic 10 % of users.
    val removed = e.where(queries.Analytic.erasedUsers)
      .select(col("user_id")).distinct()
    meter.take()
    val (removedActivity, recoverS) = timed {
      val ra = e.where(queries.Analytic.erasedUsers)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      ra.write.mode("overwrite").parquet(s"$scratch/ra")
      spark.read.parquet(s"$scratch/ra")
    }
    val nRm = removed.count()
    val nRa = removedActivity.count()
    println(f"EVBRECOVER removed-user activity recovered: $nRm%,d users / " +
      f"$nRa%,d user-days in $recoverS%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB" +
      " (pruned scan on a user-bucketed store; filter scan here)")

    // ---- q125: retention erasure over the STORED state.
    meter.take()
    val ((fAfter, cAfter), eraseRetS) = timed {
      val (fA, cA) = queries.Analytic.eraseRetention(
        spark.read.parquet(s"$scratch/f"), spark.read.parquet(s"$scratch/c"),
        removedActivity)
      fA.write.mode("overwrite").parquet(s"$scratch/f_after")
      cA.write.mode("overwrite").parquet(s"$scratch/c_after")
      (spark.read.parquet(s"$scratch/f_after"), spark.read.parquet(s"$scratch/c_after"))
    }
    println(f"EVBERASE  q125 retention erasure applied in $eraseRetS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- q126: funnel erasure over the STORED states.
    meter.take()
    val (fsAfter, eraseFunS) = timed {
      queries.Analytic.eraseFunnelUsers(
          spark.read.parquet(s"$scratch/fs"), removed)
        .write.mode("overwrite").parquet(s"$scratch/fs_after")
      spark.read.parquet(s"$scratch/fs_after")
    }
    println(f"EVBERASE  q126 funnel erasure applied in $eraseFunS%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")

    // ---- branch counters + verify vs from-scratch over survivors.
    val surv = e.join(removed, Seq("user_id"), "left_anti")
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.get(1).toString.toInt) ->
        r.getLong(2)).toMap
    val before = cellMap(spark.read.parquet(s"$scratch/c"))
    val after = cellMap(cAfter)
    val (fWant, cWant) = queries.Analytic.retentionState(surv)
    val want = cellMap(cWant)
    require(after == want, {
      val d = (after.toSet -- want.toSet) ++ (want.toSet -- after.toSet)
      s"q125 erasure != survivor recompute on ${d.size} cells, e.g. ${d.take(3)}"
    })
    val decremented = after.count { case (k, v) => before(k) != v }
    val dropped = before.keySet -- after.keySet
    val cohortsDropped = before.keySet.map(_._1) -- after.keySet.map(_._1)
    val nFAfter = fAfter.count()
    require(nFAfter == fWant.count(), "first-seen survivor mismatch")
    println(f"EVBVERIFY q125 == survivor recompute: ${after.size}%,d cells " +
      f"($decremented%,d decremented, ${dropped.size}%,d dropped, " +
      f"${cohortsDropped.size}%,d cohorts gone); first-seen $nF%,d -> $nFAfter%,d")

    val nFsAfter = fsAfter.count()
    val wantStates = queries.Analytic.funnelStates(surv)
    val mismatch = fsAfter.join(wantStates.withColumnRenamed("t1", "w1")
        .withColumnRenamed("t2", "w2").withColumnRenamed("t3", "w3"),
        Seq("user_id"), "full")
      .where(!(col("t1") <=> col("w1")) || !(col("t2") <=> col("w2")) ||
             !(col("t3") <=> col("w3")))
      .count()
    require(mismatch == 0, s"q126 erasure != survivor recompute on $mismatch users")
    println(f"EVBVERIFY q126 == survivor recompute: state rows " +
      f"$nStates%,d -> $nFsAfter%,d (${nStates - nFsAfter}%,d deleted), 0 mismatches")

    // ---- second batch: erase an ENTIRE trailing cohort, so the
    // zero-cell drop and whole-cohort-drop branches fire at volume
    // too (a uniformly random user batch leaves every cell of this
    // corpus positive — the first run above measured 0 drops, which
    // AnalyticEraseSpec could only cover crafted). Applied to the
    // ORIGINAL standing state, independent of the first batch.
    val fStand = spark.read.parquet(s"$scratch/f")
    val lastCohort = fStand.agg(max(col("cohort_day"))).collect()(0).getDate(0)
    val cohortUsers = fStand.where(col("cohort_day") === lit(lastCohort))
      .select(col("user_id"))
    val ra2 = e.join(cohortUsers, Seq("user_id"), "left_semi")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    meter.take()
    val ((f2, c2), erase2S) = timed {
      val (fA, cA) = queries.Analytic.eraseRetention(
        fStand, spark.read.parquet(s"$scratch/c"), ra2)
      fA.write.mode("overwrite").parquet(s"$scratch/f_after2")
      cA.write.mode("overwrite").parquet(s"$scratch/c_after2")
      (spark.read.parquet(s"$scratch/f_after2"), spark.read.parquet(s"$scratch/c_after2"))
    }
    val before2 = before
    val after2 = cellMap(c2)
    val (_, cWant2) = queries.Analytic.retentionState(
      e.join(cohortUsers, Seq("user_id"), "left_anti"))
    require(after2 == cellMap(cWant2), "cohort erasure != survivor recompute")
    val dropped2 = before2.keySet -- after2.keySet
    val cohortsGone = before2.keySet.map(_._1) -- after2.keySet.map(_._1)
    require(dropped2.nonEmpty && cohortsGone.nonEmpty,
      "trailing-cohort erasure dropped no cells; branch still unfired at volume")
    println(f"EVBERASE  cohort-$lastCohort erasure (${cohortUsers.count()}%,d users) " +
      f"applied in $erase2S%5.1f s  shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    println(f"EVBVERIFY cohort erasure == survivor recompute: ${dropped2.size}%,d cells " +
      f"dropped, ${cohortsGone.size}%,d cohort(s) gone, first-seen -> ${f2.count()}%,d")

    // ---- q137 phase: PARTIAL erasure at per-user instants (the
    // cohort-move shape) over the ORIGINAL standing state. Requests
    // are the q130/q134 volume population: the erased cohort with
    // instants over corpus days 1-5, so thousands of users re-cohort
    // at their first post-T day (including day-straddlers whose T-day
    // survives only via a post-T event on it).
    val baseUs = java.time.Instant.parse("2025-01-02T00:00:00Z").toEpochMilli * 1000
    val reqT = lit(baseUs) +
      (queries.h60(concat(lit("reqday:"), col("user_id"))) % 5) * lit(86400000000L)
    val requests = removed.select(col("user_id"), reqT.as("req_us"))
    meter.take()
    val ((f3, c3), erase3S) = timed {
      val postT = e.join(broadcast(requests), Seq("user_id"))
        .where(unix_micros(col("ts")) >= col("req_us"))
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val (fA, cA) = queries.Analytic.eraseRetentionBeforeT(
        spark.read.parquet(s"$scratch/f"), spark.read.parquet(s"$scratch/c"),
        removedActivity, postT)
      fA.write.mode("overwrite").parquet(s"$scratch/f_after3")
      cA.write.mode("overwrite").parquet(s"$scratch/c_after3")
      (spark.read.parquet(s"$scratch/f_after3"), spark.read.parquet(s"$scratch/c_after3"))
    }
    println(f"EVBPARTIAL q137 per-user-T partial erasure applied in $erase3S%5.1f s  " +
      f"shufWrite=${meter.take().shuffleWriteBytes / 1e9}%.2f GB")
    val filtered = e.join(broadcast(requests), Seq("user_id"), "left")
      .where(col("req_us").isNull || unix_micros(col("ts")) >= col("req_us"))
    val (fWant3, cWant3) = queries.Analytic.retentionState(
      filtered.select(col("user_id"), col("ts")))
    require(cellMap(c3) == cellMap(cWant3),
      "q137 partial erasure != per-user-T filtered recompute")
    val fJoin = f3.withColumnRenamed("cohort_day", "got")
      .join(fWant3.withColumnRenamed("cohort_day", "want"), Seq("user_id"), "full")
    require(fJoin.where(!(col("got") <=> col("want"))).count() == 0,
      "q137 first-seen != filtered recompute")
    // Census: cohort moves and vanishes among the requested users.
    val fOld = spark.read.parquet(s"$scratch/f")
      .join(broadcast(requests.select(col("user_id"))), Seq("user_id"), "left_semi")
      .withColumnRenamed("cohort_day", "old")
    val moves = fOld.join(f3.withColumnRenamed("cohort_day", "new"), Seq("user_id"), "left")
    val moved = moves.where(col("new").isNotNull && col("new") =!= col("old")).count()
    val vanished = moves.where(col("new").isNull).count()
    val stayed = moves.where(col("new") <=> col("old")).count()
    require(moved > 0 && vanished >= 0 && stayed > 0,
      "cohort-move census vacuous at volume")
    println(f"EVBVERIFY q137 == filtered recompute (cells + first-seen): of " +
      f"$nRm%,d requested users, $moved%,d re-cohorted, $vanished%,d vanished, " +
      f"$stayed%,d kept their cohort day")
    spark.stop()
  }
}
