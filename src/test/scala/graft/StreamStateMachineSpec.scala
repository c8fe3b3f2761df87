package graft

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.queries.StreamingOps._

/** The family state machines against direct batch rules, with no
  * SparkSession: random per-user event sequences are cut at random
  * points into in-order micro-batches (rows shuffled within a batch),
  * and one `TestGroupState` per call carries the state from call to
  * call. Covered are the five NoTimeout handlers — q67 sessions, q115
  * funnel, q128 retention, q130 funnel with control, q139 retention
  * with control — each projected the way its query projects it, and
  * q134's flush timers under control (below):
  *   - funnel: the q113 cascade;
  *   - sessions: the gap split minus each user's last session;
  *   - retention: the cohort cells;
  *   - the control variants: the same rules over each requested user's
  *     events at or after their instant T, the request placed at its
  *     event-time position (the delivery contract), ahead of events at
  *     T itself.
  * The crafted multi-batch specs pin a few split points; this one
  * covers arbitrary ones. */
object StreamStateMachineSpec extends Properties("StreamStateMachineSpec") {

  private val MinUs = 60L * 1000000
  private val DayUs = 86400000000L
  private val Base = java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli * 1000

  /** One user's input: time-ordered (ts_us, event_type) events, an
    * optional request instant, the cut points and a shuffle seed. */
  final case class UserCase(user: Long, events: Vector[(Long, String)],
      request: Option[Long], cuts: Set[Int], seed: Long)

  // Gaps of zero (ties), within the session gap (its edge included), and
  // beyond it, from a start spread over a day: sessions, day changes and
  // same-instant rows all occur.
  private val genGapMin = Gen.frequency(
    2 -> Gen.const(0L), 5 -> Gen.choose(1L, 30L), 1 -> Gen.const(31L),
    4 -> Gen.choose(32L, 3000L))

  private def genUser(user: Long, types: Seq[String], control: Boolean): Gen[UserCase] =
    for {
      n <- Gen.choose(0, 24)
      start <- Gen.choose(0L, 24L * 60)
      gaps <- Gen.listOfN(n, genGapMin)
      tys <- Gen.listOfN(n, Gen.oneOf(types))
      ts = gaps.scanLeft(Base + start * MinUs)(_ + _ * MinUs).tail
      // A request before, between, on or after the events.
      request <- if (!control) Gen.const(None) else Gen.option(
        if (ts.isEmpty) Gen.const(Base)
        else Gen.oneOf(ts).flatMap(t => Gen.oneOf(t - MinUs, t, t + MinUs, t + DayUs)))
      cuts <- Gen.someOf(1 to n + 1)
      seed <- Gen.long
    } yield UserCase(user, ts.zip(tys).toVector, request, cuts.toSet, seed)

  private def genCase(types: Seq[String], control: Boolean): Gen[List[UserCase]] =
    Gen.choose(1, 4).flatMap(k =>
      Gen.sequence[List[UserCase], UserCase]((1 to k).map(u => genUser(u.toLong, types, control))))

  /** Feed one user's rows to `h` batch by batch: the request sorts
    * ahead of events at its instant, the sequence is cut at `cuts`,
    * and each batch arrives shuffled. */
  private def replay[S, O](h: Handler[S, O], c: UserCase,
      row: (Long, String) => StreamRow, req: Long => StreamRow): Seq[O] = {
    val ordered = (c.events.map { case (t, ty) => (t, 1, row(t, ty)) } ++
      c.request.map(t => (t, 0, req(t)))).sortBy(r => (r._1, r._2)).map(_._3)
    val bounds = (0 +: c.cuts.filter(_ < ordered.size).toSeq.sorted :+ ordered.size).distinct
    val rnd = new scala.util.Random(c.seed)
    var st: Option[S] = None
    bounds.zip(bounds.tail).flatMap { case (a, b) =>
      val gs = TestGroupState.create[S](st.fold(Optional.empty[S]())(Optional.of(_)),
        GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long](), false)
      val out = h(c.user, rnd.shuffle(ordered.slice(a, b)).iterator, gs).toList
      st = if (gs.exists) Some(gs.get) else None
      out
    }
  }

  /** Events a batch rule sees: at/after the user's request, if any. */
  private def kept(c: UserCase): Vector[(Long, String)] =
    c.events.filter { case (t, _) => c.request.forall(t >= _) }

  // ---- funnel (q115, q130)

  private type Funnel = Option[(Int, Option[Long], Option[Long])]

  private def cascade(evs: Seq[(Long, String)]): Funnel = {
    val t1 = evs.collect { case (t, "view") => t }.minOption
    t1.map { v =>
      val t2 = evs.collect { case (t, "click") if t > v => t }.minOption
      val t3 = t2.flatMap(c => evs.collect { case (t, "purchase") if t > c => t }.minOption)
      (if (t3.isDefined) 3 else if (t2.isDefined) 2 else 1, t2.map(_ - v),
        t3.flatMap(p => t2.map(p - _)))
    }
  }

  /** [[funnelCurrent]] per user: the latest era's max-reached row. */
  private def funnelView(out: Seq[FunnelOutE]): Funnel = {
    val era = out.exists(_.erased)
    out.filter(r => r.erased == era && r.reached_step > 0).maxByOption(_.reached_step)
      .map(r => (r.reached_step, Option(r.v2c_micros).map(_.longValue),
        Option(r.c2p_micros).map(_.longValue)))
  }

  private val FunnelTypes = Seq("view", "click", "purchase", "signup")

  private def funnelProp(h: FunnelHandler, control: Boolean,
      row: (Long, Long, String) => StreamRow): Prop =
    forAll(genCase(FunnelTypes, control)) { users =>
      users.forall { c =>
        val got = funnelView(replay(h, c, (t, ty) => row(c.user, t, ty),
          t => CtrlEvent(c.user, t, "erase_request", 1)))
        val want = cascade(kept(c))
        if (got != want) println(s"${h.label}: $c -> $got, want $want")
        got == want
      }
    }

  property("q115 funnel == q113 cascade at any cut") =
    funnelProp(FunnelHandler("q115", Retire.Never, Erase.Never), control = false,
      (u, t, ty) => FunnelEvent(u, t, ty))

  property("q130 funnel with control == cascade over events at/after T") =
    funnelProp(FunnelHandler("q130", Retire.Never, Erase.Control), control = true,
      (u, t, ty) => CtrlEvent(u, t, ty, 0))

  // ---- sessions (q67)

  property("q67 sessions == gap split minus each user's last session") = {
    val h = SessionHandler("q67", Retire.Never, Erase.Never)
    forAll(genCase(Seq("view"), control = false)) { users =>
      users.forall { c =>
        val got = replay(h, c, (t, _) => SessionEvent(c.user, t), _ => sys.error("no requests"))
          .map(o => (o.n_events, o.start_us, o.end_us))
        val ts = c.events.map(_._1)
        val split = ts.foldLeft(Vector.empty[Vector[Long]]) { (acc, t) =>
          if (acc.nonEmpty && t - acc.last.last <= queries.SessGapUs) acc.init :+ (acc.last :+ t)
          else acc :+ Vector(t)
        }
        val want = split.dropRight(1).map(s => (s.size.toLong, s.head, s.last))
        // Closures are emitted in time order, batch after batch.
        if (got != want) println(s"q67: $c -> $got, want $want")
        got == want
      }
    }
  }

  // ---- sessions under control with flush (q134)

  /** One user's time-ordered session events, cut into batches, with a
    * request at or before the first event placed alone in a batch at
    * `at` (0 = before every event batch, a late request after it). */
  final case class LateCase(events: Vector[Long], cuts: Set[Int], at: Int, reqUs: Long)

  private val genLate: Gen[LateCase] = for {
    n <- Gen.choose(1, 16)
    start <- Gen.choose(0L, 24L * 60)
    gaps <- Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(1L, 30L), 1 -> Gen.const(31L), 4 -> Gen.choose(32L, 3000L)))
    lead <- Gen.choose(0L, 100L)
    cuts <- Gen.someOf(1 until n)
    ts = gaps.scanLeft(Base + start * MinUs)(_ + _ * MinUs).tail.toVector
    at <- Gen.choose(0, cuts.size + 1)
  } yield LateCase(ts, cuts.toSet, at, ts.head - lead * MinUs)

  /** Replays a [[LateCase]] through `h` the way a 0-delay watermarked
    * stream runs it: each batch's call, then a no-data batch at the
    * advanced watermark firing an expired timer; a call that sets no
    * timer drops the group's timer, as Spark does. Finally another
    * user's event pushes the watermark past everything. Returns the
    * emissions and the state left. */
  private def replayFlush(h: SessionHandler, c: LateCase): (Seq[SessionOutE], Boolean) = {
    val bounds = (0 +: c.cuts.toSeq.sorted :+ c.events.size).distinct
    val evBatches = bounds.zip(bounds.tail).map { case (a, b) =>
      c.events.slice(a, b).map(t => CtrlSessEvent(1L, new java.sql.Timestamp(t / 1000), t, 0)) }
    val batches = evBatches.patch(c.at, Seq(Seq(CtrlSessEvent(1L,
      new java.sql.Timestamp(c.reqUs / 1000), c.reqUs, 1))), 0)
    var st: Option[OpenSessionE] = None
    var timer: Option[Long] = None
    var wm = 0L
    val out = Vector.newBuilder[SessionOutE]
    def call(rows: Seq[StreamRow], timedOut: Boolean): Unit = {
      val gs = TestGroupState.create[OpenSessionE](st.fold(Optional.empty[OpenSessionE]())(Optional.of(_)),
        GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wm), timedOut)
      out ++= h(1L, rows.iterator, gs)
      st = if (gs.exists) Some(gs.get) else None
      timer = if (gs.getTimeoutTimestampMs.isPresent) Some(gs.getTimeoutTimestampMs.get) else None
    }
    def fire(): Unit = if (st.isDefined && timer.exists(_ < wm)) call(Nil, timedOut = true)
    batches.foreach { b =>
      call(b, timedOut = false)
      wm = math.max(wm, b.filter(_.kind == 0).map(_.ts_us / 1000).maxOption.getOrElse(0L))
      fire()
    }
    wm = Long.MaxValue / 2
    fire()
    (out.result(), st.isDefined)
  }

  property("q134 flushes every session when a request arrives alone in its batch") = {
    val h = SessionHandler("q134", Retire.Flush, Erase.Control)
    forAll(genLate) { c =>
      val (out, left) = replayFlush(h, c)
      val got = out.filter(_.n_events > 0).map(o => (o.n_events, o.start_us, o.end_us)).sortBy(_._2)
      val split = c.events.foldLeft(Vector.empty[Vector[Long]]) { (acc, t) =>
        if (acc.nonEmpty && t - acc.last.last <= queries.SessGapUs) acc.init :+ (acc.last :+ t)
        else acc :+ Vector(t)
      }
      val want = split.map(s => (s.size.toLong, s.head, s.last))
      val ok = got == want && out.count(_.n_events == 0) == 1 && !left
      if (!ok) println(s"q134: $c -> $out (state left: $left), want $want")
      ok
    }
  }

  // ---- retention (q128, q139)

  private def cells(pairs: Seq[(Int, Int)]): Map[(Int, Int), Int] =
    pairs.groupBy { case (day, cohort) => (cohort, day - cohort) }.view.mapValues(_.size).toMap

  /** [[retentionCurrent]] per user: the latest era's (day, cohort) pairs. */
  private def retentionView(out: Seq[RetOutE]): Seq[(Int, Int)] = {
    val era = out.exists(_.erased)
    out.filter(r => r.erased == era && r.day >= 0).map(r => (r.day, r.cohort_day))
  }

  private def cohortPairs(evs: Seq[(Long, String)]): Seq[(Int, Int)] = {
    val days = evs.map { case (t, _) => (t / DayUs).toInt }.distinct
    days.map(d => (d, days.min))
  }

  private def retentionProp(h: RetentionHandler, control: Boolean,
      row: (Long, Long) => StreamRow): Prop =
    forAll(genCase(Seq("activity"), control)) { users =>
      val outs = users.map(c => retentionView(replay(h, c, (t, _) => row(c.user, t),
        t => CtrlEvent(c.user, t, "erase_request", 1))))
      val got = cells(outs.flatten)
      val want = cells(users.flatMap(c => cohortPairs(kept(c))))
      if (got != want) println(s"${h.label}: $users -> $got, want $want")
      // Each (user, day) is emitted once per era.
      got == want && outs.forall(o => o.distinct.size == o.size)
    }

  property("q128 retention == cohort cells at any cut") =
    retentionProp(RetentionHandler("q128", Retire.Never, Erase.Never), control = false,
      (u, t) => SessionEvent(u, t))

  property("q139 retention with control == cohort cells over events at/after T") =
    retentionProp(RetentionHandler("q139", Retire.Never, Erase.Control), control = true,
      (u, t) => CtrlEvent(u, t, "activity", 0))
}
