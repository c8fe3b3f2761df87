package graft

import graft.etl._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Spark end-to-end tests for the dedupe/merge dataflow: connected
  * components (both the driver union-find fast path and the
  * distributed label-propagation fallback) and the full
  * dedupeAndMerge, mirroring the reference's monkeypatched-build tests
  * (tests/test_combine_helpers.py:190-484).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterEach {

  // acceptedPairs/dedupeAndMerge scope-persist intermediates on
  // non-native corpora; honor the Scratch release contract so the
  // brute-force loops don't pin dead cache for the suite's lifetime.
  override def afterEach(): Unit = { Scratch.releaseAll(); super.afterEach() }

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def comps(vertices: Seq[Long], edges: Seq[(Long, Long)],
      mode: String): Map[Long, Long] = {
    import spark.implicits._
    val vds = vertices.map(java.lang.Long.valueOf).toDS()
    val eds = edges.map { case (s, d) => Pipeline.Edge(s, d) }.toDS()
    val df = mode match {
      case "distributed" => Pipeline.distributedComponents(vds, eds)
      case "contraction" => Pipeline.contractionComponents(vds, eds)
      case _ => Pipeline.connectedComponents(vds, eds)
    }
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val ccModes = Seq("driver", "contraction", "distributed")

  test("connected components: transitive chain collapses to one component") {
    for (mode <- ccModes) {
      val got = comps(0L to 6L, Seq((0L, 1L), (1L, 2L), (3L, 4L), (5L, 4L)), mode)
      assert(got(0) == got(1) && got(1) == got(2), mode)
      assert(got(3) == got(4) && got(4) == got(5), mode)
      assert(got(0) != got(3), mode)
      assert(got(6) == 6L, mode) // isolated vertex keeps its own id
      assert(got(0) == 0L && got(3) == 3L, mode) // min-id labeling
    }
  }

  test("connected components: long path needs multiple propagation rounds") {
    val n = 33L
    val edges = (0L until n - 1).map(i => (i + 1, i)) // reversed order
    for (mode <- ccModes) {
      val got = comps(0L until n, edges, mode)
      assert(got.values.toSet == Set(0L), mode)
    }
  }

  test("contraction demotes to pointer jumping on a shrink-resistant chain") {
    import spark.implicits._
    // A path graph is contraction's worst case: the min-hook quotient
    // of an id-ascending chain loses only ONE edge per round, so the
    // stall detector must hand the remainder to distributedComponents
    // — whose pointer-jumping rounds are also exercised here: a
    // 2048-hop chain converges only because label depth halves each
    // round (plain neighbor-min propagation would need 2047 rounds
    // and silently stop wrong at the iteration cap). maxDriverEdges=8
    // keeps the driver union-find escape out of reach until the jump
    // fallback has collapsed the chain.
    val n = 2048L
    val vds = (0L until n).map(java.lang.Long.valueOf).toDS()
    val eds = (0L until n - 1).map(i => Pipeline.Edge(i + 1, i)).toDS()
    val got = Pipeline.contractionComponents(vds, eds, maxDriverEdges = 8L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.toSet == Set(0L))
  }

  test("contraction components match driver union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 400
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val base = comps(0L until n.toLong, edges, "driver")
    assert(comps(0L until n.toLong, edges, "quotient") == base)
    assert(comps(0L until n.toLong, edges, "distributed") == base)
  }

  test("dedupeAndMerge end-to-end: nickname cluster + distinct household survive") {
    import spark.implicits._
    def c(id: Long) = Contact.blank(id)
    val raw = Seq(
      c(0).copy(source = "gmail", source_row_id = "0", first_name = "Bob",
        last_name = "Smith", emails = Seq(EmailEntry("bob@x.com", "home"))),
      c(1).copy(source = "mac_vcf", source_row_id = "1", first_name = "Robert",
        last_name = "Smith", emails = Seq(EmailEntry("BOB@X.COM", ""))),
      c(2).copy(source = "gmail", source_row_id = "2", first_name = "Alice",
        last_name = "Smith"),
      c(3).copy(source = "linkedin", source_row_id = "3", first_name = "Carol",
        last_name = "Jones", company = "Acme")).toDS()
    val norm = Pipeline.normalize(raw)
    val (merged, lineage) = Pipeline.dedupeAndMerge(norm, raw)
    val out = merged.collect()
    assert(out.length == 3) // Bob+Robert merged; Alice and Carol alone
    val bob = out.find(m => m.contact.last_name == "Smith" && m.source_row_count == 2)
    assert(bob.isDefined)
    assert(bob.get.contact.emails.map(_.value) == Seq("bob@x.com"))
    assert(bob.get.source_count == 2)
    // duplicate-id guard (combine_contacts.py:1519-1525)
    assert(out.map(_.contact_id).distinct.length == out.length)
    assert(lineage.collect().length == 4)

    // The lineage-light variant (members standing in for their raw
    // originals — the stage-query memo's path) must produce the SAME
    // merged output and the same lineage id spine (contact_id, source,
    // source_row_id); only the source_*_raw renderings may differ.
    val (merged2, lineage2) = Pipeline.dedupeContactsWithLineage(norm)
    assert(merged2.collect().sortBy(_.contact_id).toSeq ==
      out.sortBy(_.contact_id).toSeq)
    def spine(l: org.apache.spark.sql.Dataset[Lineage]) =
      l.collect().map(r => (r.contact_id, r.source, r.source_row_id)).toSet
    assert(spine(lineage2) == spine(lineage))
  }

  test("acceptedPairs matches brute-force shouldMerge under non-default thresholds") {
    import spark.implicits._
    def c(id: Long) = Contact.blank(id)
    // Pair classes that exercise every fast-accept branch: exact name
    // equality (sim 1.0), nickname equivalence (sim floor 0.96),
    // suffix bonus, channel corroborators, linkedin-source strict gate,
    // nameless pairs, and a norm-equal-but-not-lowercase-equal name.
    val raw = Seq(
      c(0).copy(source = "gmail", first_name = "Bob", last_name = "Smith",
        emails = Seq(EmailEntry("bob@x.com", "home"))),
      c(1).copy(source = "mac_vcf", first_name = "Robert", last_name = "Smith",
        emails = Seq(EmailEntry("bob@x.com", ""))),
      c(2).copy(source = "gmail", first_name = "Bob", last_name = "Smith",
        suffix = "Jr"),
      c(3).copy(source = "gmail", first_name = "Bob", last_name = "Smith",
        suffix = "jr", phones = Seq(PhoneEntry("+16175550100", "", ""))),
      c(4).copy(source = "linkedin", first_name = "Robert", last_name = "Smith",
        linkedin_url = "https://linkedin.com/in/rsmith"),
      c(5).copy(source = "gmail", first_name = "", last_name = "Smith",
        phones = Seq(PhoneEntry("+16175550100", "", ""))),
      c(6).copy(source = "gmail", first_name = "José", last_name = "Smith"),
      c(7).copy(source = "gmail", first_name = "Jose", last_name = "Smith",
        emails = Seq(EmailEntry("jose@x.com", "home"))),
      c(8).copy(source = "gmail", first_name = "Liz", last_name = "Smith"),
      c(9).copy(source = "gmail", first_name = "Elizabeth", last_name = "Smith")).toDS()
    val norm = Pipeline.normalize(raw).collect().toSeq
    val normDs = norm.toDS()
    val configs = Seq(
      ContactLogic.DedupeConfig(),
      ContactLogic.DedupeConfig(relaxedMergeThreshold = 0.8),
      ContactLogic.DedupeConfig(firstNameSimilarityThreshold = 0.97),
      ContactLogic.DedupeConfig(mergeScoreThreshold = 2.0, relaxedMergeThreshold = 1.5),
      ContactLogic.DedupeConfig(requireCorroborator = true),
      ContactLogic.DedupeConfig(nicknameEquivalence = false,
        relaxedMergeThreshold = 0.69))
    val recs = norm.map(ContactLogic.toMatchRec)
    // acceptedPairs may replace within-clique pairs by spanning chains,
    // so assert (a) soundness: every emitted edge is a genuinely
    // accepted pair, and (b) completeness: the transitive closure
    // equals the brute-force closure over ALL same-block pairs.
    def closure(edges: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long =
        if (parent.getOrElse(x, x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      recs.map(r => r.row_id -> find(r.row_id)).toMap
    }
    for (cfg <- configs) {
      val expected = (for {
        a <- recs; b <- recs
        if a.row_id < b.row_id && a.block == b.block
        if ContactLogic.shouldMerge(a, b, cfg)
      } yield (a.row_id, b.row_id)).toSet
      val got = Pipeline.acceptedPairs(normDs, cfg).collect()
        .map(e => (e.src, e.dst)).toSet
      assert(got.subsetOf(expected), s"unsound edges ${got -- expected} cfg=$cfg")
      assert(closure(got) == closure(expected), s"cfg=$cfg")
      Scratch.releaseAll() // per-iteration: the loop re-derives the pair table
    }
  }

  test("acceptedPairs closure matches brute force on random corpora") {
    import spark.implicits._
    // "́̂" is a combining-mark-only name: raw-nonempty but
    // NFKD-folds to "", so its nm/nr keys vanish from the inverted
    // index — such rows must take the typed Scala remainder (the
    // `native` eligibility gate), and their presence flips the probe
    // that otherwise builds the single-branch plan.
    val firsts = Seq("Bob", "Robert", "BOB", "Liz", "Elizabeth", "Bill",
      "William", "José", "Jose", "Carol", "", "́̂")
    val lasts = Seq("Smith", "Jones", "O'Neil", "")
    val suffixes = Seq("", "", "Jr", "Sr")
    val sources = Seq("gmail", "linkedin", "mac_vcf")
    val emails = Seq("", "", "a@x.com", "b@x.com", "c@y.org")
    val phones = Seq("", "", "+16175550100", "+16175550101")
    val urls = Seq("", "", "https://linkedin.com/in/p1", "https://linkedin.com/in/p2")
    def corpus(seed: Int): Seq[Contact] = {
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: Seq[A]) = xs(rnd.nextInt(xs.length))
      (0 until 20).map { i =>
        Contact.blank(i.toLong).copy(
          source = pick(sources), source_row_id = i.toString,
          first_name = pick(firsts), last_name = pick(lasts),
          suffix = pick(suffixes),
          nickname = if (rnd.nextInt(4) == 0) pick(firsts) else "",
          linkedin_url = pick(urls),
          emails = Seq(pick(emails)).filter(_.nonEmpty)
            .map(EmailEntry(_, pick(Seq("", "home", "work")))),
          phones = Seq(pick(phones)).filter(_.nonEmpty)
            .map(PhoneEntry(_, "", "")),
          addresses = if (rnd.nextInt(3) == 0)
            Seq(AddressEntry("", "", "1 Elm St", "Boston", "MA", "02108", "US", "home"))
          else Nil)
      }
    }
    def closure(vertices: Seq[Long], edges: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long =
        if (parent.getOrElse(x, x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      vertices.map(v => v -> find(v)).toMap
    }
    val cases = (1 to 6).map(s => (s, ContactLogic.DedupeConfig())) ++ Seq(
      (7, ContactLogic.DedupeConfig(relaxedMergeThreshold = 0.8)),
      (8, ContactLogic.DedupeConfig(requireCorroborator = true)))
    for ((seed, cfg) <- cases) {
      val norm = Pipeline.normalize(corpus(seed).toDS()).collect().toSeq
      val recs = norm.map(ContactLogic.toMatchRec)
      val expected = (for {
        a <- recs; b <- recs
        if a.row_id < b.row_id && a.block == b.block
        if ContactLogic.shouldMerge(a, b, cfg)
      } yield (a.row_id, b.row_id)).toSet
      val got = Pipeline.acceptedPairs(norm.toDS(), cfg).collect()
        .map(e => (e.src, e.dst)).toSet
      val ids = recs.map(_.row_id)
      assert(got.subsetOf(expected), s"seed=$seed unsound ${got -- expected} cfg=$cfg")
      assert(closure(ids, got) == closure(ids, expected), s"seed=$seed cfg=$cfg")
      Scratch.releaseAll()
    }
  }

  test("match-key frequency cap prunes generation but keeps full evidence") {
    import spark.implicits._
    def c(id: Long) = Contact.blank(id)
    // Six records share one junk mailbox (df 6 > cap 4). Two are both
    // "Bob" (different suffixes, so no clique) — their candidate pair
    // survives through the name key, and the capped path must still
    // count the email overlap from the full arrays (score 1.7).
    val stop = "noreply@corp.com"
    val firsts = Seq("Alice", "Bob", "Carol", "Dave", "Erin", "Bob")
    // Full names parse to (first, Smith[, Jr]); an empty full name
    // would let the reference's email-local guess override the first
    // names with "Noreply" (normalization.py:680-694).
    val raw = (0L until 6L).map { i =>
      c(i).copy(source = "gmail", source_row_id = i.toString,
        full_name_raw = firsts(i.toInt) + " Smith" + (if (i == 1) " Jr" else ""),
        emails = Seq(EmailEntry(stop, "work")))
    }
    val norm = Pipeline.normalize(raw.toDS())
    val uncapped = Pipeline.acceptedPairs(norm).collect()
      .map(e => (e.src, e.dst)).toSet
    val capped = Pipeline.acceptedPairs(norm,
        ContactLogic.DedupeConfig(matchKeyFrequencyCap = Some(4L))).collect()
      .map(e => (e.src, e.dst)).toSet
    // Uncapped, the shared mailbox merges even weakly-similar names
    // (alice/carol: 0.7*0.4 + 1.0 >= 1.2).
    assert(uncapped.contains((0L, 2L)))
    assert(uncapped.contains((1L, 5L)))
    // Capped: only the pair with a sub-cap shared key remains, and its
    // decision still saw the email evidence (bare name score 0.7 alone
    // would not pass the 1.2 threshold).
    assert(capped == Set((1L, 5L)))
  }

  test("combining-mark-only names pair via the sentinel name key") {
    import spark.implicits._
    def c(id: Long) = Contact.blank(id)
    // Raw-distinct names that both NFKD-fold to "": the reference's
    // alignment rule pairs them (norm "" == norm "", and two empty
    // nickname roots are equivalent → 0.96 floor → relaxed accept),
    // but their name keys vanish from the inverted index — the
    // sentinel key must generate the pair, and the typed shouldMerge
    // must decide it (they are excluded from the native decision).
    val raw = Seq(
      c(0).copy(source = "gmail", source_row_id = "0",
        first_name = "́", last_name = "Smith"),
      c(1).copy(source = "gmail", source_row_id = "1",
        first_name = "̂", last_name = "Smith"),
      c(2).copy(source = "gmail", source_row_id = "2",
        first_name = "Ann", last_name = "Smith")).toDS()
    val norm = Pipeline.normalize(raw).collect().toSeq
    val recs = norm.map(ContactLogic.toMatchRec)
    val expected = (for {
      a <- recs; b <- recs
      if a.row_id < b.row_id && a.block == b.block
      if ContactLogic.shouldMerge(a, b, ContactLogic.DedupeConfig())
    } yield (a.row_id, b.row_id)).toSet
    assert(expected == Set((0L, 1L))) // the gap case really is accepted
    val got = Pipeline.acceptedPairs(norm.toDS()).collect()
      .map(e => (e.src, e.dst)).toSet
    val capped = Pipeline.acceptedPairs(norm.toDS(),
        ContactLogic.DedupeConfig(matchKeyFrequencyCap = Some(10L))).collect()
      .map(e => (e.src, e.dst)).toSet
    assert(got == expected)
    assert(capped == expected)
  }

  test("skewed block: shared junk phone creates no merges; cap prunes generation only") {
    import spark.implicits._
    def c(id: Long) = Contact.blank(id)
    // The pathological blocking input (combine_contacts.py:1149-1152
    // is the reference's per-block O(b²) bound): ONE surname block
    // holds every record, every record carries the same call-center
    // phone (df 24 >> cap), and each identity appears twice sharing a
    // personal email (df 2). Cross-identity candidate pairs arise only
    // through the junk phone and must ALL be rejected by the
    // name-alignment gate (a phone overlap does not align names);
    // same-identity pairs must merge through their sub-cap keys. So
    // the capped run must emit EXACTLY the uncapped edge set — the
    // generation-only-suppression contract on the skew shape it
    // exists for.
    val raw = (0L until 24L).map { i =>
      val ident = i / 2
      c(i).copy(source = if (i % 2 == 0) "gmail" else "mac_vcf",
        source_row_id = i.toString,
        first_name = s"Pat$ident", last_name = "Smith",
        emails = Seq(EmailEntry(s"pat$ident@x.com", "home")),
        phones = Seq(PhoneEntry("+16175550000", "work", ""),
          PhoneEntry(f"+1617556${1000 + ident}%04d", "mobile", "")))
    }
    val norm = Pipeline.normalize(raw.toDS()).collect().toSeq
    val recs = norm.map(ContactLogic.toMatchRec)
    assert(recs.map(_.block).distinct == Seq("smith")) // genuinely one block
    val expected = (for {
      a <- recs; b <- recs
      if a.row_id < b.row_id && ContactLogic.shouldMerge(a, b, ContactLogic.DedupeConfig())
    } yield (a.row_id, b.row_id)).toSet
    assert(expected == (0L until 24L by 2).map(i => (i, i + 1)).toSet)
    val uncapped = Pipeline.acceptedPairs(norm.toDS()).collect()
      .map(e => (e.src, e.dst)).toSet
    val capped = Pipeline.acceptedPairs(norm.toDS(),
        ContactLogic.DedupeConfig(matchKeyFrequencyCap = Some(10L))).collect()
      .map(e => (e.src, e.dst)).toSet
    assert(uncapped == expected)
    assert(capped == uncapped)
  }

  test("junk-key pairs decide in codegen: zero R-O calls, zero typed decisions") {
    import spark.implicits._
    def c(id: Long) = Contact.blank(id)
    // The q45/THROUGHPUT skew shape with NO legitimate merges: one
    // surname block, all-distinct digit-suffixed first names, every
    // row carrying the same call-center phone. All 300 candidate
    // pairs arise from the junk key alone and must die at the codegen
    // alignment gate — before any Ratcliff–Obershelp evaluates
    // (Pipeline's clause-order contract), and without a single pair
    // leaving the native path (every row has a core name and clean
    // folded norms). Counters are JVM-local, meaningful because the
    // suite runs local[] — executors share this JVM.
    val raw = (0L until 25L).map { i =>
      c(i).copy(source = "gmail", source_row_id = i.toString,
        first_name = s"Pat$i", last_name = "Smith",
        phones = Seq(PhoneEntry("+16175550000", "work", "")))
    }
    val norm = Pipeline.normalize(raw.toDS()).localCheckpoint(true)
    val ro0 = graft.functions.Similarity.evalCount.sum()
    val td0 = ContactLogic.typedDecisionCount.sum()
    assert(Pipeline.acceptedPairs(norm).collect().isEmpty)
    assert(graft.functions.Similarity.evalCount.sum() == ro0,
      "junk-key pairs paid Ratcliff–Obershelp calls")
    assert(ContactLogic.typedDecisionCount.sum() == td0,
      "junk-key pairs left the codegen path for the typed remainder")
  }

  test("flatten projects first valid channel per label bucket") {
    import spark.implicits._
    val m = MergedContact(
      contact_id = "id-1",
      contact = Contact.blank(0).copy(
        full_name = "Ann Yu",
        emails = Seq(EmailEntry("bad@x.com", "invalid"), EmailEntry("a@x.com", "work")),
        phones = Seq(PhoneEntry("+16175550100", "home", "22")),
        addresses = Seq(AddressEntry("", "", "1 Elm St", "Boston", "MA", "02108", "US", "home"))),
      addresses_json = "[]", source_count = 1, source_row_count = 1,
      invalid_emails = Nil, non_standard_phones = Nil)
    val row = Pipeline.flatten(Seq(m).toDS()).collect().head
    assert(row.getAs[String]("work_email") == "a@x.com")
    assert(row.getAs[String]("home_email") == "")
    assert(row.getAs[String]("home_phone") == "+16175550100x22")
    assert(row.getAs[String]("home_address") == "1 Elm St, Boston, MA, 02108, US")
  }

  test("column flatten equals the typed Scala projection on generated contacts") {
    import spark.implicits._
    // The typed projection flatten replaced, kept here as the oracle.
    def oracle(m: MergedContact): Seq[String] = {
      val validEmails = m.contact.emails.filter(e => e.label.nonEmpty && e.label != "invalid")
      val validPhones = m.contact.phones.filter(p => p.label.nonEmpty && p.label != "invalid")
      val validAddrs = m.contact.addresses.filter(_.label.nonEmpty)
      def firstEmail(label: String): String =
        validEmails.find(_.label == label).map(_.value).getOrElse("")
      def firstPhone(label: String): String =
        validPhones.find(_.label == label)
          .map(p => graft.functions.Phones.withExtension(p.value, p.extension)).getOrElse("")
      def firstAddr(label: String): String =
        validAddrs.find(_.label == label).map(a =>
          Seq(a.street, a.city, a.state, a.postal_code, a.country)
            .filter(_.nonEmpty).mkString(", ")).getOrElse("")
      Seq(m.contact_id, m.contact.full_name, m.contact.company,
        m.contact.department, m.contact.title, m.contact.linkedin_url,
        firstEmail("home"), firstEmail("work"), firstEmail("other"),
        firstPhone("home"), firstPhone("work"), firstPhone("other"),
        firstAddr("home"), firstAddr("work"), firstAddr("other"))
    }
    val rnd = new scala.util.Random(7)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    def label = pick("", "invalid", "home", "work", "other", "mobile", "Home")
    def part = pick("", "", "1 Elm St", "Boston", " MA ", "02108", "US")
    def n(k: Int) = rnd.nextInt(k + 1)
    val contacts = (0 until 400).map { i =>
      MergedContact(
        contact_id = s"id-$i",
        contact = Contact.blank(i).copy(
          full_name = pick("", "Ann Yu", "Bo Li"), company = pick("", "Acme"),
          department = pick("", "R&D"), title = pick("", "CTO"),
          linkedin_url = pick("", "https://linkedin.com/in/x"),
          emails = Seq.fill(n(4))(EmailEntry(s"e${rnd.nextInt(9)}@x.com", label)),
          phones = Seq.fill(n(4))(PhoneEntry(s"+1617555010${rnd.nextInt(9)}", label,
            pick("", " ", "\t", " \n", "22", " 7 ", "\t9"))),
          addresses = Seq.fill(n(3))(
            AddressEntry("", "", part, part, part, part, part, label))),
        addresses_json = "[]", source_count = 1, source_row_count = 1,
        invalid_emails = Nil, non_standard_phones = Nil)
    }
    val flat = Pipeline.flatten(contacts.toDS())
    assert(flat.columns.toSeq == Seq("contact_id", "full_name", "company", "department",
      "title", "linkedin_url", "home_email", "work_email", "other_email",
      "home_phone", "work_phone", "other_phone",
      "home_address", "work_address", "other_address"))
    val got = flat.collect().map(r => r.toSeq.map(_.asInstanceOf[String])).sortBy(_.head)
    val want = contacts.map(oracle).sortBy(_.head)
    assert(got.toSeq == want)
    // The generator reached every branch the oracle distinguishes.
    assert(want.exists(r => r.slice(9, 12).exists(_.contains("x"))))
    assert(want.exists(r => r.slice(9, 12).exists(p => p.nonEmpty && !p.contains("x"))))
    assert(want.exists(r => r.slice(12, 15).exists(_.nonEmpty)))
    assert(want.exists(r => r.slice(6, 15).forall(_.isEmpty)))
  }
}
