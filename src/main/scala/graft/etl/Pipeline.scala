package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Spark dataflow for the contact pipeline (reference stage 1,
  * combine_contacts.py:1429-1529, re-expressed as Spark shapes):
  *
  *   normalize   narrow typed map — no shuffle
  *   cliques     exact-name groups become O(m) spanning chains and are
  *               excluded from pairwise work (threshold-aware)
  *   block+pairs inverted-index equi-join on (block, keytype, key) —
  *               candidate volume tracks true key overlap, never the
  *               O(b²) block scan; AQE splits skewed key groups
  *   decide      the merge rule runs as column logic in whole-stage
  *               codegen (Ratcliff–Obershelp via a custom expression)
  *               for every pair whose names are representable in the
  *               key index; only nameless / empty-norm rows pay Scala
  *               deserialization
  *   components  ≤1M edges: direct driver union-find; beyond:
  *               distributed contraction rounds (hook to min label,
  *               take the quotient graph) until the remainder fits
  *               the bounded driver union-find, with star alternation
  *               as the shrink-resistant fallback
  *   merge       groupBy(component).mapGroups — ONE shuffle; cluster
  *               sizes are bounded by duplicate multiplicity, so the
  *               per-group fold is O(dups) not O(n)
  *
  * At 100 TB the only quadratic danger is a degenerate key group; the
  * blocking-key design (surname) + clique collapse + AQE skew
  * splitting keep pair generation proportional to true overlap.
  */
object Pipeline {

  final case class Pair(left: Long, right: Long)
  final case class Edge(src: Long, dst: Long)

  /** Name-key sentinel for candidates whose folded norm is "" — NUL
    * never occurs in a folded norm, so the sentinel can only match
    * itself (see the key-index construction in [[acceptedPairs]]). */
  private val EmptyNormKey = "\u0000"

  /** Per-record normalization: a narrow typed map — it inherits the
    * INPUT layout's parallelism. Callers whose layout under-partitions
    * (a single small parquet split, a handful of big exports) should
    * repartition BEFORE calling: whether the shuffle pays for itself
    * depends on row width × count, which the caller knows and this
    * function cannot (measured: repartitioning a 15k-row single-split
    * corpus is a 6× win; shuffling 420k parsed contacts off 3 export
    * files costs ~2× more than the map time it saves). */
  def normalize(contacts: Dataset[Contact],
      settings: ContactLogic.Settings = ContactLogic.Settings()): Dataset[Contact] = {
    import contacts.sparkSession.implicits._
    contacts.map(c => ContactLogic.normalizeRecord(c, settings))
  }

  /** Accepted merge pairs: block, self-join on the blocking key, apply
    * the merge rule. Returns (left row_id, right row_id), left < right.
    *
    * Three scale devices on top of the blocking itself:
    *  1. only slim MatchRec rows go through the shuffle, not full
    *     contacts;
    *  2. a codegen column pre-filter (a NECESSARY condition for a
    *     merge, mirroring the decision gates) runs inside the join, so
    *     non-candidates die in Tungsten without ever materializing;
    *  3. a fully **native decision** for every pair whose candidate
    *     names are faithfully represented in the key index (1-2
    *     candidates per side, all with nonempty folded norms — the
    *     overwhelming majority): raw-lowercase equality short-circuits
    *     seqRatio to 1.0, the nickname floor comes from the nr-key
    *     overlap, and the remaining cross-product max is at most four
    *     calls of the codegen'd [[graft.plans.SeqRatio]] expression —
    *     the full merge rule (relaxed-threshold path + nameless-
    *     corroborator gate + alignment gate + LinkedIn strict gate +
    *     require-corroborator flag) reduces to pure column logic, so
    *     only genuinely nameless / empty-norm rows pay Scala
    *     deserialization and a typed shouldMerge.
    */
  def acceptedPairs(normalized: Dataset[Contact],
      cfg: ContactLogic.DedupeConfig = ContactLogic.DedupeConfig()): Dataset[Edge] = {
    import normalized.sparkSession.implicits._
    // The non-native row count (nameless / empty-folded-norm
    // candidates — rows the native decision cannot represent) rides the
    // single materialization job below as an accumulator, so the
    // plan-shape probe costs no extra Spark job.
    // (Transformation-side accumulators can over-count on task retry —
    // harmless here: only EXISTENCE is tested, and every increment
    // corresponds to a real row, so >0 has no false positives.)
    val nonNativeAcc = normalized.sparkSession.sparkContext.longAccumulator
    val slim0 = normalized.map { c =>
      val r = ContactLogic.toMatchRec(c)
      if (r.lowerNames.isEmpty || r.normNames.contains("")) nonNativeAcc.add(1)
      r
    }
    // MatchRec's own columns — the window columns appended below must
    // not leak into the typed remainder's deserialization.
    val matchCols = slim0.columns.toIndexedSeq

    // ---- Exact-name clique collapse -----------------------------------
    // Rows agreeing on (block, first candidate lowercase, lastNorm,
    // suffixNorm) with a core name form an accepted CLIQUE under the
    // merge rule: the shared lowercase candidate forces seqRatio = 1.0,
    // so score ≥ 0.7 and the relaxed path fires; the nameless gate sees
    // two core names; the alignment gate sees norm-equal names; and the
    // LinkedIn strict gate sees lastEq ∧ align ∧ genEq. Connected
    // components only need a spanning structure, so each clique
    // contributes a two-level CHAIN — row → signature min → clique min
    // (O(m) edges, every one a genuinely accepted pair) — and its
    // internal pairs are excluded from the pairwise machinery below —
    // the standard exact-duplicate collapse of ER systems, turning
    // near-complete-clique corpora from O(m²) pair evaluations into
    // O(m).
    //
    // Threshold-aware: sound only when the config accepts a bare
    // sim=1.0 score of 0.7 (scoreOk is monotone in the score, so the
    // suffix-bonus class passes too) and no per-pair corroborator is
    // demanded. Any other config disables the collapse and every pair
    // flows through the full machinery.
    val cliquesOn = !cfg.requireCorroborator &&
      (0.7 >= cfg.mergeScoreThreshold ||
        (1.0 >= cfg.firstNameSimilarityThreshold && 0.7 >= cfg.relaxedMergeThreshold))
    val coreRow = size(col("lowerNames")) > 0 && col("lastNorm") =!= ""
    // A STRUCT key, not a delimiter-joined string: a name containing a
    // would-be separator character can never collide two distinct
    // (block, first, last, suffix) tuples into one clique. The first
    // candidate is guarded (the clique window below evaluates this on
    // EVERY row, not just core rows): a nameless row keys on "" —
    // which can never equal a core row's first candidate, since
    // toMatchRec filters candidates to nonempty strings.
    val cliqueKey = struct(col("block"),
      when(size(col("lowerNames")) > 0, element_at(col("lowerNames"), 1))
        .otherwise("").as("first"),
      col("lastNorm"), col("suffixNorm"))
    // Signature of the name-only merge decision (see the
    // representative collapse below). A STRUCT of the raw fields
    // (arrays included — Spark hash-partitions array/struct keys
    // fine), not a delimiter-joined string: a name containing a
    // would-be separator character can never collide two distinct
    // decision inputs into one signature and suppress a merge.
    val sigCol = struct(
      col("block"),
      col("lowerNames"), col("normNames"), col("nickRoots"),
      col("lastNorm"), col("suffixNorm"), lower(col("suffix")),
      col("isLinkedinSrc"))

    // ---- ONE materialization for the whole pair stage -----------------
    // toMatchRec plus BOTH collapse windows (signature min for the
    // name-key representative, clique min for the chain roots)
    // materialize in a single eager localCheckpoint: it truncates the
    // logical plan (downstream actions stop re-analyzing the normalize
    // lineage — at this plan size Catalyst analysis was half the
    // stage's cold wall-clock), the accumulator probe rides the same
    // job, and AQE's post-shuffle coalescing sizes the cached
    // partition count to the DATA (a small corpus collapses to a
    // handful of partitions, so every downstream stage schedules
    // proportionally few tasks; a large corpus keeps full
    // parallelism). The former shape — separate slim checkpoint, a
    // full-width clique window inside the edges job, and the signature
    // window inside the key-table job — paid two extra barriers and a
    // second full-width shuffle for identical results.
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy(sigCol)
    val wCq = org.apache.spark.sql.expressions.Window.partitionBy(cliqueKey)
    val slimR = (if (cliquesOn)
        slim0.toDF()
          .withColumn("__sigmin", min(col("row_id")).over(wSig))
          .withColumn("__cqroot",
            when(coreRow, min(col("row_id")).over(wCq)).otherwise(col("row_id")))
      else slim0.toDF()
        .withColumn("__sigmin", col("row_id"))
        .withColumn("__cqroot", col("row_id"))).localCheckpoint(true)

    // Per-row clique id: the clique key for collapsible rows, a unique
    // per-row sentinel otherwise (never equal across rows -- the rid
    // field is 0 for all key rows and the unique row_id for sentinels,
    // so the two shapes can't cross-collide either).
    val keyCq = struct(lit(0L).as("rid"), cliqueKey.as("k"))
    val sentinelCq = struct(col("row_id").as("rid"),
      struct(lit("").as("block"), lit("").as("first"),
        lit("").as("lastNorm"), lit("").as("suffixNorm")).as("k"))
    val cqCol =
      if (cliquesOn) when(coreRow, keyCq).otherwise(sentinelCq)
      else sentinelCq
    // Two-level spanning chains, all NARROW reads of the cached slimR:
    // every core row chains to its signature min, every signature min
    // to its clique min. Same transitive closure as the former direct
    // row → clique-min chains (a signature refines the clique key, so
    // the composition reaches the same root), without re-shuffling the
    // corpus inside the edges job. A core row's signature group is
    // all-core (equal lowerNames/lastNorm), so both endpoints of every
    // chain edge are clique members.
    val cliqueEdges: Dataset[Edge] =
      if (cliquesOn)
        slimR.where(coreRow && col("row_id") =!= col("__sigmin"))
          .select(col("__sigmin").as("src"), col("row_id").as("dst")).as[Edge]
          .union(slimR.where(coreRow && col("row_id") === col("__sigmin") &&
              col("__sigmin") =!= col("__cqroot"))
            .select(col("__cqroot").as("src"), col("__sigmin").as("dst")).as[Edge])
      else normalized.sparkSession.emptyDataset[Edge]

    // Inverted index of match keys: one (row, keytype, key) row per
    // name/nickname-root/email/phone/address-key/linkedin value. A
    // candidate pair is two rows in one block sharing any key, so
    // candidate generation is a hash equi-join on (block, keytype, key)
    // whose output is proportional to the TRUE overlap count — never
    // the O(b²) of a per-block cross scan.
    //
    // Raw-lowercase name equality implies folded-norm equality (norm =
    // NFKD-fold of the lowercase), so lowercase matches are a SUBSET of
    // the "nm" matches: instead of a separate "ln" keytype (which would
    // double the largest key groups and the join volume), each name key
    // row carries its lowercase form in `lnk` and the pair aggregation
    // recovers the lowercase-equality flag as max(x.lnk == y.lnk).
    //
    // A raw-nonempty candidate whose folded norm is "" (combining-mark-
    // only name) still participates in the reference's alignment rule —
    // norm("" ) == norm("") aligns, and two empty nickname roots are
    // nickname-equivalent — so it emits a SENTINEL name key instead of
    // vanishing from the index (empty norms equal only each other, so
    // the sentinel pairs exactly the rows the reference's per-block
    // scan would align). Such rows are excluded from the native
    // decision (`native` below); the sentinel only guarantees their
    // pairs are GENERATED, and the typed shouldMerge decides them.
    def tagged(kt: String, arr: Column) =
      transform(arr, x => struct(lit(kt).as("kt"), x.as("k"), lit(null: String).as("lnk")))
    val nameKeys = transform(arrays_zip(col("normNames"), col("lowerNames")),
      x => struct(lit("nm").as("kt"),
        when(x.getField("normNames") === "", EmptyNormKey)
          .otherwise(x.getField("normNames")).as("k"),
        x.getField("lowerNames").as("lnk")))
    val nameStructs = concat(nameKeys, tagged("nr", col("nickRoots")))
    val chanStructs = concat(
      tagged("em", col("emails")),
      tagged("ph", col("phones")),
      tagged("ak", col("addrKeys")),
      tagged("li", array(col("linkedin"))))

    // ---- Signature-representative collapse for name keys --------------
    // The clique collapse removes SAME-clique pairs, but a popular name
    // still fans out across cliques (suffix variants, nickname-bearing
    // rows, linkedin vs not), and row-level name keys would stream
    // O(g²) matched rows through the join for a g-row name group — the
    // one remaining quadratic on a name-skewed corpus. Name-only
    // acceptance, however, depends ONLY on the name-decision signature
    // (sigCol above): channel evidence is monotone-positive, so
    // if any cross-group pair is accepted without a shared channel key,
    // the pair of group REPRESENTATIVES is accepted too — and pairs
    // WITH a shared channel key are generated by that channel key
    // independently. One rep per signature therefore emits the nm/nr
    // keys, rows inside a signature group are already spanned by the
    // chains (row → signature min), and the closure is unchanged while
    // name-key join volume drops from O(g²) to O(s²) in the signature
    // count s. Gated on the same soundness flag as the cliques (the
    // chains must exist) and on core rows (nameless rows never
    // name-only-accept).
    val slimT = slimR.withColumn("__rep",
      if (cliquesOn) !coreRow || (col("row_id") === col("__sigmin"))
      else lit(true))

    def keyTable(structs: Column): DataFrame = slimT
      .select(col("row_id"), col("block"), cqCol.as("cq"), explode(structs).as("e"))
      .select(col("row_id"), col("block"), col("cq"), col("e.kt").as("kt"),
        col("e.k").as("k"))
      .where(col("k") =!= "")
      .distinct()
    def keyJoin(left: DataFrame, right: DataFrame) =
      left.as("x").join(right.as("y"),
        col("x.block") === col("y.block") && col("x.kt") === col("y.kt") &&
          col("x.k") === col("y.k") && col("x.row_id") < col("y.row_id") &&
          col("x.cq") =!= col("y.cq"))

    // Evidence is computed from the per-row ARRAYS for every candidate
    // pair (not from which keys happened to generate it — a rep-
    // collapsed or cap-suppressed key must not erase evidence): empty
    // norms map to the same sentinel the key index emits (two
    // empty-norm candidates overlap, mirroring the reference's ""==""
    // alignment); the lowercase arrays stay full — raw-lowercase
    // equality implies norm equality, so every lowercase-equal
    // candidate pair also norm-aligns; identity-typed arrays drop ""
    // entries exactly like the key index. (nickRoots are already
    // empty-filtered at construction — ContactLogic.toMatchRec.)
    //
    // ONE side-info projection carries BOTH the evidence arrays and
    // the scalar attributes the native decision needs, and both pair
    // sides join the SAME DataFrame (renamed per side over an
    // identical child plan, which canonicalizes equal): Spark then
    // builds a single reused broadcast/shuffle exchange where four
    // separate evidence/scalar side-tables previously each paid their
    // own broadcast job — on this slim-table-sized data the four job
    // barriers and the doubled join tree were pure fixed overhead.
    val normsKeyed = transform(col("normNames"),
      x => when(x === "", EmptyNormKey).otherwise(x))
    val sideInfo = slimR.select(col("row_id"),
      normsKeyed.as("normNames"),
      col("lowerNames"),
      col("nickRoots"),
      array_remove(col("emails"), "").as("emails"),
      array_remove(col("phones"), "").as("phones"),
      array_remove(col("addrKeys"), "").as("addrKeys"),
      col("linkedin"),
      col("lastNorm"), col("suffixNorm"),
      lower(col("suffix")).as("suffixLower"),
      col("isLinkedinSrc"), (size(col("normNames")) > 0).as("named"),
      // `native` additionally demands nonempty folded norms: a
      // combining-mark-only candidate folds to "", whose nickname root
      // is also "" — Similarity.nicknameEquivalent treats two such
      // names as equivalent, but the native nr-overlap floor cannot
      // see them (empty keys are filtered from the inverted index), so
      // those rare pairs must fall through to the Scala shouldMerge
      // remainder instead of deciding natively.
      (size(col("lowerNames")) >= 1 &&
        !array_contains(col("normNames"), "")).as("native"),
      when(size(col("lowerNames")) >= 1, element_at(col("lowerNames"), 1))
        .otherwise("").as("cand1"),
      when(size(col("lowerNames")) >= 2, element_at(col("lowerNames"), 2))
        .otherwise("").as("cand2"))
    def side(prefix: String, key: String): DataFrame =
      sideInfo.toDF(sideInfo.columns.map(c =>
        if (c == "row_id") key else s"${prefix}_$c").toIndexedSeq: _*)
    def withSides(cand: DataFrame): DataFrame = cand
      .join(side("a", "src"), "src")
      .join(side("b", "dst"), "dst")
      .withColumns(Map(
        "f_nm" -> arrays_overlap(col("a_normNames"), col("b_normNames")).cast("int"),
        "f_nr" -> arrays_overlap(col("a_nickRoots"), col("b_nickRoots")).cast("int"),
        "f_em" -> arrays_overlap(col("a_emails"), col("b_emails")).cast("int"),
        "f_ph" -> arrays_overlap(col("a_phones"), col("b_phones")).cast("int"),
        "f_ak" -> arrays_overlap(col("a_addrKeys"), col("b_addrKeys")).cast("int"),
        "f_li" -> (col("a_linkedin") =!= "" &&
          col("a_linkedin") === col("b_linkedin")).cast("int"),
        "f_ln" -> arrays_overlap(col("a_lowerNames"), col("b_lowerNames")).cast("int")))
      // Drop the evidence arrays immediately: everything downstream
      // (native decision, candidate filter, the scope-persisted pair
      // cache) needs only the boolean flags and the scalar attributes
      // — caching array-bearing pair rows would more than double the
      // materialized width for no reader.
      .drop(Seq("a", "b").flatMap(p => Seq("normNames", "lowerNames",
        "nickRoots", "emails", "phones", "addrKeys", "linkedin")
        .map(c => s"${p}_$c")): _*)

    val matches = cfg.matchKeyFrequencyCap match {
      case None =>
        // Rep-collapsed name keys + row-level channel keys. The key
        // table is materialized ONCE: the self-join's probe and build
        // sides otherwise each re-execute the explode + distinct
        // subtree (no exchange reuse across a broadcast boundary —
        // the duplicated subtree was a third of the stage's wall on a
        // warm run).
        val gen = keyTable(concat(
          filter(nameStructs, _ => col("__rep")), chanStructs))
          .localCheckpoint(true)
        withSides(keyJoin(gen, gen)
          .select(col("x.row_id").as("src"), col("y.row_id").as("dst"))
          .distinct())
      case Some(cap) =>
        // Stop-key suppression (see DedupeConfig.matchKeyFrequencyCap):
        // keys above the frequency cap are dropped from candidate
        // GENERATION only — the join volume on a junk key is O(df²),
        // which no decision rule downstream can afford to materialize.
        // Surviving candidate pairs are then scored against their FULL
        // (uncapped) key arrays, so every emitted decision is identical
        // to the uncapped rule's. Keys stay ROW-level here: the cap's
        // document-frequency contract counts records, and suppression
        // already bounds any mega-key's join volume.
        // Materialized once — consumed THREE times here (the eligible
        // aggregate plus both self-join sides).
        val keys = keyTable(concat(nameStructs, chanStructs))
          .localCheckpoint(true)
        val eligible = keys.groupBy(col("block"), col("kt"), col("k"))
          .agg(count(lit(1)).as("kdf"))
          .where(col("kdf") <= cap)
          .select(col("block"), col("kt"), col("k"))
        val gen = keys.join(eligible, Seq("block", "kt", "k"))
        withSides(keyJoin(gen, gen)
          .select(col("x.row_id").as("src"), col("y.row_id").as("dst"))
          .distinct())
    }

    // One cheap probe on the checkpointed slim table decides the plan
    // SHAPE: a corpus whose every row is native (the overwhelming
    // case) gets a single-consumer, single-branch plan — no pair-table
    // cache, no typed-remainder subtree to analyze or execute. Only
    // when nameless / empty-norm rows exist does the two-branch plan
    // build, and then the pair table is scope-persisted because both
    // branches filter it — without the cache the whole candidate
    // generation (key join + flag aggregation + side-info joins) would
    // execute once PER BRANCH.
    val anyNonNative = nonNativeAcc.value > 0
    val pairs = if (anyNonNative) graft.Scratch.scoped(matches) else matches

    def has(kt: String) = col(s"f_$kt") === 1
    val emailOv = has("em"); val phoneOv = has("ph")
    val addrOv = has("ak"); val liEq = has("li")
    val corrob = emailOv.cast("int") + phoneOv.cast("int") +
      addrOv.cast("int") + liEq.cast("int")
    val exactAlign = has("ln")
    val nickAlign = if (cfg.nicknameEquivalence) has("nr") else lit(false)
    val bothNamed = col("a_named") && col("b_named")
    val bothCore = bothNamed && col("a_lastNorm") =!= "" && col("b_lastNorm") =!= ""
    // The codegen **fast accept**: raw-lowercase name equality forces
    // seqRatio = 1.0 and nickname-root overlap forces the 0.96
    // similarity floor — in both cases the full merge rule
    // (relaxed-threshold path + nameless-corroborator gate + LinkedIn
    // strict gate (combine_contacts.py:1189-1204) + require-corroborator
    // flag) reduces to pure column logic.
    val liGateOk = (!col("a_isLinkedinSrc") && !col("b_isLinkedinSrc")) || emailOv ||
      (col("a_lastNorm") === col("b_lastNorm") && (exactAlign || nickAlign) &&
        col("a_suffixNorm") === col("b_suffixNorm"))
    // Threshold-aware score check (merge.py:35-84 semantics, any cfg):
    // firstSim is exactly 1.0 on a lowercase-equal pair and at least
    // 0.96 on a nickname-equivalent pair, so this score is exact for
    // the former and a lower bound for the latter. Accepting on the
    // lower bound is sound for ANY threshold configuration; a nickname
    // pair whose true similarity exceeds the floor merely falls through
    // to the Scala shouldMerge path below (candidateFilter keeps it).
    val suffixBonus = when(col("a_suffixLower") =!= "" &&
      col("a_suffixLower") === col("b_suffixLower"), 0.1).otherwise(0.0)
    val simFloor = when(exactAlign, 1.0).otherwise(0.96)
    val scoreLb = lit(0.7) * simFloor + suffixBonus +
      when(emailOv, 1.0).otherwise(0.0) + when(phoneOv, 1.0).otherwise(0.0) +
      when(addrOv, 0.5).otherwise(0.0) + when(liEq, 0.8).otherwise(0.0)
    val scoreOk = scoreLb >= cfg.mergeScoreThreshold ||
      (simFloor >= cfg.firstNameSimilarityThreshold &&
        scoreLb >= cfg.relaxedMergeThreshold)
    val nativeAccept = (exactAlign || nickAlign) && scoreOk &&
      (bothCore || corrob > 0) && liGateOk &&
      (if (cfg.requireCorroborator) corrob > 0 else lit(true))

    // Fully native decision for pairs whose candidate sets are sound
    // in the inverted index (every candidate has a nonempty folded
    // norm — see `native` above): computeSignals' cross-product max
    // over ≤2 candidates per side is at most four seqRatio calls —
    // evaluated by the codegen'd [[graft.plans.SeqRatio]] expression —
    // and every remaining clause of shouldMerge (nickname floor via
    // the nr-key overlap, score adds in the reference's order, relaxed
    // path, nameless-corroborator gate, alignment gate, LinkedIn
    // strict gate, require-corroborator flag) is exact column logic
    // for ANY config. These pairs never deserialize a MatchRec; only
    // genuinely nameless / empty-norm rows fall through to Scala.
    val bothNative = col("a_native") && col("b_native")
    // Lowercase-equal candidates force ratio 1.0 — short-circuit the
    // dominant pair class before any R-O call, and guard the nickname
    // slots on candidate presence (WHEN branches lazily in codegen, so
    // absent slots cost nothing). The expression is built as a Column
    // directly (no session function-registry mutation — GraftColumns).
    def ratio(l: Column, r: Column) = graft.plans.SeqRatio(l, r)
    val simNative0 = when(has("ln"), lit(1.0)).otherwise(greatest(
      ratio(col("a_cand1"), col("b_cand1")),
      when(col("a_cand2") === "", lit(0.0))
        .otherwise(ratio(col("a_cand2"), col("b_cand1"))),
      when(col("b_cand2") === "", lit(0.0))
        .otherwise(ratio(col("a_cand1"), col("b_cand2"))),
      when(col("a_cand2") === "" || col("b_cand2") === "", lit(0.0))
        .otherwise(ratio(col("a_cand2"), col("b_cand2")))))
    val simNative =
      if (cfg.nicknameEquivalence)
        when(has("nr"), greatest(simNative0, lit(0.96))).otherwise(simNative0)
      else simNative0
    // Same add order as ContactLogic.computeSignals — float parity.
    val scoreNative = lit(0.7) * simNative + suffixBonus +
      when(emailOv, 1.0).otherwise(0.0) + when(phoneOv, 1.0).otherwise(0.0) +
      when(addrOv, 0.5).otherwise(0.0) + when(liEq, 0.8).otherwise(0.0)
    val okNative = scoreNative >= cfg.mergeScoreThreshold ||
      (simNative >= cfg.firstNameSimilarityThreshold &&
        scoreNative >= cfg.relaxedMergeThreshold)
    val alignGateNative = has("nm") || nickAlign || emailOv || liEq
    val liGateNative = (!col("a_isLinkedinSrc") && !col("b_isLinkedinSrc")) ||
      emailOv ||
      (col("a_lastNorm") === col("b_lastNorm") && (has("nm") || nickAlign) &&
        col("a_suffixNorm") === col("b_suffixNorm"))
    // Clause order is the performance contract (codegen And/Or short-
    // circuit): junk-key candidate pairs — the O(df²) bulk on a skewed
    // corpus — die at the alignment gate having computed NO seqRatio;
    // the floor-accept ((exactAlign||nickAlign) && scoreOk, a sound
    // lower bound — score is monotone in sim and simNative ≥ simFloor
    // on aligned pairs) accepts the dominant matching classes with NO
    // seqRatio; only aligned-but-floor-rejected pairs pay the exact
    // cross-product sim. Equivalence: floorOk ⟹ okNative, so
    // (floorOk || okNative) ≡ okNative, the exact shouldMerge score.
    val decideNative = alignGateNative && liGateNative &&
      (bothCore || corrob > 0) &&
      (if (cfg.requireCorroborator) corrob > 0 else lit(true)) &&
      (((exactAlign || nickAlign) && scoreOk) || okNative)

    // Necessary condition for any merge (the decision gates): name-
    // bearing pairs must align on normalized name, nickname root, email
    // or linkedin; nameless pairs need a corroborating overlap.
    val candidateFilter =
      when(bothNamed, has("nm") || exactAlign || nickAlign || emailOv || liEq)
        .otherwise(corrob > 0)

    if (!anyNonNative)
      return pairs.where(decideNative)
        .select(col("src"), col("dst")).as[Edge]
        .union(cliqueEdges)

    val nativeEdges = pairs
      .where((bothNative && decideNative) || (!bothNative && nativeAccept))
      .select(col("src"), col("dst")).as[Edge]
    // Only the nameless / empty-norm remainder pays MatchRec
    // deserialization and the Scala shouldMerge.
    val recs = slimR.select(col("row_id"),
      struct(matchCols.map(col): _*).as("rec"))
    val scalaEdges = pairs.where(!bothNative && !nativeAccept && candidateFilter)
      .select(col("src"), col("dst"))
      .join(recs.select(col("row_id").as("src"), col("rec").as("a")), "src")
      .join(recs.select(col("row_id").as("dst"), col("rec").as("b")), "dst")
      .select(col("a"), col("b"))
      .as[(ContactLogic.MatchRec, ContactLogic.MatchRec)]
      .filter { case (l, r) => ContactLogic.shouldMerge(l, r, cfg) }
      .map { case (l, r) => Edge(l.row_id, r.row_id) }
    nativeEdges.union(scalaEdges).union(cliqueEdges)
  }

  /** Edge-count threshold below which components are solved with a
    * driver-side union-find over the collected edge list. Accepted merge
    * pairs are O(duplicate multiplicity), orders of magnitude smaller
    * than the corpus, so even a 100 TB run usually lands here; the
    * distributed label-propagation loop remains the fallback for a
    * pathological edge volume. */
  val DriverUnionFindMaxEdges = 5000000L

  /** Above this edge count the contraction loop runs instead of a
    * direct edge collect. Below this size a direct collect (~30 MB at
    * the threshold) beats the contraction's extra shuffles. */
  val ContractionMinEdges = 1000000L

  /** Connected components over the accepted-pair edges.
    *
    * Small edge sets (the normal case — see [[ContractionMinEdges]])
    * use union-find with path compression on the driver, mirroring the
    * reference's transitive closure (combine_contacts.py:1132-1146) in
    * two Spark jobs (count + collect); vertices absent from the edge
    * list keep their own id without ever shuffling. Large edge sets go
    * through [[contractionComponents]]: distributed min-hook rounds
    * shrink the graph to its quotient until the remainder fits the
    * bounded driver union-find (or, for shrink-resistant graphs, the
    * large-star/small-star fallback finishes distributedly).
    */
  def connectedComponents(vertexIds: Dataset[java.lang.Long], edges: Dataset[Edge]): DataFrame = {
    val spark = vertexIds.sparkSession
    import spark.implicits._
    // Persist edges for the two internal actions (count + collect /
    // contraction rounds) — UNLESS the caller already cache-covers
    // this relation. Dataset.unpersist removes cache entries by
    // canonicalized sameResult, and a rename-only projection (e.g.
    // pairs.select(vec_a AS src, ...)) canonicalizes identically to
    // its child — so an unconditional unpersist here would silently
    // evict the CALLER's cache of the pair relation and force every
    // downstream action to recompute the whole pair pipeline
    // (measured: q93's cluster phase paid the full q91 build per
    // action until this guard, round 9).
    val preCached = edges.storageLevel != StorageLevel.NONE
    val edgesP = if (preCached) edges else edges.persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = edgesP.count()

    if (edgeCount <= ContractionMinEdges) {
      val collected = edgesP.collect()
      if (!preCached) edgesP.unpersist()
      val find = unionFind(collected.iterator.map(e => (e.src, e.dst)))
      val labels = collected.iterator.flatMap(e => Iterator(e.src, e.dst))
        .toSet.iterator.map((v: Long) => v -> find(v)).toSeq
      // Broadcast hash JOIN, not a udf over a broadcast Map: the udf
      // form paid ~180us PER ROW re-reading the broadcast value (round
      // 9, EmbedDedupBench — 66 s to label 371k vertices), invisible
      // on the contact-scale graphs but dominant the moment the driver
      // path runs near its 1M-edge ceiling. The join is codegen'd and
      // the build side is the same label table.
      val labelsDf = spark.createDataFrame(labels).toDF("id", "comp")
      return vertexIds.toDF("id")
        .join(broadcast(labelsDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }
    try contractionComponents(vertexIds, edgesP)
    finally { if (!preCached) edgesP.unpersist() }
  }

  /** Driver union-find with path compression over an edge iterator. */
  private def unionFind(es: Iterator[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    find
  }

  /** Release the materialized RDD blocks behind a `localCheckpoint`ed
    * plan. `Dataset.unpersist` only clears CacheManager entries, not
    * checkpoint blocks — those normally live until the plan is GC'd. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** When a contraction round shrinks the quotient edge count by less
    * than this factor, the graph is shrink-resistant (a long path: the
    * min-hook quotient of an id-ascending chain loses ONE edge per
    * round) and the loop demotes to [[distributedComponents]], whose
    * star alternation converges in O(log diameter) regardless of
    * shape. */
  val ContractionStallFactor = 1.5

  /** Connected components by iterated graph contraction (the
    * "alternating/contraction" family — Kiveris et al., Connected
    * Components in MapReduce and Beyond, SoCC'14 — specialized to
    * min-label hooks).
    *
    * Per round, on the current graph g (initially the input edges):
    *   hook      every endpoint takes l(v) = min(v, min neighbor) —
    *             ONE groupBy over the symmetrized edges; no per-vertex
    *             label table is threaded between rounds, so no
    *             edges⋈labels join ever runs
    *   quotient  g's edges mapped through l, self-loops dropped,
    *             distinct — near-clique components (the dedupe
    *             workload) collapse to almost nothing in one round
    *   escape    quotient ≤ [[DriverUnionFindMaxEdges]] → collect it,
    *             finish with driver union-find (driver exposure is
    *             bounded by that single cap: the union-find only ever
    *             sees quotient EDGES, never a vertex-scale table)
    *   demote    quotient shrank < [[ContractionStallFactor]]× →
    *             large-star/small-star fallback on the contracted graph
    *
    * The final labeling composes the per-round maps outward from the
    * original vertex ids (each map is vertex-scale of a strictly
    * smaller graph), is materialized once, and every intermediate
    * checkpoint is released before returning — nothing stays pinned
    * for the caller's session. */
  private[graft] def contractionComponents(vertexIds: Dataset[java.lang.Long],
      edges: Dataset[Edge],
      maxDriverEdges: Long = DriverUnionFindMaxEdges): DataFrame = {
    val spark = vertexIds.sparkSession
    import spark.implicits._
    var g: DataFrame = edges.select(col("src"), col("dst"))
    var gOwned: Option[DataFrame] = None // checkpointed quotient we created
    var prevEdges = Long.MaxValue
    var maps = List.empty[DataFrame] // innermost (latest) first: (id, lab)
    var done = false
    var rounds = 0
    while (!done && rounds < 50) {
      val sym = g.select(col("src").as("id"), col("dst").as("nb"))
        .union(g.select(col("dst").as("id"), col("src").as("nb")))
      val l = sym.groupBy(col("id"))
        .agg(min(col("nb")).as("nmin"))
        .select(col("id"), least(col("id"), col("nmin")).as("lab"))
        .localCheckpoint(true)
      maps ::= l
      val q = g
        .join(l.select(col("id").as("src"), col("lab").as("ls")), "src")
        .join(l.select(col("id").as("dst"), col("lab").as("ld")), "dst")
        .select(least(col("ls"), col("ld")).as("src"),
          greatest(col("ls"), col("ld")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)
      val qc = q.count()
      gOwned.foreach(releaseLocalCheckpoint)
      if (qc == 0) {
        releaseLocalCheckpoint(q)
        done = true
      } else if (qc <= maxDriverEdges) {
        val quotient = q.as[(Long, Long)].collect()
        releaseLocalCheckpoint(q)
        val find = unionFind(quotient.iterator)
        val roots = quotient.iterator.flatMap(e => Iterator(e._1, e._2))
          .toSet.iterator.map((lb: Long) => (lb, find(lb))).toSeq
          .toDF("id", "lab")
        maps ::= roots
        done = true
      } else if (qc.toDouble * ContractionStallFactor > prevEdges.toDouble) {
        // Shrink-resistant remainder: finish with star alternation. Its
        // result covers exactly q's vertices = l's labels, so it
        // composes like any other map.
        val qVerts = q.select(col("src").as("id"))
          .union(q.select(col("dst").as("id"))).distinct()
          .as[java.lang.Long]
        val jumped = distributedComponents(qVerts, q.as[Edge])
          .select(col("id"), col("comp").as("lab"))
        maps ::= jumped
        releaseLocalCheckpoint(q)
        done = true
      } else {
        g = q
        gOwned = Some(q)
        prevEdges = qc
      }
      rounds += 1
    }
    // Compose outward: comp starts as the vertex id; each map rewrites
    // comp where it has an entry. Map k's ids are exactly map k-1's
    // labels, so the chain terminates at the component root.
    var out = vertexIds.toDF("id").withColumn("comp", col("id"))
    for (m <- maps.reverse) {
      val mm = m.select(col("id").as("mid"), col("lab").as("mlab"))
      out = out.join(mm, out("comp") === mm("mid"), "left")
        .select(out("id"), coalesce(col("mlab"), out("comp")).as("comp"))
    }
    val result = out.localCheckpoint(true)
    maps.foreach(releaseLocalCheckpoint)
    result
  }

  /** Connected components on an arbitrary graph by large-star /
    * small-star alternation (the two-phase algorithm of Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the shrink-resistant fallback behind [[contractionComponents]].
    * Reference semantics: transitive closure over accepted merge
    * pairs (combine_contacts.py:1132-1146).
    *
    * The state is the EDGE SET itself, kept canonical ((min,max),
    * distinct) — no per-vertex label table is threaded between
    * rounds. Per round:
    *
    *   large-star   every node u rewires its LARGER neighbors to
    *                m = min(N(u) ∪ {u}): each symmetric row (u,v),
    *                v > u emits (m, v). Trivial for u iff m == u.
    *   small-star   every node u rewires its SMALLER neighbors
    *                (parent candidates) to their min: each canonical
    *                row (src, dst=u) emits the kept (m, u) when
    *                src == m, else the rewire (m, src). Trivial for
    *                u iff it has exactly one smaller neighbor.
    *
    * Both operations preserve connectivity (Kiveris Lemmas 1-2).
    * Fixpoint — both ops trivial in the same round — is exactly a
    * star forest centered at each component's minimum id: large-star
    * trivial ⇒ any node with children has no parent; small-star
    * trivial ⇒ every node has at most one parent; together: depth
    * ≤ 1. Unlike hook + pointer-jump (this tier's previous shape),
    * the alternation contracts high-degree AND path structure
    * simultaneously: a chain halves its depth per round (O(log
    * diameter)), a star collapses in one, and O(log² n) bounds
    * arbitrary shrink-resistant graphs.
    *
    * Each op is ONE exchange: a partitionBy window computes the
    * group min in the same pass that re-emits edges (large-star), or
    * a groupBy + collect_set whose per-group set doubles as the
    * round's dedup (small-star) — no standalone distinct exchanges.
    * A round chains TWO large-stars (re-symmetrized in-pass via
    * explode, so nothing re-executes) into one small-star and
    * materializes once: three exchanges per round for a 4× depth
    * reduction on path graphs. Change detection rides the checkpoint
    * materialization as accumulators — over-count on task retry is
    * harmless in the == 0 direction, and the flag UDFs are
    * nondeterministic so Catalyst cannot collapse or duplicate the
    * side effect. Measured on 64×15.6k-hop chains (1M edges,
    * local[32]): ~10 s warm / 8 rounds, vs 19.2 s for the previous
    * hook + pointer-jump shape. */
  private[graft] def distributedComponents(vertexIds: Dataset[java.lang.Long],
      edges: Dataset[Edge]): DataFrame = {
    val spark = vertexIds.sparkSession
    val lsAcc = spark.sparkContext.longAccumulator
    val ssAcc = spark.sparkContext.longAccumulator
    val lsFlag = udf { (m: Long, u: Long) =>
      if (m != u) lsAcc.add(1)
      m
    }.asNondeterministic()
    val ssFlag = udf { (x: Long) => ssAcc.add(1); x }.asNondeterministic()
    // Canonicalized but NOT distinct'd: round 1's small-star dedups
    // duplicate input edges for free (collect_set), so a dedicated
    // distinct exchange here would only lower round 1's input volume
    // at the price of a full extra shuffle of the whole edge set.
    var g = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    while (!converged && rounds < 50) {
      val tR = System.nanoTime()
      lsAcc.reset(); ssAcc.reset()
      // Large-star: symmetrize, per-u min via window (one exchange),
      // emit (m, v) for the larger neighbors. m ≤ u < v, so the
      // output is canonical by construction and never a self-loop.
      // NOT materialized — it feeds straight into small-star below,
      // so the whole round is ONE Spark job (the per-round fixed
      // cost of an extra checkpoint job dominated the data cost on
      // high-diameter graphs, where O(log d) rounds stack up).
      // One large-star application over a SYMMETRIC (u, v) edge view:
      // emits the canonical (m, v) per original edge. Chainable
      // without re-execution: symAgain explodes both orientations in
      // the same pass instead of unioning two reads of the subtree
      // (a union would execute the whole upstream window twice).
      val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
      def largeStar(sym: DataFrame): DataFrame =
        sym.withColumn("m", least(col("u"), min(col("v")).over(wU)))
          .where(col("v") > col("u"))
          .select(lsFlag(col("m"), col("u")).as("src"), col("v").as("dst"))
      def symAgain(edges: DataFrame): DataFrame =
        edges.select(explode(array(
            struct(col("src").as("u"), col("dst").as("v")),
            struct(col("dst").as("u"), col("src").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
      // TWO chained large-stars per round: on a path graph each
      // large-star halves the depth while small-star is a no-op
      // (every chain node has exactly one smaller neighbor), so depth
      // falls 4× per materialized round for one extra exchange.
      // Duplicate edges between the applications are harmless — the
      // window min ignores them and small-star's collect_set is the
      // round's dedup — and both applications preserve connectivity
      // (Kiveris Lemma), the shared accumulator making convergence
      // "every op in the round was trivial", which is the same
      // star-forest fixpoint proof.
      val ls = largeStar(symAgain(largeStar(
        g.select(col("src").as("u"), col("dst").as("v"))
          .union(g.select(col("dst").as("u"), col("src").as("v"))))))
      // Small-star: group the canonical edges by their LARGER
      // endpoint (dst); each group emits the kept parent (m, dst)
      // from its min member and a rewire (m, src) for the rest.
      // m ≤ src < dst: canonical, no self-loops. The collect_set
      // doubles as the round's dedup — large-star's duplicate
      // emissions vanish here without a distinct exchange of their
      // own, so a full round is exactly TWO exchanges (window by u,
      // group by dst). Per-group state mirrors the Kiveris small-star
      // reducer's input (the smaller-neighbor set, degree-bounded).
      val ss = ls.groupBy(col("dst"))
        .agg(min(col("src")).as("m"), collect_set(col("src")).as("srcs"))
        .select(col("m"), col("dst"), explode(col("srcs")).as("s"))
        .select(col("m").as("src"),
          when(col("s") === col("m"), col("dst"))
            .otherwise(ssFlag(col("s"))).as("dst"))
        .localCheckpoint(true)
      releaseLocalCheckpoint(g)
      g = ss
      converged = lsAcc.value == 0L && ssAcc.value == 0L
      rounds += 1
      if (debug) System.err.println(
        f"CC round $rounds%2d ${(System.nanoTime() - tR) / 1e9}%6.2f s  ls=${lsAcc.value} ss=${ssAcc.value}")
    }
    // Masked non-convergence would silently mislabel components.
    require(converged,
      s"large-star/small-star did not converge within $rounds rounds")
    // Star forest → labels: leaves take their center, centers and
    // isolated vertices keep their own id.
    val stars = g.select(col("dst").as("id"), col("src").as("comp"))
    val result = vertexIds.toDF("id")
      .join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .localCheckpoint(true)
    releaseLocalCheckpoint(g)
    result
  }

  /** Full dedupe: normalized contacts (paired with raw originals)
    * → merged contacts + lineage. */
  def dedupeAndMerge(normalized: Dataset[Contact], raw: Dataset[Contact],
      cfg: ContactLogic.DedupeConfig = ContactLogic.DedupeConfig())
      : (Dataset[MergedContact], Dataset[Lineage]) = {
    val spark = normalized.sparkSession
    import spark.implicits._
    // See the localCheckpoint note in acceptedPairs: materialize +
    // truncate lineage once; three downstream consumers. Skip when the
    // caller already handed us a checkpointed/materialized plan.
    val normPersisted = normalized.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => normalized
      case _ => normalized.localCheckpoint(true)
    }
    val edges = acceptedPairs(normPersisted, cfg)
    val comps = connectedComponents(
      normPersisted.select(col("row_id").as[java.lang.Long]), edges)

    val withComp = normPersisted.joinWith(raw, normPersisted("row_id") === raw("row_id"))
      .toDF("norm", "raw")
      .join(comps, col("norm.row_id") === comps("id"))
      .select(col("comp"), col("norm"), col("raw"))
      .as[(Long, Contact, Contact)]

    // Grouped by the comp COLUMN, not a key function: groupByKey(_._1)
    // would deserialize every member row just to read its key.
    val merged = withComp.groupBy(col("comp")).as[Long, (Long, Contact, Contact)]
      .mapGroups { (_, it) =>
        val members = it.toSeq.sortBy(_._2.row_id).map(t => (t._2, t._3))
        ContactLogic.mergeCluster(members)
      }
    // Scoped: shared by the contacts and lineage sinks of ONE pipeline
    // run, released by the harness afterwards (not session-pinned).
    splitMerged(graft.Scratch.scoped(merged))
  }

  /** Contacts and lineage of a cached `(MergedContact, Seq[Lineage])`
    * table, by column projection: a typed `map(_._1)`/`flatMap(_._2)`
    * would deserialize and re-serialize every 24-field contact. */
  private def splitMerged(t: Dataset[(MergedContact, Seq[Lineage])])
      : (Dataset[MergedContact], Dataset[Lineage]) = {
    import t.sparkSession.implicits._
    (t.select(col("_1.*")).as[MergedContact],
      t.select(explode(col("_2")).as("l")).select(col("l.*")).as[Lineage])
  }

  /** Merged contacts WITHOUT lineage: the merged record derives
    * entirely from the normalized members (raw records are consulted
    * only for lineage's source_*_raw rendering — ContactLogic
    * .mergeCluster:119-120), so a consumer that discards lineage can
    * skip the raw-side join and half the Contact deserialization. */
  def dedupeContacts(normalized: Dataset[Contact],
      cfg: ContactLogic.DedupeConfig = ContactLogic.DedupeConfig())
      : Dataset[MergedContact] = {
    val spark = normalized.sparkSession
    import spark.implicits._
    dedupedClusters(normalized, cfg).mapGroups { (_, it) =>
      val members = it.map(_._1).toSeq.sortBy(_.row_id).map(c => (c, c))
      ContactLogic.mergeCluster(members)._1
    }
  }

  /** [[dedupeContacts]] keeping the lineage rows, with the members
    * standing in for their own raw originals (lineage's source_*_raw
    * columns then render normalized values — fine for consumers that
    * read lineage as the (contact_id, source, source_row_id) join
    * spine, e.g. the tag stage's notes join; the artifact pipeline
    * that publishes raw renderings uses [[dedupeAndMerge]]). Shares
    * [[dedupeContacts]]'s single-sided plan — no raw-side join. */
  def dedupeContactsWithLineage(normalized: Dataset[Contact],
      cfg: ContactLogic.DedupeConfig = ContactLogic.DedupeConfig())
      : (Dataset[MergedContact], Dataset[Lineage]) = {
    val spark = normalized.sparkSession
    import spark.implicits._
    val tupled = dedupedClusters(normalized, cfg).mapGroups { (_, it) =>
      val members = it.map(_._1).toSeq.sortBy(_.row_id).map(c => (c, c))
      ContactLogic.mergeCluster(members)
    }
    splitMerged(graft.Scratch.scoped(tupled))
  }

  /** Shared dedupe front half: normalize-side checkpoint, accepted
    * pairs, connected components, members grouped by component. */
  private def dedupedClusters(normalized: Dataset[Contact],
      cfg: ContactLogic.DedupeConfig)
      : org.apache.spark.sql.KeyValueGroupedDataset[Long, (Contact, Long)] = {
    val spark = normalized.sparkSession
    import spark.implicits._
    val normPersisted = normalized.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => normalized
      case _ => normalized.localCheckpoint(true)
    }
    val edges = acceptedPairs(normPersisted, cfg)
    val comps = connectedComponents(
      normPersisted.select(col("row_id").as[java.lang.Long]), edges)
      .as[(Long, Long)]
    normPersisted.joinWith(comps, normPersisted("row_id") === comps("id"))
      .map(t => (t._1, t._2._2))
      .groupBy(col("_2")).as[Long, (Contact, Long)]
  }

  /** Flattened projection (combine_contacts.py:1457-1514): first
    * email/phone with a non-empty, non-"invalid" label per {home, work,
    * other} bucket, first labeled address rendered as "street, city,
    * ST, zip, country". A bucket label is itself valid, so the first
    * valid entry of a bucket is the first entry carrying its label:
    * `array_position` over the label array finds it. Plain column
    * expressions with no lambda (higher-order functions are not
    * codegen'd), so the whole projection is one generated stage with no
    * per-row object round trip. */
  def flatten(merged: Dataset[MergedContact]): DataFrame = {
    // The bucket's first entry, or null when it has none.
    def first(entries: String, label: String): Column =
      get(col(s"contact.$entries"),
        (array_position(col(s"contact.$entries.label"), label) - 1).cast("int"))
    // String.trim semantics: strip every char <= U+0020, not just ' '.
    val javaWhitespace = (0 to 0x20).map(_.toChar).mkString
    def email(l: String) =
      coalesce(first("emails", l).getField("value"), lit("")).as(s"${l}_email")
    def phone(l: String) = {
      val p = first("phones", l)
      val ext = trim(coalesce(p.getField("extension"), lit("")), javaWhitespace)
      coalesce(when(ext =!= "", concat(p.getField("value"), lit("x"), ext))
        .otherwise(p.getField("value")), lit("")).as(s"${l}_phone")
    }
    // concat_ws skips nulls: only the non-empty parts are joined.
    def addr(l: String) = {
      val a = first("addresses", l)
      concat_ws(", ", Seq("street", "city", "state", "postal_code", "country")
        .map(f => when(a.getField(f) =!= "", a.getField(f))): _*).as(s"${l}_address")
    }
    val buckets = Seq("home", "work", "other")
    merged.select(
      Seq(col("contact_id"), col("contact.full_name").as("full_name"),
        col("contact.company").as("company"), col("contact.department").as("department"),
        col("contact.title").as("title"), col("contact.linkedin_url").as("linkedin_url")) ++
        buckets.map(email) ++ buckets.map(phone) ++ buckets.map(addr): _*)
  }
}
