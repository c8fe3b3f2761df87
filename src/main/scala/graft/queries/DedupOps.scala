package graft.queries

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-deduplication operators for a large-scale training-data
  * pipeline: exact (hash-groupBy), MinHash+LSH banding, SimHash, char
  * n-gram Jaccard, and embedding-cosine near-dup. This generalizes the
  * reference's entity-resolution pipeline — blocking key → candidate
  * pairs → similarity predicate (combine_contacts.py:1116-1222) — from
  * contacts to documents: LSH band buckets replace the last-name block,
  * and set/vector similarity replaces the name-similarity score.
  *
  * Scale design (100 TB): every operator here is
  * shingle/sketch (narrow, codegen) → explode bands → shuffle on the
  * band bucket → within-bucket self-join → exact verify on the
  * candidates only. The only all-pairs work happens inside a bucket, so
  * cost is O(Σ b²) per bucket exactly like the reference's blocking, and
  * AQE's skew-join splitting handles a hot bucket. Nothing ever
  * collects to the driver; the sketches are fixed-width columns so the
  * shuffle payload is bounded (signature + id, never the document text).
  */
object DedupOps {

  import Lsh.{AllDocs, Keep, Tag, oCap, oClosure, oClusters, oCte, oJaccard,
    oSelfJoin, oSym}

  private def toks(c: Column): Column = split(trim(c), " +")

  /** The documents matching `pred`, round-robin repartitioned for the
    * signature build (a deterministic filter is pushed below the
    * repartition, so its position does not change the plan). */
  private def docs(s: org.apache.spark.sql.SparkSession, dir: String,
      pred: Option[Column] = None): DataFrame = {
    val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    pred.fold(d)(d.where)
  }

  /** The deterministic 10 % ingest batch (and its DuckDB text) that the
    * gates, the index merges and the cluster merge split on. */
  private[graft] def ingest(id: String): Column =
    h60(concat(lit("ingest:"), col(id))) % 10 === 0
  private def oIngest(id: String): String =
    s"${oH60(s"'ingest:' || CAST($id AS VARCHAR)")} % 10 = 0"

  /** The deterministic 10 % takedown batch (and the DuckDB text of the
    * documents it leaves) that the removals share. */
  private def removed(id: String): Column =
    h60(concat(lit("remove:"), col(id))) % 10 === 0
  private def oKept(id: String): String =
    s"${oH60(s"'remove:' || CAST($id AS VARCHAR)")} % 10 <> 0"

  /** Exact dedupe: md5 fingerprint of alnum-normalized text, groupBy
    * fingerprint, keep min doc_id. Output is the per-source dedup
    * summary. At 100 TB this is one hash shuffle on the 16-byte
    * fingerprint with map-side partial aggregation — the canonical
    * exact-dedup plan. Normalization runs through [[alnumLowerUdf]],
    * char-identical to the oracle's lower(regexp_replace(…)): the
    * regexp form was the whole cost of this query at 2M docs and did
    * not scale with threads (THROUGHPUT.md round 8). */
  val q50 = Q(
    "q50_exact_dedup",
    "per-source exact-duplicate summary via normalized-text md5 groupBy",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), md5(alnumLowerUdf(col("text"))).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
        .orderBy(col("source")),
    Some("""SELECT source, count(*) AS n_docs,
        count(DISTINCT fp) AS n_unique,
        count(*) - count(DISTINCT fp) AS n_dups
      FROM (SELECT source, md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS fp FROM documents)
      GROUP BY source ORDER BY source"""))

  /** q51's signature, shared by the text near-dup family: word-3
    * MinHash with 12 hash functions = 4 bands × 3 rows. With the verify
    * threshold j ≥ 0.8 the LSH S-curve gives high recall at 4 bands
    * while keeping candidate volume tiny. Each shingle is md5'd ONCE;
    * the 12 minhash functions are universal-hash permutations over that
    * base hash, so the per-shingle cost is one digest + 12 integer
    * mults — all inside codegen'd hash-aggregate. */
  private[graft] val Text = Lsh.MinHash(Lsh.Word3, bands = 4, rows = 3)

  /** Shared MinHash signature + band-key stage: returns (sig, banded).
    * sig(doc_id, m0..m11, hs) is Scratch-scoped (compressed columnar
    * cache shared by its consumers, released by the harness after the
    * query's action — neither session-pinned (the r01 leak) nor
    * raw-row checkpointed, which costs 2-5x the columnar cache at
    * corpus scale); banded(doc_id, band, key) has one row per
    * (doc, band). */
  private[graft] def sigBanded(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val sig = graft.Scratch.scoped(Text.sigOf(docs(s, dir), sets = true), adaptive = true)
    (sig, Text.banded(sig))
  }

  /** round(|A∩B| / |A∪B|, 4) over two sorted duplicate-free hash-set
    * columns (every `hs` relation is `sort_array(collect_set(...))`
    * or the minhash kernel's sorted distinct output). One codegen
    * merge scan ([[graft.plans.SortedIntersectCount]]) replaces the
    * two hash-set builds of array_intersect + array_union;
    * |A ∪ B| = |A| + |B| − |A ∩ B| on duplicate-free inputs, so the
    * value (and the 4-dp rounding the oracles compare) is
    * arithmetically identical. */
  private[graft] def jaccardSorted(a: Column, b: Column): Column = {
    val c = graft.plans.SortedIntersectCount(a, b)
    round(c.cast("double") / (size(a) + size(b) - c).cast("double"), 4)
  }

  /** Exact-Jaccard verification of candidate pairs against the cached
    * signature sets (collisions map both engines identically, so
    * counts agree with the oracle). */
  private[graft] def verifiedPairs(sig: DataFrame, cand: DataFrame): DataFrame =
    Lsh.Jaccard(0.8).pairs(sig, cand)

  /** MinHash-LSH verified near-dup pairs (doc_a, doc_b, jaccard) —
    * shared by q51 (pair listing) and q73 (cluster rollup).
    *
    * ADAPTIVE verify-set strategy (round 9, promoting a profiled
    * finding): the one-pass plan builds the exact-verify hash set (hs)
    * for EVERY document inside the signature aggregation, but verify
    * only reads hs for documents that appear in candidate pairs — a
    * fraction of a percent on any production corpus. So the signature
    * aggregation here computes the 12 minhashes ONLY, candidates are
    * generated and cached, and ONE probe job counts the candidate doc
    * ids (the count doubles as the action that materializes the
    * candidate cache, so it is not wasted work):
    *
    *   - sparse (count ≤ [[DeferredBroadcastIdCap]]): re-shingle just
    *     the candidate docs via a broadcast semi-join and verify
    *     against that subset table — the deferred plan the round-9 A/B
    *     measured 1.4× better cold even at 19% candidate density,
    *     and strictly better below ~1%.
    *   - dense (count above the cap): fall back to the one-pass verify
    *     shape — aggregate hs for all docs and join; no driver-side id
    *     relation is ever materialized, which is what made the
    *     unguarded deferred path unpromotable (r8 ADVICE).
    *
    * Both branches produce identical pair sets (Q51AdaptiveSpec pins
    * this, same device as DedupPathsSpec).
    *
    * SIZE GATE: below [[DeferredMinDocs]] documents the one-pass plan
    * wins on fixed job-count overhead (measured at sf0.1/60k docs:
    * warm 1.54 s one-pass vs 2.37 s adaptive — five extra jobs cost
    * more than the entire hs aggregation at that size), while at 2M
    * docs the adaptive plan wins 1.4–1.7× cold at both 19 % and 1 %
    * candidate density (THROUGHPUT.md). The doc count is a parquet
    * metadata-only job (~ms), the same probe-then-pick pattern as
    * q53's vocabulary gate. */
  private[graft] def minhashPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    if (documentsCount(s, dir) < DeferredMinDocs) minhashPairsOnePass(s, dir)
    else minhashPairsAdaptive(s, dir, DeferredBroadcastIdCap)

  /** Memoized per-dir `documents` row count for plan gates. The count
    * is metadata-only today (Tables.load applies no transform to
    * documents, so parquet footers answer it in ~ms), but q51, q73,
    * and q100 all pass through [[minhashPairs]] and a future
    * Tables.load shim — the way `events` gets one — would silently
    * turn every gate evaluation into a full scan (r9 ADVICE). One
    * count per directory keeps the gate O(1) regardless; the key is
    * the NORMALIZED data directory (`Paths.normalize`, so `/x` and
    * `/x/` share one entry), so distinct corpora never share a count.
    *
    * ASSUMPTION (r10 ADVICE): a directory's corpus is immutable for
    * the JVM's lifetime. Both plan branches compute the same result,
    * so a stale count after an in-process rewrite costs plan choice
    * only, never correctness. */
  private val docCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def documentsCount(s: org.apache.spark.sql.SparkSession, dir: String): Long =
    docCountMemo.computeIfAbsent(
      java.nio.file.Paths.get(dir).normalize.toString,
      d => java.lang.Long.valueOf(t(s, d, "documents").count())).longValue()

  // Prepared-artifact handoff helpers (prepPut/prepTake) live in the
  // queries package object — shared by every standing-artifact query's
  // `Q.prepare` hook (q105, q116/q117/q123/q124 here; q119/q120/
  // q125/q126 in Analytic).

  /** Corpus size below which the single-shuffle one-pass verify beats
    * the deferred plan's extra jobs. Measured endpoints: 60k docs →
    * one-pass wins warm; 2M docs → deferred wins 1.4–1.7× cold. */
  private[graft] val DeferredMinDocs = 500000L

  /** Candidate-doc-id ceiling for the deferred verify's broadcast
    * semi-join: 2M longs is ~16 MB serialized and well inside executor
    * budgets after HashedRelation expansion; above it the driver would
    * be collecting an unbounded relation, so the plan flips to the
    * one-pass verify instead (never a driver-side set). */
  private[graft] val DeferredBroadcastIdCap = 2000000L

  /** [[minhashPairs]] with the branch threshold exposed for tests:
    * `broadcastIdCap = 0` forces the dense one-pass branch, a huge cap
    * forces the deferred branch. */
  private[graft] def minhashPairsAdaptive(s: org.apache.spark.sql.SparkSession,
      dir: String, broadcastIdCap: Long): DataFrame = {
    val tk = Lsh.Word3.units(docs(s, dir))
    val sig0 = graft.Scratch.scoped(Text.sig(Text.hashed(tk), sets = false))
    val cand = graft.Scratch.scoped(Lsh.selfJoin(Text.banded(sig0)))
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // The probe: one count job, which also materializes the cand cache
    // that verify reuses below.
    val nCandDocs = candDocs.count()
    val hashes = Text.hashed(
      if (nCandDocs <= broadcastIdCap) tk.join(broadcast(candDocs), "doc_id") else tk)
    verifiedPairs(Text.sig(hashes, sets = true, mins = false), cand)
  }

  /** The one-pass plan (hs aggregated for every document alongside the
    * signatures): the live q51/q73/q100/q117 plan for every corpus under
    * [[DeferredMinDocs]] documents — every sf the oracle and the bench
    * use — and the Q51AdaptiveSpec truth device for the deferred one. */
  private[graft] def minhashPairsOnePass(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (sig, banded) = sigBanded(s, dir)
    verifiedPairs(sig, Lsh.selfJoin(banded))
  }


  /** Capped MinHash-LSH pairs: identical to [[minhashPairs]] except
    * band buckets holding more than `cap` documents are DROPPED before
    * any pair is generated — the q72 stop-key frequency cap transplanted
    * to LSH blocking (reference blocking loop
    * combine_contacts.py:1116-1131). On a skewed corpus, where one hot
    * bucket of b docs costs O(b²) candidate pairs, this bounds per-bucket
    * work at O(cap²) — the difference between a dedup pass that finishes
    * and one that doesn't (see THROUGHPUT.md's tape-corpus measurement).
    *
    * The plan is also the better at-scale LSH shape: ONE exchange
    * (groupBy band,key with the size-bounded
    * [[graft.functions.BoundedIdBag]] collector, whose map-side partial
    * aggregation truncates hot buckets at cap+1 ids) replaces the band
    * self-join, and pairs explode from the ≤cap-element bucket arrays
    * with no join at all. */
  def minhashPairsCapped(s: org.apache.spark.sql.SparkSession, dir: String,
      cap: Int): DataFrame = {
    val (sig, banded) = sigBanded(s, dir)
    verifiedPairs(sig, Lsh.cappedPairs(banded, cap))
  }

  /** DuckDB twin of the text pair chain over `split`: signatures, bands,
    * the optional bucket cap, band-join candidates, and the verified
    * `pairs(doc_a, doc_b[, jaccard])` relation — shared by the q51, q73,
    * q88, q100 and q117 oracles and the capped-takedown rebuild. */
  private def oMinhashPairs(split: Lsh.Split, cap: Option[Int] = None,
      withScore: Boolean = true): String =
    (Seq(Text.oSig(split, sets = true)) ++ cap.map(oCap("kept", "doc_id", _)) ++ Seq(
      oSelfJoin("cand", if (cap.isDefined) "kept" else "banded"),
      oCte("pairs", oJaccard("cand", "doc_a", "doc_b", 0.8, withScore), materialized = true)))
      .mkString("WITH ", ",\n      ", "")

  /** The near-dup cluster rows of a component assignment (id, comp):
    * canonical (min) id, size, and sorted members per component — with
    * `incoming`, also how many members the ingest batch brought. */
  private[graft] def clusterRows(comps: DataFrame, id: String = "canonical_id",
      n: String = "n_docs", incoming: Boolean = false): DataFrame = {
    val inc = if (incoming) Seq("n_incoming") else Nil
    comps.groupBy(col("comp"))
      .agg(min(col("id")).as(id), (count(lit(1)).as(n) +:
        inc.map(_ => sum(ingest("id").cast("long")).as("n_incoming"))) :+
        concat_ws(",", transform(sort_array(collect_list(col("id"))),
          x => x.cast("string"))).as("members"): _*)
      .select((Seq(id, n) ++ inc :+ "members").map(col): _*)
  }

  /** [[clusterRows]] ordered by the canonical id: the cluster table. */
  private[graft] def clusters(comps: DataFrame, id: String = "canonical_id",
      n: String = "n_docs", incoming: Boolean = false): DataFrame =
    clusterRows(comps, id, n, incoming).orderBy(col(id))

  /** Components of a (src, dst) pair relation — the pairs scoped
    * first, so the CC's several actions each plan one leaf. */
  private def scopedComponents(pairs: DataFrame, a: String, b: String): DataFrame =
    componentsOf(graft.Scratch.scoped(pairs.select(col(a).as("src"), col(b).as("dst"))))

  val q51 = Q(
    "q51_minhash_lsh",
    "MinHash(12)/LSH(4x3) candidate pairs verified at Jaccard >= 0.8",
    (s, dir) => minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""${oMinhashPairs(AllDocs)}
      SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""))

  /** Near-dup CLUSTERS: the canonical-selection step every dedupe
    * pipeline needs after pair generation — verified pairs become an
    * undirected graph, connected components assign cluster ids, and
    * each cluster keeps its minimum doc_id as the canonical survivor
    * (the reference's transitive closure + merge applied to documents
    * instead of contacts, combine_contacts.py:1132-1146). Reuses the
    * tiered [[graft.etl.Pipeline.connectedComponents]], so the same
    * driver/quotient/distributed scaling story applies: at 100 TB the
    * pair volume is LSH-bounded and the closure never materializes
    * vertex-scale state on the driver. */
  val q73 = Q(
    "q73_neardup_clusters",
    "MinHash-LSH pairs -> connected components -> canonical doc per cluster",
    // Scoped pairs, like q117's standing relations: the CC issues
    // several actions and each re-analyzed the minhash pipeline's
    // plan. The r15 same-window A/B (2.97/2.10 s unscoped vs 2.19/1.72 s
    // behind a leaf at sf0.1, both iterations in favor) settled it as
    // a real ~15-25 % win.
    (s, dir) => clusters(scopedComponents(minhashPairs(s, dir), "doc_a", "doc_b")),
    // Min-label closure over the pair graph (Lsh.oClosure), asserting
    // convergence: a corpus whose pair graph had diameter > 10 makes
    // the oracle error() loudly instead of reading as a spurious
    // engine/oracle mismatch.
    Some(s"""${oMinhashPairs(AllDocs)},
      ${oClosure(oSym("doc_a", "doc_b"))}
      ${oClusters("q73")}"""))

  /** Default band-bucket cap for the REGISTERED q88 instance: chosen
    * so the drop path is actually exercised by the oracle-checked
    * corpora (sf0.001 and sf0.1 both contain 4-doc band buckets; see
    * Q88CapSpec). A production corpus would run
    * [[minhashPairsCapped]] with a cap sized to its skew — the
    * THROUGHPUT tape-corpus run uses 64. */
  private val Q88Cap = 3

  val q88 = Q(
    "q88_minhash_lsh_capped",
    s"q51's LSH pairs with band buckets capped at $Q88Cap docs (skew guard)",
    (s, dir) => minhashPairsCapped(s, dir, Q88Cap)
      .orderBy(col("doc_a"), col("doc_b")),
    // q51's chain with the band-bucket cap applied between banding and
    // candidate generation — the relation the bounded collector keeps.
    Some(s"""${oMinhashPairs(AllDocs, Some(Q88Cap))}
      SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""))

  /** 32-bit SimHash near-dup pairs.
    *
    * Bit b of the sketch is the majority vote of bit b across the
    * 60-bit token hashes. Candidate generation blocks on the top 16
    * bits (identical prefix ⇒ hamming concentrated in the low half),
    * then verifies hamming ≤ 6 via bit_count(xor). The simhash fold is
    * a pure column expression (whole-stage codegen) — one narrow pass
    * per document, then a self-join on the 16-bit band. */
  val q52 = Q(
    "q52_simhash",
    "32-bit simhash, top-16-bit band, hamming <= 6 (fixed-instance demo - production instance is q92)",
    (s, dir) => {
      // explode distinct tokens → one hash per (doc, token) → 32
      // codegen'd conditional-sum aggregates (majority vote per bit)
      // → one projection assembling the sketch.
      val hashed = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(array_distinct(toks(col("text")))).as("tk"))
        .select(col("doc_id"), h60(col("tk")).as("h"))
      val bitSums = (0 until 32).map(b =>
        sum((shiftright(col("h"), b) % 2).cast("long")).as(s"s$b"))
      val counted = hashed.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), bitSums: _*)
      val simhash = (0 until 32).map(b =>
        when(col(s"s$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val base = counted.select(col("doc_id"), simhash.as("simhash"))
        .withColumn("band", expr("shiftright(simhash, 16)"))
      base.as("a").join(base.as("b"),
          col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").as("hamming"))
        .where(col("hamming") <= 6)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some {
      val bitSums = (0 until 32).map(b => s"sum((h >> $b) & 1) AS s$b")
        .mkString(",\n          ")
      val simhash = (0 until 32).map(b =>
        s"CASE WHEN s$b * 2 > n THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END")
        .mkString(" + ")
      s"""WITH hashed AS (
        SELECT doc_id, ${oH60("tk")} AS h
        FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), ' +'))) AS tk
              FROM documents)),
      counted AS (
        SELECT doc_id, count(*) AS n,
          $bitSums
        FROM hashed GROUP BY doc_id),
      base AS (
        SELECT doc_id, simhash, simhash >> 16 AS band FROM (
          SELECT doc_id, $simhash AS simhash FROM counted))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM base a JOIN base b ON a.band = b.band AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
      ORDER BY doc_a, doc_b"""
    })

  /** One merge pass over two identically-sorted distinct arrays →
    * (|A∩B|, |A∪B|). Exact on sorted inputs, far cheaper than the
    * hash-set-building array_intersect/array_union pair on the hot
    * verify path. Inputs are copied to Array first: Spark may hand the
    * lambda a LinearSeq, where indexed access is O(n) and the merge
    * silently turns O(n²). */
  private val jaccardCounts =
    udf { (as: Seq[String], bs: Seq[String]) =>
      val a = as.toArray; val b = bs.toArray
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val cmp = a(i).compareTo(b(j))
        if (cmp == 0) { inter += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      (inter, a.length + b.length - inter)
    }

  /** Vocabulary bound for the bitset verify path: 16384 grams = 2 KB
    * per doc. */
  private val MaxBitsetVocab = 16384L

  /** Character 4-gram Jaccard near-dup pairs at j ≥ 0.5, with an
    * **adaptive physical plan** keyed on the gram-vocabulary size:
    *
    * **Dense/small-vocab corpora** (template or word-salad text; the
    * test corpus has <1k distinct grams): every sound candidate filter
    * degenerates to near-all-pairs, because most docs genuinely share
    * rare grams — measured here, df-ordered prefix filtering still
    * passes 9.3M of 12.5M pairs. So the win is the constant factor:
    * map grams to dense dictionary indices and pack each doc into a
    * ~V-bit **bitset** (V ≤ 16384 → ≤ 2 KB/doc vs ~20 KB of string
    * array), then evaluate pairs under a broadcast nested-loop join
    * with a popcount-AND intersect — no shuffle after the pack, ~100
    * word-ops per pair.
    *
    * **Large-vocab corpora** (real text at scale): all-pairs is
    * impossible and unnecessary; [[prefixPath]] implements the
    * canonical All-Pairs/PPJoin **prefix filter** (Bayardo WWW'07,
    * Xiao WWW'08): with both token sets in one global
    * ascending-document-frequency order, J(A,B) ≥ 0.5 forces the
    * ⌊n/2⌋+1-prefixes to share a token, so the candidate equi-join on
    * rare prefix tokens stays near-linear. A size-ratio filter
    * (max ≤ 2·min, necessary at t = 0.5) prunes inside both paths.
    *
    * The path probe is ONE action: `limit(V+1)` over the distinct gram
    * set returns the complete dictionary exactly when the bitset path
    * applies (|dict| ≤ V), so path choice and dictionary collection
    * share a single job; a large-vocab corpus short-circuits at V+1
    * rows and never materializes its dictionary anywhere.
    *
    * Round 9 split the large-vocab side in two: up to
    * [[DenseVerifyMaxDocs]] docs the prefix candidates verify against
    * BROADCAST packed-gram arrays ([[prefixBroadcastPath]] — the plan
    * the measured candidate density demands); past that ceiling the
    * fully-general shuffle verify ([[prefixPath]]) remains, with its
    * wall documented. */
  val q53 = Q(
    "q53_ngram_jaccard",
    "char-4-gram Jaccard >= 0.5 pairs; adaptive bitset / prefix-filter join",
    (s, dir) => {
      ngramJaccardPairs(s, dir, MaxBitsetVocab)
    },
    Some("""WITH g0 AS (
        SELECT doc_id, list_sort(list_distinct(list_transform(range(1, length(t) - 2),
            i -> substring(t, i, 4)))) AS g
        FROM (SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS t FROM documents)
        WHERE length(t) >= 4),
      g AS (SELECT doc_id, g, len(g) AS n FROM g0)
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                CAST(len(list_distinct(a.g || b.g)) AS DOUBLE), 4) AS jaccard
        FROM g a JOIN g b
          ON a.doc_id < b.doc_id AND greatest(a.n, b.n) <= least(a.n, b.n) * 2)
      WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""))

  /** q53's body with the path-selection bound as a parameter:
    * `maxVocab = 0` forces [[prefixPath]] (the 100 TB plan) onto any
    * corpus, which is how DedupPathsSpec proves both physical plans
    * compute the same pairs — the scale path would otherwise never run
    * on a test-sized vocabulary. */
  private[graft] def ngramJaccardPairs(s: org.apache.spark.sql.SparkSession,
      dir: String, maxVocab: Long): DataFrame =
    ngramJaccardPairs(s, dir, maxVocab, DenseVerifyMaxDocs)

  /** As above with the broadcast-verify doc ceiling exposed, so
    * DedupPathsSpec can force each of the three physical plans
    * (bitset / prefix+broadcast / prefix+shuffle) onto one corpus and
    * prove they compute the same pairs. `broadcastCeiling` defaults to
    * the registered heap-derived gate but is overridable (r10 ADVICE:
    * on a small-heap test JVM the heap gate could silently demote the
    * forced broadcast path to [[prefixPath]], making the spec's
    * broadcast-plan parity assertion vacuous — the spec pins the path
    * by passing `Long.MaxValue`). */
  private[graft] def ngramJaccardPairs(s: org.apache.spark.sql.SparkSession,
      dir: String, maxVocab: Long, maxBroadcastDocs: Long,
      broadcastCeiling: Long = broadcastDocsCeiling()): DataFrame = {
    val norm = lower(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))
    // Per-doc distinct gram ARRAYS in one narrow projection: gram
    // extraction is per-row work, so an explode → groupBy round-trip
    // to rebuild per-doc sets would be two avoidable shuffles.
    val docGrams = graft.Scratch.scoped(t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), norm.as("t"))
      .where(length(col("t")) >= 4)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(1), length(col("t")) - 3),
          i => col("t").substr(i, lit(4)))).as("grams"))) // see the Lsh.Word3 note
    val dict = docGrams.select(explode(col("grams")).as("tok")).distinct()
    // toIntExact: a maxVocab >= Int.MaxValue would wrap `.toInt + 1`
    // into a wrong/negative limit and silently break the probe (the
    // test-reachable private[graft] overload accepts any Long).
    val probe = dict.limit(math.toIntExact(maxVocab + 1)).collect().map(_.getString(0))
    val pairs = if (probe.length <= maxVocab) bitsetPath(docGrams, probe)
      else if (docGrams.count() <=
          math.min(maxBroadcastDocs, broadcastCeiling)) prefixBroadcastPath(docGrams)
      else prefixPath(docGrams.select(col("doc_id"),
        explode(col("grams")).as("tok")))
    pairs
      .where(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Bitset verify plan (small vocabulary). The dictionary index is a
    * broadcast Map — it is bounded by MaxBitsetVocab (~100 KB of
    * 4-char grams) before this path is ever chosen, so the collect can
    * never grow with the corpus. Packing is then a NARROW projection
    * over the cached per-doc gram arrays (zero shuffles: no dict join,
    * no re-group), and the pair join is a broadcast nested loop — each
    * streamed partition scans the ~V/8-byte-per-doc broadcast side.
    * Bit positions are an arbitrary bijection grams→[0,V): intersect
    * and union POPCOUNTS are invariant to the permutation, so no
    * canonical dictionary order is needed anywhere. */
  private def bitsetPath(docGrams: DataFrame, dictArr: Array[String]): DataFrame = {
    val vocab = dictArr.length
    val words = (vocab + 63) / 64
    val dictMap = docGrams.sparkSession.sparkContext
      .broadcast(dictArr.zipWithIndex.toMap)
    val pack = udf { (grams: Seq[String]) =>
      val m = dictMap.value
      val bits = new Array[Long](words)
      grams.foreach { g => val i = m(g); bits(i >> 6) |= 1L << (i & 63) }
      bits
    }
    val packed = docGrams.select(col("doc_id"), pack(col("grams")).as("bits"),
      size(col("grams")).as("n"))
    // Explicit repartition: the packed side is tiny in bytes, so AQE
    // would coalesce the post-shuffle streamed side to ONE partition and
    // serialize the O(n²/2) pair evaluation; pair work scales with rows²,
    // not bytes. A user-specified repartition is exempt from coalescing.
    // 8× the core count: the nested-loop scan is the longest unbroken
    // CPU stretch in the suite, and one-task-per-core slices (~780k
    // pair popcounts each) turn any stolen core into a straggler that
    // stretches the whole stage — finer slices (<~100 ms each) let the
    // scheduler work-steal around contention at negligible task
    // overhead.
    val nPart = docGrams.sparkSession.sparkContext.defaultParallelism * 8
    val a = packed.repartition(nPart)
      .select(col("doc_id").as("doc_a"), col("bits").as("ba"), col("n").as("na"))
    val b = packed.select(col("doc_id").as("doc_b"), col("bits").as("bb"), col("n").as("nb"))
    a.join(b, col("doc_a") < col("doc_b") &&
        greatest(col("na"), col("nb")) <= least(col("na"), col("nb")) * 2)
      .select(col("doc_a"), col("doc_b"),
        graft.plans.BitsetIntersectCount(col("ba"), col("bb")).as("inter"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4).as("jaccard"))
  }

  /** Doc-count ceiling for [[prefixBroadcastPath]]: packed grams cost
    * ~8 B/gram ≈ 7 KB/doc, so 250k docs ≈ 1.8 GB of broadcast — the
    * largest corpus whose verify side comfortably broadcasts. */
  private[graft] val DenseVerifyMaxDocs = 250000L

  /** HEAP-derived companion to [[DenseVerifyMaxDocs]] (r9 ADVICE: the
    * 250k constant alone is not tied to any memory configuration, so
    * a default-sized driver could OOM right at the gate boundary):
    * the collected packed-gram Map (~7.5 KB/doc) lives on the driver
    * twice transiently (collect + broadcast serialization), and at
    * most half the heap may go to it. At the measured 28 GB volume
    * heap this yields ~900k docs (the 250k constant stays binding);
    * on an 8 GB default it yields ~270k; on a small test JVM the
    * gate falls through to [[prefixPath]], which computes the same
    * pairs (DedupPathsSpec pins all three paths equal — and pins the
    * broadcast plan itself by overriding this ceiling, so the parity
    * check cannot go vacuous on a small heap).
    *
    * ASSUMPTION (r10 ADVICE): this reads the LOCAL JVM's heap, which
    * in local mode is both driver and executor. On a real cluster
    * [[prefixBroadcastPath]] also materializes the packed-gram map on
    * every EXECUTOR via `bc.value`, so a deployment whose executors
    * have less than half the driver's heap should bound this by the
    * executor size too (`spark.executor.memory`-derived) — the gate
    * as written protects the driver's collect, not a smaller
    * executor's expansion. */
  private[graft] def broadcastDocsCeiling(): Long =
    Runtime.getRuntime.maxMemory / 2 / (2 * 7500L)

  /** Pack a 4-char gram into one long (16 bits/char, bijective on the
    * normalized [a-z0-9 ] alphabet — and on any BMP text), sorted for
    * the merge verify. Exact: intersection/union counts over packed
    * longs equal the counts over the gram strings. */
  private val packGrams = udf { (grams: Seq[String]) =>
    val out = new Array[Long](grams.size)
    var i = 0
    grams.foreach { g =>
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 16) | g.charAt(k); k += 1 }
      out(i) = v; i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Prefix candidates + BROADCAST merge verify — the dense-regime
    * plan between the bitset bound and corpus scale.
    *
    * MEASURED wall this path exists for (round 9, jaccard_gen 25k
    * docs, ~1M gram vocab): the sound+complete df-ordered prefix
    * filter admits 78M distinct candidates — 25% of ALL doc pairs —
    * because on a gram-dense corpus every doc's rare-half grams are
    * shared with dozens of others. A verify join that ships the two
    * ~870-gram arrays per candidate therefore moves ~1 TB and fills
    * the scratch disk before a single pair verifies. The candidate
    * volume is inherent (it is the certificate set of the exact
    * join); the array shipping is not: per-doc SORTED packed-gram
    * arrays (7 KB/doc) broadcast once, and the verify is a zero-
    * array-shuffle map over candidate pairs (~1.7k word-ops each).
    * The [[DenseVerifyMaxDocs]] gate bounds the broadcast; past it,
    * exact char-gram Jaccard at t = 0.5 is quadratic in candidates no
    * matter the plan — partition the corpus (per-language/source
    * shards) or relax to the registered sketch family (q51/q88). */
  private def prefixBroadcastPath(docGrams: DataFrame): DataFrame = {
    val spark = docGrams.sparkSession
    import spark.implicits._
    val packed = graft.Scratch.scoped(docGrams
      .select(col("doc_id"), packGrams(col("grams")).as("pg")))
    // Bounded collect: callers reach this path only under the
    // maxBroadcastDocs gate (<= DenseVerifyMaxDocs docs x ~7 KB/doc
    // of packed grams), so the driver never sees corpus-scale data.
    val docMap = packed.as[(Long, Array[Long])].collect().toMap
    val bc = spark.sparkContext.broadcast(docMap)
    val iuCounts = udf { (a: Long, b: Long) =>
      val x = bc.value(a); val y = bc.value(b)
      var i = 0; var j = 0; var inter = 0
      while (i < x.length && j < y.length) {
        val c = java.lang.Long.compare(x(i), y(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      (inter, x.length + y.length - inter)
    }
    val cand = prefixCandidates(packed
      .select(col("doc_id"), explode(col("pg")).as("tok")))
    cand
      .select(col("doc_a"), col("doc_b"),
        iuCounts(col("doc_a"), col("doc_b")).as("iu"))
      .select(col("doc_a"), col("doc_b"),
        round(col("iu._1").cast("double") / col("iu._2").cast("double"), 4)
          .as("jaccard"))
  }

  /** df-ordered ⌊n/2⌋+1 prefix candidate generation (Bayardo WWW'07 /
    * Xiao WWW'08) over an exploded (doc_id, tok) relation; tok may be
    * any orderable type — the global (df, tok) order just has to be
    * total and shared. Emits DISTINCT (doc_a, doc_b) passing the
    * size-ratio filter. */
  private def prefixCandidates(toks: DataFrame): DataFrame = {
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val grams0 = toks.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("gdf"))
      .select(col("doc_id"),
        expr("slice(transform(gdf, x -> x.tok), 1, size(gdf) DIV 2 + 1)").as("pref"),
        size(col("gdf")).as("n"))
    val pref = grams0.select(col("doc_id"), col("n"), explode(col("pref")).as("tok"))
    pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Prefix-filter plan with the SHUFFLE verify (large vocabulary AND
    * past the broadcast gate): candidate equi-join on prefix tokens →
    * dedup → exact merge-pass verify joining the gram arrays.
    * Structurally the only fully-general exact plan, but on gram-
    * dense corpora its verify join ships both gram arrays per
    * candidate — see [[prefixBroadcastPath]] for the measured wall
    * and the honest scale guidance. */
  private def prefixPath(toks: DataFrame): DataFrame = {
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val grams0 = toks.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("gdf"))
      .select(col("doc_id"),
        array_sort(transform(col("gdf"), x => x("tok"))).as("g"),
        expr("slice(transform(gdf, x -> x.tok), 1, size(gdf) DIV 2 + 1)").as("pref"),
        size(col("gdf")).as("n"))
    val grams = graft.Scratch.scoped(grams0) // see the sigBanded note
    val pref = grams.select(col("doc_id"), col("n"), explode(col("pref")).as("tok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(grams.select(col("doc_id").as("doc_a"), col("g").as("ga")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("g").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardCounts(col("ga"), col("gb")).as("iu"))
      .select(col("doc_a"), col("doc_b"),
        round(col("iu._1").cast("double") / col("iu._2").cast("double"), 4)
          .as("jaccard"))
  }

  /** Embedding-cosine near-dup: sign-LSH blocking (axis-aligned
    * hyperplanes at dims 1/17/33/49 → 16 buckets) then exact cosine
    * within bucket. Sign-concordant near-identical vectors always
    * collide, so recall loss only affects borderline pairs — the
    * classic random-hyperplane LSH trade. Dot/norm are index-wise
    * double folds, evaluated in the same sequential order as the
    * oracle so the doubles agree bit-for-bit. */
  /** Sign-LSH-bucketed cosine near-dup pairs over the embeddings table
    * — shared by q54 (pair listing) and q90 (cluster rollup).
    *
    * SCALE NOTE: this fixed 4-bit/16-bucket instance is the
    * oracle-parity baseline; at corpus scale its buckets hold n/16
    * vectors (1.25e11 candidates measured at 2M — THROUGHPUT.md). The
    * scale-parameterized successor is [[embeddingPairsScaled]]
    * (q91/q93): log-n hyperplane bits, banded recall amplification,
    * and the q88 bucket cap, ground-truth volume-proven at 2M. */
  private def cosinePairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // Native sequential-fold dot product (plans.VecDotProduct): the
    // interpreted aggregate(zip_with(...)) form allocated per pair
    // and GC-thrashed the bucketed self-join at high parallelism.
    // Built as a Column directly — no registry mutation.
    val dot = (x: Column, y: Column) => graft.plans.VecDotProduct(x, y)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", concat(
        when(element_at(col("v"), 1) >= 0, "1").otherwise("0"),
        when(element_at(col("v"), 17) >= 0, "1").otherwise("0"),
        when(element_at(col("v"), 33) >= 0, "1").otherwise("0"),
        when(element_at(col("v"), 49) >= 0, "1").otherwise("0")))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 4)
          .as("cosine"))
      .where(col("cosine") >= 0.35)
  }

  /** DuckDB text of an embedding's norm (the sequential double fold). */
  private val oNorm = """sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) AS norm"""

  /** DuckDB CTE chain ending in `pairs(vec_a, vec_b, cosine)` —
    * shared by the q54/q90 oracles. */
  private val oCosinePairsCtes = s"""WITH e AS (
        SELECT vec_id, embedding AS v,
          $oNorm,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
           CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      pairs AS MATERIALIZED (
        SELECT vec_a, vec_b, cosine FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            round(list_aggregate(list_transform(range(1, len(a.v) + 1),
              i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)), 'sum') /
              (a.norm * b.norm), 4) AS cosine
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        WHERE cosine >= 0.35)"""

  val q54 = Q(
    "q54_embedding_neardup",
    "sign-LSH-bucketed embedding pairs, cosine >= 0.35 (fixed-instance demo - production instance is q91)",
    (s, dir) => cosinePairs(s, dir).orderBy(col("vec_a"), col("vec_b")),
    Some(s"""$oCosinePairsCtes
      SELECT vec_a, vec_b, cosine FROM pairs ORDER BY vec_a, vec_b"""))

  /** Embedding-space near-dup CLUSTERS (the SemDeDup-family shape:
    * semantic duplicates found in embedding space, one canonical
    * survivor kept per group — Abbas et al. 2023, public preprint):
    * q54's verified cosine pairs become an undirected graph, connected
    * components assign cluster ids, and each cluster keeps its minimum
    * vec_id as the canonical survivor — the embedding twin of q73,
    * riding the same tiered [[graft.etl.Pipeline.connectedComponents]],
    * so the driver/quotient/star-alternation scaling story applies
    * unchanged. */
  val q90 = Q(
    "q90_embedding_neardup_clusters",
    "cosine pairs -> CC -> canonical vector per cluster (fixed-instance demo - production instance is q93)",
    (s, dir) => clusters(componentsOf(cosinePairs(s, dir)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))), "canonical_vec_id", "n_vecs"),
    Some(s"""$oCosinePairsCtes,
      ${oClosure(oSym("vec_a", "vec_b"))}
      ${oClusters("q90", "canonical_vec_id", "n_vecs")}"""))


  // ---- scale-parameterized embedding sign-LSH (q91/q93) -------------

  /** `e` with each vector's norm: the native sequential-fold dot product
    * (plans.VecDotProduct), whose doubles equal the oracle's fold. */
  private def withNorm(e: DataFrame): DataFrame =
    e.withColumn("norm", sqrt(graft.plans.VecDotProduct(col("v"), col("v"))))

  /** Scale-parameterized embedding near-dup pairs: `bands` sign-LSH
    * tables of `bits` Rademacher hyperplanes each, band buckets capped
    * at `cap` vectors (the q88 skew guard), exact cosine ≥ `threshold`
    * verify on the candidates only.
    *
    * This is the scale-safe registered answer to q54's fixed 16-bucket
    * instance: bits grows with log n to keep per-bucket population —
    * and hence O(Σ b²) candidate work — bounded, `bands` restores the
    * recall that more bits costs (collision prob per band is
    * (1−θ/π)^bits; union over bands re-amplifies, the classic LSH
    * banding trade, same S-curve family as q51's minhash bands), and
    * the bounded-bag cap bounds any residual hot direction at O(cap²).
    * The plan is the q88 one-exchange shape: groupBy(band,key) with
    * the size-bounded collector — map-side truncation at cap+1 —
    * replaces a band self-join entirely; pairs explode from ≤cap
    * bucket arrays; only the verified-candidate join touches vectors
    * again. At 100 TB: pick bits ≈ log₂(n/target-bucket) per band,
    * bands by the recall target, cap ≫ the mean occupancy n/2^bits so
    * it fires only on pathological mass (the 2M-vector volume run
    * measured the law: a cap at 2× the mean loses real pairs, 33×
    * recalls to the last pair — THROUGHPUT.md round 9). The
    * registered instance (4×6, cap 56) spans both sf corpora: no
    * drops at sf0.01 (the oracle gate still declares the cap, as
    * q92's does), a few 58–75-doc hot buckets dropped at sf0.1, and
    * the drop semantics pinned by ScaledSketchSpec's crafted blob +
    * the ground-truth volume run. */
  private[graft] def embeddingPairsScaled(s: org.apache.spark.sql.SparkSession,
      dir: String, bands: Int, bits: Int, cap: Int,
      threshold: Double): DataFrame = {
    val e = graft.Scratch.scoped(withNorm(t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))))
    val cand = Lsh.cappedPairs(Lsh.SignLsh(bands, bits).banded(e, col("v")), cap,
      "vec_id", "vec_a", "vec_b")
    Lsh.Cosine(threshold).pairs(e, cand, "vec_id", "vec_a", "vec_b")
  }

  // Registered q91/q93 instance parameters (see embeddingPairsScaled
  // scaladoc for how a production corpus re-derives them).
  private val Q91Bands = 4
  private val Q91Bits = 6
  private[graft] val Q91Cap = 56
  private val Q91Threshold = 0.35
  private val Q91Lsh = Lsh.SignLsh(Q91Bands, Q91Bits)

  /** DuckDB CTE chain for the registered [[embeddingPairsScaled]]
    * instance ending in `pairs(vec_a, vec_b, cosine)` — shared by the
    * q91/q93 oracles. */
  private def oEmbPairsScaled: String =
    Seq(oCte("e", s"SELECT vec_id, embedding AS v,\n          $oNorm\n        FROM embeddings"),
      Q91Lsh.oBanded(), oCap("kept", "vec_id", Q91Cap),
      oSelfJoin("cand", "kept", "vec_id", "vec_a", "vec_b"),
      oCte("pairs", Lsh.oCosine("vec_a", "vec_b", Q91Threshold), materialized = true))
      .mkString("WITH ", ",\n      ", "")

  /** Embedding INGEST GATE — q96's incremental shape on the vector
    * side: a deterministic 10 % incoming batch of embeddings is
    * matched against the 90 % index through the q91 banded sign-LSH
    * tables, with the bounded-bag cap on the INDEX buckets and exact
    * cosine verification; output is the per-incoming-vector match
    * count + best match (argmax cosine, min-id tiebreak). The
    * production semantics: a standing vector index stores its band
    * keys bucketed on (band, key); each incoming batch computes only
    * its own signatures and probes co-located buckets — the index is
    * never self-joined and never reshuffled.
    *
    * Parameterized body of [[q97]] — EmbedDedupBench runs it at the
    * production 6x20/cap-64 point (the q91 volume parameters). */
  private[graft] def embeddingIngestGate(s: org.apache.spark.sql.SparkSession,
      dir: String, bands: Int, bits: Int, cap: Int,
      threshold: Double): DataFrame = {
    val e = graft.Scratch.scoped(withNorm(t(s, dir, "embeddings")
      .select(col("vec_id"), ingest("vec_id").as("incoming"), col("embedding").as("v"))))
    val banded = Lsh.SignLsh(bands, bits).banded(e, col("v"), inc = true)
    val index = Lsh.indexSide(banded.where(!col("incoming")), cap, "vec_id", "idx_vec")
    val cand = Lsh.probe(banded.where(col("incoming")), index, "vec_id", "inc_vec", "idx_vec")
    Lsh.bestMatch(Lsh.Cosine(threshold).pairs(e, cand, "vec_id", "inc_vec", "idx_vec"),
      "inc_vec", "idx_vec", "cosine", "vec_id")
  }

  val q97 = Q(
    "q97_embedding_ingest_gate",
    s"embedding ingest gate: 10% incoming vs 90% index via $Q91Bands x $Q91Bits-bit sign-LSH, index cap $Q91Cap, cosine >= $Q91Threshold",
    (s, dir) => embeddingIngestGate(s, dir, Q91Bands, Q91Bits, Q91Cap, Q91Threshold),
    Some(s"""WITH ${oCte("e", s"""SELECT vec_id, ${oIngest("vec_id")} AS incoming,
          embedding AS v,
          $oNorm
        FROM embeddings""")},
      ${Q91Lsh.oBanded(inc = true)},
      ${oCap("keptidx", "vec_id", Q91Cap, " WHERE NOT incoming")},
      ${Lsh.oProbe("vec_id", "inc_vec", "idx_vec")},
      ${oCte("ver", Lsh.oCosine("inc_vec", "idx_vec", Q91Threshold))}
      ${Lsh.oBestMatch("inc_vec", "idx_vec", "cosine", "vec_id")}"""))

  val q91 = Q(
    "q91_embedding_lsh_scaled",
    s"embedding near-dup pairs via $Q91Bands x $Q91Bits-bit Rademacher sign-LSH bands, bucket cap $Q91Cap, cosine >= $Q91Threshold",
    (s, dir) => embeddingPairsScaled(s, dir, Q91Bands, Q91Bits, Q91Cap, Q91Threshold)
      .orderBy(col("vec_a"), col("vec_b")),
    Some(s"""$oEmbPairsScaled
      SELECT vec_a, vec_b, cosine FROM pairs ORDER BY vec_a, vec_b"""))

  /** Embedding near-dup CLUSTERS over the scale-parameterized pair
    * source — q90's rollup riding q91 instead of the fixed-16-bucket
    * q54 pairs, so the registered cluster instance inherits the
    * banded/capped scaling story end-to-end (pairs bounded by the
    * bucket cap, closure by the tiered CC machinery). */
  val q93 = Q(
    "q93_embedding_scaled_clusters",
    "scaled sign-LSH cosine pairs -> connected components -> canonical vector",
    // Scoped pairs: identical pairs->CC shape to q73.
    (s, dir) => clusters(scopedComponents(
      embeddingPairsScaled(s, dir, Q91Bands, Q91Bits, Q91Cap, Q91Threshold), "vec_a", "vec_b"),
      "canonical_vec_id", "n_vecs"),
    Some(s"""$oEmbPairsScaled,
      ${oClosure(oSym("vec_a", "vec_b"))}
      ${oClusters("q93", "canonical_vec_id", "n_vecs")}"""))

  // ---- 64-bit SimHash (q92) -----------------------------------------

  /** 64-bit SimHash near-dup pairs with parameterized band width and
    * the q88 bucket cap — the production-width fix for q52's measured
    * precision collapse (THROUGHPUT.md: at 2M docs the 32-bit sketch's
    * low 16 bits cannot separate documents and 86% of emitted pairs
    * are false). 64 bits double the band count at the same width, so
    * candidates must agree on 16 of 64 bits (any of 4 bands) AND
    * verify hamming ≤ `maxHamming` over all 64 — false-pair odds per
    * candidate drop from ~2⁻¹⁶·C(16,≤6) territory to
    * Σ_{k≤6}C(48,k)/2⁴⁸ ≈ 5·10⁻⁸.
    *
    * The sketch is kept as two non-negative 32-bit halves (hi = md5
    * hex 1-8, lo = hex 9-16 of each distinct token) so every shift /
    * xor / bit_count stays in signed-BIGINT-safe range in BOTH engines
    * — no 1<<63 sign traps. Majority vote per bit is 64 codegen'd
    * conditional sums in ONE groupBy (narrow fold, map-side partial
    * agg); banding is a stack over shifted masks; candidate generation
    * is the q88 one-exchange bounded-bag shape (no band self-join);
    * verify re-joins the 16-byte sketches only. `bandBits` must divide
    * 32; at 100 TB pick bandBits ≈ log₂(n/target-bucket) and let
    * 64/bandBits bands set the hamming-recall S-curve. */
  private[graft] def simhash64Pairs(s: org.apache.spark.sql.SparkSession,
      dir: String, bandBits: Int, maxHamming: Int, cap: Int): DataFrame = {
    val sh = Lsh.SimHash64(bandBits)
    val base = graft.Scratch.scoped(sh.sketch(docs(s, dir)), adaptive = true)
    Lsh.Hamming(maxHamming).pairs(base, Lsh.cappedPairs(sh.banded(base), cap))
  }

  // Registered q92 instance: production band width (16 bits -> 4
  // bands over 64 sketch bits), hamming <= 6 like q52, cap 256 (the
  // skew guard is declared in the oracle; at sf scale no 16-bit band
  // bucket approaches it — the drop semantics are pinned by spec and
  // the volume run, same split as q88's tape-corpus cap of 64).
  private val Q92BandBits = 16
  private val Q92MaxHamming = 6
  private val Q92Cap = 256

  private def oSimhash64Ctes(bandBits: Int, maxHamming: Int, cap: Int): String =
    s"""WITH ${Lsh.SimHash64(bandBits).oSig},
      ${oCap("kept", "doc_id", cap)},
      ${oSelfJoin("cand", "kept")}
      SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
          CAST(bit_count(xor(sa.shi, sb.shi)) + bit_count(xor(sa.slo, sb.slo)) AS INTEGER) AS hamming
        FROM cand JOIN base sa ON cand.doc_a = sa.doc_id
                  JOIN base sb ON cand.doc_b = sb.doc_id)
      WHERE hamming <= $maxHamming
      ORDER BY doc_a, doc_b"""

  val q92 = Q(
    "q92_simhash64",
    s"64-bit simhash; $Q92BandBits-bit band blocking (q88-capped buckets) with hamming <= $Q92MaxHamming",
    (s, dir) => simhash64Pairs(s, dir, Q92BandBits, Q92MaxHamming, Q92Cap)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(oSimhash64Ctes(Q92BandBits, Q92MaxHamming, Q92Cap)))

  // ---- char-4-gram MinHash (q94): the sketch relaxation of q53 ------

  // 32 hashes = 16 bands x 2 rows: at the q53 threshold t = 0.5 the
  // S-curve needs SHALLOW bands (j^2 per band, 1-(1-j^2)^16 = 0.99 at
  // j = 0.5, ~1.0 at j >= 0.7) — q51's 4x3 shape is tuned for t = 0.8
  // and would recall only 41% of borderline 0.5-pairs. Same universal-
  // hash family and prime as q51 (shared i -> identical constants).
  //
  // Band count is the REGISTERED production layout, re-registered
  // from 8x2 in round 10: the round-9 attribution ladder measured the
  // 8x2 layout's cap-miss recall loss growing SUPERLINEARLY with
  // corpus size (0/1/207 missed truth pairs at 100k/200k/1M docs —
  // hot template buckets saturate, so progressively more pairs find
  // ALL their shared bands over cap), while 16x2 at the SAME cap
  // restores 100% recall at 1M docs for linear signature cost. The
  // alternative lever — raising the cap 8x — DNF'd on candidate
  // volume (quadratic per hot bucket; THROUGHPUT.md round 9). More
  // bands widen the per-pair band lottery past the hot buckets; a
  // bigger cap multiplies every hot bucket's pair count. That
  // asymmetry is the banded-LSH design argument, measured.
  private[graft] val Grams94 = Lsh.MinHash(Lsh.Char4, bands = 16, rows = 2)

  /** Char-4-gram MinHash-LSH near-dup pairs at J ≥ 0.5 — the
    * REGISTERED at-scale relaxation of q53's exact join: where exact
    * char-gram Jaccard is quadratic-in-candidates on any gram-dense
    * corpus (THROUGHPUT.md round 9 — candidates track gram df, which
    * grows ∝ n), minhash band buckets track SIMILARITY, so candidate
    * volume follows true near-dup density and the operator extends to
    * corpus sizes where no exact plan can run. Same q53 normalization
    * and gram definition; grams hash through the JIT [[gram4H60Udf]]
    * kernel (the q50/q33 regex-wall lesson); banding and the skew cap
    * ride the q88 one-exchange bounded-bag shape; verify is exact
    * Jaccard over the per-doc gram-hash sets (collisions map both
    * engines identically). Probabilistic recall at the 0.5 boundary
    * (0.99 per the 16-band S-curve), ~1.0 for real near-dups
    * (J ≥ 0.7) — measured against ground truth at volume by a FULL
    * Q53Bench pipeline run of this registered instance (round 11:
    * 218,750 of 218,750 truth pairs at 1M docs — 100 % recall, 0
    * unsound, 1040 s; the superseded 8×2 layout's 99.905 % / 351 s
    * row and the attribution ladder that motivated the 16×2
    * re-registration are in THROUGHPUT.md). The recall-for-wall
    * trade is explicit: doubling the bands tripled the 1M wall at
    * the measurement heap (spill-bound) and bought back the last
    * 0.095 % — the right default for a training-data dedup, where
    * a missed template cluster is repeated boilerplate in the
    * training set; a latency-bound deployment re-registers 8×2. */
  private[graft] def ngramMinhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Int): DataFrame = {
    val sig = graft.Scratch.scoped(Grams94.sigOf(docs(s, dir), sets = true), adaptive = true)
    Lsh.Jaccard(0.5).pairs(sig, Lsh.cappedPairs(Grams94.banded(sig), cap))
  }

  // Registered q94 cap: sized so the sf corpora exercise the drop
  // path (template text makes some 2-row band buckets hot) while the
  // true near-dup pairs keep a surviving band — same split as q88's
  // cap-3 choice. (A cap=64 run at 1M docs DNF'd on shuffle volume —
  // THROUGHPUT.md round 9 — so the registered cap is load-bearing,
  // not just a skew nicety.)
  private[graft] val Q94Cap = 8

  private def oNgramMinhashSql(cap: Int): String =
    s"""WITH ${Grams94.oSig(AllDocs, sets = true)},
      ${oCap("kept", "doc_id", cap)},
      ${oSelfJoin("cand", "kept")}
      ${oJaccard("cand", "doc_a", "doc_b", 0.5)}
      ORDER BY doc_a, doc_b"""

  val q94 = Q(
    "q94_ngram_minhash",
    s"char-4-gram MinHash(${Grams94.ab.size})/LSH(${Grams94.bands}x${Grams94.rows}) pairs at J >= 0.5, band buckets capped at $Q94Cap",
    (s, dir) => ngramMinhashPairs(s, dir, Q94Cap)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(oNgramMinhashSql(Q94Cap)))

  /** Band-bucket cap for q96's INDEX side — same q88 device. Measured
    * index-bucket occupancy: sf0.001 and sf0.1 each hold 4 over-cap
    * buckets (max size 4 > 3), so the drop path runs at those scales;
    * sf0.01 (the driver's oracle scale) tops out at exactly 3, where
    * the cap is declared by both engines but inert — the same
    * declare-vs-fire split q91/q92 document. */
  private[graft] val Q96Cap = 3

  /** q96's STATIC index side, standalone for the streaming gate
    * (q98): capped band buckets (band, key, idx_doc) + the exact-
    * verify hash sets (idx_doc, hs_b) for the 90 % index split. This
    * is exactly what a standing dedup index persists between batches:
    * recompute is per-REGISTRATION-run only; a production deployment
    * writes both tables bucketed by their join keys. */
  private[graft] def q96IndexSide(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val sig = graft.Scratch.scoped(
      Text.sigOf(docs(s, dir, Some(!ingest("doc_id"))), sets = true))
    (Lsh.indexSide(Text.banded(sig), Q96Cap, "doc_id", "idx_doc"),
      Lsh.Jaccard(0.8).side(sig, "doc_id", "idx_doc", "b"))
  }

  /** q96's oracle SQL, exposed because the STREAMING gate (q98)
    * computes the identical relation — one oracle text, two physical
    * engines (batch band join vs stream-static probe). */
  private[graft] def oIngestGateSql: String = q96.oracle.get

  /** The gates' standing INDEX side as a prepared artifact (r20
    * optimization — the r14 prepare device applied to the ingest-gate
    * family): [[q96IndexSide]]'s two relations, scoped and
    * MATERIALIZED, so a prepared run's timed body is the RECURRING
    * gate cost — the incoming batch's signatures plus the probe —
    * not the 90 % standing index build a deployment stores between
    * batches (exactly what q96's own scaladoc says a production crawl
    * pays per batch). Runs stay self-sufficient: an unprepared run
    * (Verify, the driver's gate, specs) builds inline. */
  private[graft] def q96Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (keptIdx0, idxHs0) = q96IndexSide(s, dir)
    val keptIdx = graft.Scratch.scoped(keptIdx0, adaptive = true)
    val idxHs = graft.Scratch.scoped(idxHs0, adaptive = true)
    graft.Scratch.fill(keptIdx); graft.Scratch.fill(idxHs)
    (keptIdx, idxHs)
  }

  /** The INCOMING side's (sig-with-hs, banded) over the 10 % ingest
    * split — the per-batch work the gate recurringly pays. Same
    * per-doc pipeline as [[q96IndexSide]]'s (hash-identical mins/hs
    * per doc), restricted to the incoming predicate. */
  private[graft] def incomingSigBanded(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val sig = graft.Scratch.scoped(
      Text.sigOf(docs(s, dir, Some(ingest("doc_id"))), sets = true))
    (sig, Text.banded(sig))
  }

  /** INCREMENTAL (cross-corpus) dedup — the continuous-ingest gate: a
    * deterministic 10 % "incoming" batch is near-dup-matched against
    * the other 90 % ("index") through the q51 MinHash bands, with the
    * q88 bounded-bag cap on the INDEX side of the band join (a hot
    * index bucket costs O(cap), never O(|bucket|) per incoming doc)
    * and exact-Jaccard verification. No self-join anywhere: this is
    * the asymmetric shape a production crawl runs every batch —
    * signatures for the (small) incoming side are computed fresh, the
    * index side's signatures/bands are exactly what a standing dedup
    * index stores, and at 100 TB the index bands live bucketed on
    * (band, key) so the candidate join is co-located and the incoming
    * batch never shuffles the index. Output: one row per incoming doc
    * with ≥1 verified match — match count, best-matching index doc
    * (argmax jaccard, min-id tiebreak), and its jaccard. */
  val q96 = Q(
    "q96_incremental_dedup",
    s"ingest gate: 10% incoming near-dup-matched vs 90% index (index buckets capped at $Q96Cap, J >= 0.8)",
    (s, dir) => {
      // Standing index side from the prepare handoff (r20: the r14
      // prepare device — a deployment reads the stored index between
      // batches; the timed body is the recurring gate: the incoming
      // batch's signatures + the co-located probe + verify). Built
      // inline when unprepared; relations identical either way.
      val (keptIdx, idxHs) = prepTake(s, dir, "prep96")(q96Arts(s, dir))
      val (sig, banded) = incomingSigBanded(s, dir)
      val verify = Lsh.Jaccard(0.8)
      val cand = Lsh.probe(banded, keptIdx, "doc_id", "inc_doc", "idx_doc")
      Lsh.bestMatch(verify(cand, "inc_doc", "idx_doc",
        verify.side(sig, "doc_id", "inc_doc", "a"), idxHs),
        "inc_doc", "idx_doc", "jaccard", "doc_id")
    },
    Some(s"""WITH ${Text.oSig(Tag(oIngest("doc_id")), sets = true)},
        ${oCap("keptidx", "doc_id", Q96Cap, " WHERE NOT incoming")},
        ${Lsh.oProbe("doc_id", "inc_doc", "idx_doc")},
        ${oCte("ver", oJaccard("cand", "inc_doc", "idx_doc", 0.8))}
        ${Lsh.oBestMatch("inc_doc", "idx_doc", "jaccard", "doc_id")}"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep96", q96Arts(s, dir))))

  // ---- q101: index MAINTENANCE (the update half of the ingest gate) --

  /** Capped band-bucket index over a banded(doc_id, band, key)
    * relation, KEEPING over-cap tombstones: one row per (band, key)
    * with ids = the bucket's doc_ids sorted when it holds ≤ cap docs,
    * or an EMPTY array (tombstone) when over cap. This is the
    * persistable form of [[q96IndexSide]]'s bucket table — the probe
    * view is `where size(ids) >= 1`, but MAINTENANCE must retain the
    * tombstones: a bucket that ever went hot has lost members to the
    * map-side truncation, so an incremental merge that forgot it
    * would resurrect the bucket with a partial id set that a batch
    * recompute over the same corpus drops. */
  private[graft] def cappedIndexBuckets(banded: DataFrame, cap: Int): DataFrame =
    Lsh.buckets(banded, cap)

  /** The published slice of a capped index: per (band, key) the
    * tombstone flag, kept count and kept ids, ordered. */
  private def indexSlice(idx: DataFrame): DataFrame =
    idx.select(col("band"), col("key"),
      (size(col("ids")) === 0).as("dropped"),
      size(col("ids")).cast("long").as("n_kept"),
      concat_ws(",", transform(col("ids"), x => x.cast("string"))).as("ids"))
      .orderBy(col("band"), col("key"))

  /** INDEX-UPDATE operator — the maintenance half of the continuous-
    * ingest gate. q96/q97/q98 PROBE a standing capped index but never
    * maintain it (r9 VERDICT task 2); this MERGES an accepted batch's
    * banded rows into the standing buckets under the same cap. Per
    * (band, key):
    *
    *   - key only in the batch → the batch's own capped bucket;
    *   - key only in the index → unchanged;
    *   - tombstone on either side → tombstone (bucket counts only
    *     grow, so a bucket that ever exceeded the cap stays rejected);
    *   - both alive → DISTINCT union if its size ≤ cap, else
    *     tombstone. The distinct count IS the recomputed count, so
    *     the keep/reject decision at the cap boundary is
    *     DETERMINISTIC — equal, bucket for bucket, to recomputing the
    *     capped index over old ∪ batch from scratch. IndexMergeSpec
    *     pins that equality (plus the boundary cases) in Spark; the
    *     registered q101 oracle re-derives the full recompute in
    *     DuckDB, so the driver's hash gate re-proves
    *     incremental == batch on every round.
    *
    * Scale shape: the standing index lives bucketed by (band, key) —
    * a storage-partitioned table at 100 TB — so this full-outer join
    * co-locates on the bucket key and shuffles ONLY the batch's
    * banded rows; per-merge cost is the batch's banding plus one
    * co-partitioned index pass, flat from batch to batch (measured:
    * THROUGHPUT.md round 11, two-batch 2M-doc run). Tombstones make
    * the merge monotone and GROUPING-INVARIANT: disjoint batches
    * applied in any grouping converge to the recomputed index. The
    * `array_distinct` in the union additionally makes at-least-once
    * REDELIVERY of a batch idempotent (r10 ADVICE: a raw concat would
    * double-count redelivered ids toward the cap and keep duplicates
    * in surviving buckets) — re-merging ids the index already holds
    * changes nothing, at the cost of one codegen'd dedup over ≤ cap
    * elements per live bucket. The one case neither property covers:
    * a doc REBANDED differently across deliveries (content changed
    * between crawls) is a delete + insert, which a tombstoning index
    * cannot express — that needs a full rebuild of the affected
    * buckets. The per-doc verify-hash-set side of the index
    * ([[q96IndexSide]]'s second relation) needs no operator: it is
    * keyed by doc_id alone, so a batch appends blindly. */
  private[graft] def mergeIndexBuckets(standing: DataFrame,
      batchBanded: DataFrame, cap: Int): DataFrame = {
    val batch = cappedIndexBuckets(batchBanded, cap)
    val tombstone = array().cast("array<bigint>")
    standing.select(col("band"), col("key"), col("ids").as("old_ids"))
      .join(batch.select(col("band"), col("key"), col("ids").as("new_ids")),
        Seq("band", "key"), "full")
      .select(col("band"), col("key"),
        when(col("old_ids").isNull, col("new_ids"))
          .when(col("new_ids").isNull, col("old_ids"))
          .when(size(col("old_ids")) === 0 || size(col("new_ids")) === 0, tombstone)
          .otherwise(sort_array(array_distinct(concat(col("old_ids"), col("new_ids")))))
          .as("u"))
      .select(col("band"), col("key"),
        when(size(col("u")) > cap, tombstone).otherwise(col("u")).as("ids"))
  }

  /** banded(doc_id, band, key) over the documents matching `pred`,
    * through q51's signature family — the banding the standing ingest
    * index (q96/q98) is keyed by. */
  private[graft] def bandedFor(s: org.apache.spark.sql.SparkSession,
      dir: String, pred: Column): DataFrame =
    Text.banded(Text.sigOf(docs(s, dir, Some(pred)), sets = false))

  /** The registered instance: q96's standing index (the 90 % split,
    * same deterministic h60 ingest split) absorbs the 10 % incoming
    * batch. The ORACLE recomputes the capped index over the full
    * corpus from scratch — so the cross-engine hash compare is itself
    * the incremental-equals-batch proof, not just a fixture check.
    *
    * Cap declare-vs-fire at the sf scales (the q91/q92 split): the
    * full-corpus recompute tombstones at sf0.001 and sf0.1 (max
    * bucket 4 > 3) while sf0.01 — the driver's oracle scale — tops
    * out at exactly the cap, where both engines declare the branch
    * but neither fires it; IndexMergeSpec keeps the tombstone branch
    * exercised at sf0.01 with a tightened cap, and the 2M-doc volume
    * run fires it at production density — ~90k tombstone decisions
    * across the two 2M-doc merges (THROUGHPUT.md round 11). */
  /** q101's standing artifact — the capped text index over the 90 %
    * split, scoped and materialized (r20: the r14 prepare device; the
    * timed body is the recurring batch banding + co-partitioned
    * merge, not the standing index build a deployment stores). */
  private def q101Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // The cache keeps the capped-index groupBy's
    // HashPartitioning(band, key) (r21 optimization, guide §2.4), so
    // mergeIndexBuckets' full-outer join co-locates on the cached
    // layout and shuffles only the batch's banded rows (the operator's
    // own documented scale shape), not the ~90 % standing relation.
    val standing = graft.Scratch.scoped(
      cappedIndexBuckets(bandedFor(s, dir, !ingest("doc_id")), Q96Cap), adaptive = true)
    graft.Scratch.fill(standing)
    standing
  }

  val q101 = Q(
    "q101_index_merge",
    s"ingest-index maintenance: merge the 10% batch into the standing capped index (cap $Q96Cap), tombstones persist",
    (s, dir) => indexSlice(mergeIndexBuckets(prepTake(s, dir, "prep101")(q101Arts(s, dir)),
      bandedFor(s, dir, ingest("doc_id")), Q96Cap)),
    Some(s"""WITH ${Text.oSig(AllDocs, sets = false)},
        ${Lsh.oIndexSlice("doc_id", Q96Cap)}"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep101", q101Arts(s, dir))))

  /** banded(doc_id, band, key) over the embeddings matching `pred`,
    * through the q91/q97 sign-LSH family — the banding the standing
    * embedding ingest index (q97) is keyed by. The vec_id is emitted
    * AS doc_id so [[cappedIndexBuckets]]/[[mergeIndexBuckets]] apply
    * unchanged: the maintenance operator is generic over (band, key)
    * bucket tables, and this is its second registered instance.
    * `bands`/`bits` default to the registered sf-scale point; the
    * volume tool (EmbIndexVolBench) passes EmbedDedupBench's
    * production 6×20 parameters through the SAME path. */
  private[graft] def embBandedFor(s: org.apache.spark.sql.SparkSession,
      dir: String, pred: Column,
      bands: Int = Q91Bands, bits: Int = Q91Bits): DataFrame =
    Lsh.SignLsh(bands, bits).banded(t(s, dir, "embeddings").where(pred),
      col("embedding"), col("vec_id").as("doc_id"), "doc_id")

  /** EMBEDDING-index maintenance — [[mergeIndexBuckets]] applied to
    * q97's standing sign-LSH index (r10 VERDICT task 4: both ingest
    * gates need their update half; the text MinHash instance is
    * [[q101]]). Same contract, same proof shape: the oracle recomputes
    * the capped index over the FULL embeddings corpus from scratch, so
    * the driver's cross-engine hash gate re-proves incremental ==
    * batch for the embedding banding every round.
    *
    * Cap declare-vs-fire at the sf scales (the q101 split, embedding
    * edition): the q97 production cap (56) is far above the sf
    * bucket occupancies (sf0.01 tops out at 19 across the 4×64
    * (band, key) space), so the registered oracle proves the merge +
    * cap ARITHMETIC cross-engine while the tombstone branch stays
    * declared-not-fired; IndexMergeSpec fires it on the SAME banding
    * at a tightened cap on sf0.01 AND at the production cap on sf0.1
    * (max bucket 75 > 56 — real parameters, real tombstones,
    * merged == recomputed). At volume: EmbIndexVolBench's 2M-vector
    * two-batch run at the 6×20/cap-64 production point (THROUGHPUT.md
    * round 11) measures per-batch cost flat (5.6 s / 4.3 s per
    * 200k-vector batch, ~0.1 GB shuffle each — only the batch's
    * banding shuffles), the tombstone branch firing (47→87→153),
    * and merged == recomputed bucket for bucket over all 2M. */
  /** q102's standing artifact — the capped sign-LSH index over the
    * 90 % split (q101Arts' shape, embedding edition). */
  private def q102Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // Scoped — q101Arts' partitioning note.
    val standing = graft.Scratch.scoped(
      cappedIndexBuckets(embBandedFor(s, dir, !ingest("vec_id")), Q91Cap), adaptive = true)
    graft.Scratch.fill(standing)
    standing
  }

  val q102 = Q(
    "q102_embedding_index_merge",
    s"embedding-index maintenance: merge the 10% vector batch into the standing sign-LSH index (cap $Q91Cap)",
    (s, dir) => indexSlice(mergeIndexBuckets(prepTake(s, dir, "prep102")(q102Arts(s, dir)),
      embBandedFor(s, dir, ingest("vec_id")), Q91Cap)),
    Some(s"""WITH ${oCte("e", "SELECT vec_id, embedding AS v FROM embeddings")},
      ${Q91Lsh.oBanded()},
      ${Lsh.oIndexSlice("vec_id", Q91Cap)}"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep102", q102Arts(s, dir))))

  // ---- q105: cluster MAINTENANCE (the merge half of near-dup clustering) --

  /** Merge a batch of accepted match EDGES into a standing component
    * ASSIGNMENT without recomputing the standing closure — the cluster
    * half of the maintenance triad (q101 text index, q102 embedding
    * index, this). `standing` is (id, comp) with labels drawn from
    * member ids ([[graft.etl.Pipeline.connectedComponents]]'s
    * contract — union-find roots and min-hooks are always vertices),
    * `edges` is (src, dst) in any mix of assigned and new ids.
    *
    * Both endpoints CONTRACT through their standing label where one
    * exists (else stand as themselves), self-loops drop — an edge
    * INSIDE one standing component is a no-op by construction — and
    * connected components run on the contracted graph, whose size is
    * bounded by the BATCH's edge count, never the corpus: this is
    * where two standing components bridged by one new doc merge. The
    * result relabels standing rows through a broadcast remap join
    * (the standing table itself never shuffles) and assigns every new
    * id its contracted component. Label collisions cannot occur:
    * contracted-CC labels are contracted vertices (touched comps' own
    * labels and new ids), and an UNTOUCHED comp's label is neither —
    * new ids are disjoint from standing ids, and a touched comp's
    * label is one of its own members.
    *
    * Scale shape: per batch this costs the edge contraction (one join
    * against the vertex-sized assignment), a CC over the contracted
    * remainder (edge-bounded; driver union-find at any realistic
    * batch), and one broadcast-remap pass — flat in corpus size. The
    * oracle (q105) recomputes the FULL closure over standing pairs ∪
    * batch edges from scratch, so the driver's cross-engine hash gate
    * re-proves incremental == batch for the cluster state every
    * round, the q101/q102 proof shape. */
  private[graft] def mergeComponents(standing: DataFrame,
      edges: DataFrame): DataFrame = {
    val s = standing.sparkSession
    import s.implicits._
    val contracted = edges
      .join(standing.select(col("id").as("src"), col("comp").as("sc")),
        Seq("src"), "left")
      .join(standing.select(col("id").as("dst"), col("comp").as("dc")),
        Seq("dst"), "left")
      .select(coalesce(col("sc"), col("src")).as("src"),
        coalesce(col("dc"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val verts = contracted.select(col("src")).union(contracted.select(col("dst")))
      .distinct().as[java.lang.Long]
    val remap = graft.etl.Pipeline.connectedComponents(
      verts, contracted.as[graft.etl.Pipeline.Edge])
    val standingFinal = standing
      .join(remap.select(col("id").as("comp"), col("comp").as("fc")),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("fc"), col("comp")).as("comp"))
    // LEFT join + coalesce (r11 ADVICE): a NEW vertex whose only batch
    // edge is a reflexive (src == dst) self-loop never reaches the
    // contracted graph — the inner join silently dropped it, where a
    // from-scratch closure over the same edges emits it as a
    // singleton. Contracted self-loops of STANDING vertices stay
    // no-ops (the standing row keeps its comp), and a new id can only
    // self-loop raw (standing labels are disjoint from new ids), so
    // the coalesce-to-self is exactly the missing singleton case.
    val newFinal = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .join(standing.select(col("id")), Seq("id"), "left_anti")
      .join(remap, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    standingFinal.union(newFinal)
  }

  /** The registered instance: the STANDING near-dup components over
    * the 90 % index split (q51's verified pairs restricted to index
    * docs — production stores this assignment and would cap the bands
    * per q88) absorb the ingest gate's accepted matches for the 10 %
    * batch (q96's verified relation, ALL matches, capped index side).
    * Unmatched incoming docs stay singletons and are not clusters.
    * Output is the post-merge cluster table: canonical (min) id,
    * size, how many members arrived in this batch, members.
    *
    * The interesting branch — one incoming doc BRIDGING two standing
    * components into one — doesn't occur on the sf corpora (standing
    * clusters there are near-cliques matched singly); ClusterMergeSpec
    * fires it on a crafted corpus and pins merged == recomputed, the
    * q101 declare-vs-fire split. */
  /** q105's two LAZY edge relations over caller-chosen splits: the
    * index side's verified pairs (the standing graph) and the gate's
    * accepted (src = incoming, dst = index) matches — q51 signatures
    * Scratch-scoped and shared by both. `idxPred`/`incPred` are
    * doc_id predicates; the registered instance uses the h60 90/10
    * ingest split, and ClusterVolBench drives the SAME path with the
    * 80/10/10 residue splits at 2M docs. */
  private[graft] def q105Pairs(s: org.apache.spark.sql.SparkSession,
      dir: String, idxPred: Column, incPred: Column): (DataFrame, DataFrame) = {
    val sig = graft.Scratch.scoped(
      Text.sigOf(docs(s, dir, Some(idxPred || incPred)), sets = true, Some(incPred)))
    val banded = Text.banded(sig, inc = true)
    val verify = Lsh.Jaccard(0.8)
    // STANDING side: verified pairs among index docs -> components.
    // Registration-instance cost only; a deployment stores (id, comp).
    val idx = banded.where(!col("incoming"))
    val idxCand = idx.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(idx.select(col("doc_id").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val idxPairs = verify.pairs(sig, idxCand)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // BATCH side: the gate's accepted matches (q96's relation, all
    // matches), as (src = incoming, dst = index) edges.
    val cand = Lsh.probe(banded.where(col("incoming")),
      Lsh.indexSide(idx, Q96Cap, "doc_id", "idx_doc"), "doc_id", "inc_doc", "idx_doc")
    val matches = graft.Scratch.scoped(verify.pairs(sig, cand, "doc_id", "inc_doc", "idx_doc")
      .select(col("inc_doc").as("src"), col("idx_doc").as("dst")), adaptive = true)
    (idxPairs, matches)
  }

  /** Eager connected components over a (src, dst) pair relation →
    * (id, comp) assignment. */
  private[graft] def componentsOf(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val verts = pairs.select(col("src")).union(pairs.select(col("dst")))
      .distinct().as[java.lang.Long]
    graft.etl.Pipeline.connectedComponents(verts, pairs.as[graft.etl.Pipeline.Edge])
  }

  /** The registered q105 instance's two inputs, exposed for
    * ClusterMergeSpec's same-engine replay (merged == from-scratch
    * closure over the same relations): the STANDING (id, comp)
    * assignment over the 90 % index split and the gate's accepted
    * match edges. Scratch-scoped — callers run inside one query's
    * action window. */
  private[graft] def q105Relations(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (idxPairs, matches) = q105Pairs(s, dir, !ingest("doc_id"), ingest("doc_id"))
    (graft.Scratch.scoped(componentsOf(idxPairs), adaptive = true), matches)
  }

  /** q105's standing artifacts — the stored component assignment and
    * the ingest gate's accepted matches, scoped and materialized. */
  private[graft] def q105Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (standing, matches) = q105Relations(s, dir)
    graft.Scratch.fill(standing); graft.Scratch.fill(matches)
    (standing, matches)
  }

  val q105 = Q(
    "q105_cluster_merge",
    s"cluster maintenance: standing 90%-split near-dup components absorb the ingest gate's accepted matches (index cap $Q96Cap, J >= 0.8)",
    // Standing components + the gate's accepted matches from the
    // prepare handoff (ClusterVolBench's deployment shape: the
    // assignment is stored state, gate-match cost is q96's story);
    // built inline when unprepared. Scoped either way: mergeComponents'
    // CC issues several actions, each otherwise re-analyzing the full
    // gate pipeline's plan — ~1.2 s of driver planning at sf0.1.
    (s, dir) => {
      val (standing, matches) = prepTake(s, dir, "prep105")(q105Arts(s, dir))
      clusters(mergeComponents(standing, matches), incoming = true)
    },
    // q73's closure over standing pairs ∪ gate matches.
    Some(s"""WITH ${Text.oSig(Tag(oIngest("doc_id")), sets = true)},
        ${oSelfJoin("icand", "banded", where = "\n          WHERE NOT a.incoming AND NOT b.incoming")},
        ${oCte("ipairs", oJaccard("icand", "doc_a", "doc_b", 0.8, withScore = false))},
        ${oCap("keptidx", "doc_id", Q96Cap, " WHERE NOT incoming")},
        ${Lsh.oProbe("doc_id", "inc_doc", "idx_doc")},
        ${oCte("ver", oJaccard("cand", "inc_doc", "idx_doc", 0.8, withScore = false))},
        ${oClosure(oSym("doc_a", "doc_b", "ipairs") + "\n          UNION ALL " +
          oSym("inc_doc", "idx_doc", "ver"))}
        SELECT CASE WHEN (SELECT viol FROM conv) > 0
                 THEN ${Lsh.oNotConverged("q105")}
                 ELSE min(k) END AS canonical_id,
          count(*) AS n_docs,
          CAST(sum(CASE WHEN spl.incoming THEN 1 ELSE 0 END) AS BIGINT) AS n_incoming,
          string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS members
        FROM l11 JOIN spl ON l11.k = spl.doc_id
        GROUP BY lab ORDER BY canonical_id"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep105", q105Arts(s, dir))))

  /** QUALITY-AWARE canonical selection — the survivor policy real
    * curation pipelines run instead of q73's min-id: each near-dup
    * cluster keeps its highest-QUALITY member (the q83 gate's four
    * rule flags summed, 0–4; min doc_id breaks ties), so dedup
    * removes the boilerplate-damaged copies rather than whichever id
    * sorted first. Composes the shared [[minhashPairs]] → tiered CC
    * closure with [[CurationOps.withGateFlags]] (the SAME rule
    * columns the batch and streaming gates run — one definition of
    * quality across the engine). The argmax is a struct-max inside
    * the per-cluster aggregate: no window, no second shuffle beyond
    * the closure's own. */
  val q100 = Q(
    "q100_quality_canonical",
    "near-dup clusters keep the highest-quality member (gate-flag score, min-id tie)",
    (s, dir) => {
      // Scoped pairs: identical pairs->CC shape to q73.
      val comps = scopedComponents(minhashPairs(s, dir), "doc_a", "doc_b")
      val qual = CurationOps.withGateFlags(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          (col("f_len") + col("f_mean") + col("f_stop") + col("f_alpha"))
            .cast("long").as("q"))
      comps.join(qual, comps("id") === qual("doc_id"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_docs"),
          concat_ws(",", transform(sort_array(collect_list(col("id"))),
            x => x.cast("string"))).as("members"),
          max(struct(col("q"), (-col("id")).as("nid"))).as("best"))
        .select((-col("best.nid")).as("canonical_id"), col("best.q").as("best_q"),
          col("n_docs"), col("members"))
        .orderBy(col("canonical_id"))
    },
    Some(s"""${oMinhashPairs(AllDocs)},
      ${oClosure(oSym("doc_a", "doc_b"))},
      tokq AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents),
      mq AS (
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
            AS DOUBLE) / len(toks), 4) AS mean_tok_len,
          CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it')))
            AS BIGINT) AS stop_hits,
          CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
            AS BIGINT) AS alpha_toks
        FROM tokq),
      qual AS (
        SELECT doc_id,
          CAST(CAST(n_tokens BETWEEN 50 AND 100000 AS INTEGER) +
               CAST(mean_tok_len BETWEEN 3.0 AND 10.0 AS INTEGER) +
               CAST(stop_hits >= 2 AS INTEGER) +
               CAST(alpha_toks * 10 >= n_tokens * 8 AS INTEGER) AS BIGINT) AS q
        FROM mq),
      g AS (
        SELECT lab, count(*) AS n_docs,
          string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS members
        FROM l11 GROUP BY lab),
      b AS (
        SELECT lab, k AS canonical_id, q AS best_q FROM (
          SELECT l.lab, l.k, qual.q,
            row_number() OVER (PARTITION BY l.lab ORDER BY qual.q DESC, l.k) AS rn
          FROM l11 l JOIN qual ON l.k = qual.doc_id)
        WHERE rn = 1)
      SELECT CASE WHEN (SELECT viol FROM conv) > 0
               THEN ${Lsh.oNotConverged("q100")}
               ELSE canonical_id END AS canonical_id,
        best_q, n_docs, members
      FROM g JOIN b USING (lab) ORDER BY canonical_id"""))

  // ---- q116/q117: DELETION / RETRACTION from the standing artifacts --

  /** INDEX-RETRACTION operator — the delete half the maintenance triad
    * lacked (r12 VERDICT task 1): q101/q102's merge only ADDs, and a
    * tombstoning index cannot express a removal in-band
    * ([[mergeIndexBuckets]]'s documented residual). This removes a
    * batch of doc_ids from the standing capped index by BUCKET-SCOPED
    * rebuild:
    *
    *   - `banding` is the doc→(band, key) REVERSE relation over every
    *     doc the index was built from — the artifact a deployment must
    *     persist to support takedowns at all, because a TOMBSTONED
    *     bucket's membership is unrecoverable from the index itself
    *     (the BoundedIdBag truncated it);
    *   - touched = the (band, key) buckets naming a removed doc —
    *     exactly |removed| × bands rows, batch-bounded;
    *   - each touched bucket is recomputed from its SURVIVING banding
    *     rows under the same cap: a tombstone whose survivor count
    *     falls to ≤ cap DEMOTES back to a live bucket with the full
    *     survivor id set, a bucket losing every member DROPS (no row —
    *     matching the from-scratch index, which has no bucket no doc
    *     names), and a bucket still over cap stays tombstoned;
    *   - untouched buckets pass through UNCHANGED — their banding rows
    *     are identical before and after the removal, so their capped
    *     form already equals the from-scratch recompute's.
    *
    * The result is equal, bucket for bucket, to recomputing the capped
    * index over `banding MINUS removed docs` from scratch; the
    * registered q116 oracle re-derives that full recompute over
    * `documents WHERE NOT removed` in DuckDB, so the driver's hash
    * gate re-proves removal == rebuild cross-engine every round (the
    * q101 proof shape, inverted).
    *
    * Scale shape: `touched` is batch-bounded and broadcasts to both
    * the banding semi-join and the standing anti-join, so neither
    * corpus-sized relation shuffles; on a (band, key)-partitioned
    * banding store the semi-join is a pruned scan of the touched
    * buckets' files. The only aggregation shuffles the touched
    * buckets' surviving rows — removal cost is bounded by the removal
    * batch times bucket occupancy, never the corpus. */
  private[graft] def removeFromIndexBuckets(standing: DataFrame,
      banding: DataFrame, removed: DataFrame, cap: Int): DataFrame = {
    val rem = removed.select(col("doc_id"))
    val touched = banding.join(rem, Seq("doc_id"), "left_semi")
      .select(col("band"), col("key")).distinct()
    val rebuilt = cappedIndexBuckets(
      banding.join(touched, Seq("band", "key"), "left_semi")
        .join(rem, Seq("doc_id"), "left_anti"), cap)
    standing.join(touched, Seq("band", "key"), "left_anti").union(rebuilt)
  }

  /** The registered instance: the standing capped index over the FULL
    * corpus takes a deterministic 10 % takedown batch (h60 "remove:"
    * residue). The oracle recomputes the capped index over
    * `documents WHERE NOT removed` from scratch.
    *
    * Cap declare-vs-fire at the sf scales (the q101 split): sf0.01's
    * full-corpus max bucket sits exactly AT the cap, so neither the
    * tombstone nor the DEMOTION branch fires at the driver's oracle
    * scale — both engines declare the arithmetic and agree on it.
    * IndexRemoveSpec fires demotion, zero-survivor drop, and
    * tombstone persistence on crafted fixtures AND replays
    * removal == from-scratch on the real sf bandings under
    * tightened caps / removal fractions where each branch provably
    * fires (census by the ProbeRemove tool, since deleted). */
  /** q116's standing artifacts — the persisted banding reverse
    * relation and the capped index built from it — scoped and
    * MATERIALIZED (the count pays both caches), so a prepared run's
    * timed body is the takedown alone. */
  private def q116Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val banding = graft.Scratch.scoped(bandedFor(s, dir, lit(true)), adaptive = true)
    val standing = graft.Scratch.scoped(cappedIndexBuckets(banding, Q96Cap), adaptive = true)
    graft.Scratch.fill(standing)
    (banding, standing)
  }

  val q116 = Q(
    "q116_index_remove",
    s"index retraction: bucket-scoped rebuild for a removed 10% batch, tombstone demotion at cap $Q96Cap",
    (s, dir) => {
      // Standing artifacts from the prepare handoff (a deployment
      // reads the stored index + banding; Bench pays the build
      // untimed), built inline when unprepared.
      val (banding, standing) = prepTake(s, dir, "prep116")(q116Arts(s, dir))
      val rem = t(s, dir, "documents").where(removed("doc_id")).select(col("doc_id"))
      indexSlice(removeFromIndexBuckets(standing, banding, rem, Q96Cap))
    },
    Some(s"""WITH ${Text.oSig(Keep(oKept("doc_id")), sets = false)},
        ${Lsh.oIndexSlice("doc_id", Q96Cap)}"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep116", q116Arts(s, dir))))

  /** CLUSTER-RETRACTION operator — [[mergeComponents]]' dual: drop a
    * batch of removed members from a standing component assignment and
    * SPLIT any component the removal disconnects. `standing` is
    * (id, comp) with member-id labels ([[componentsOf]]'s contract),
    * `pairs` is the stored edge relation whose closure `standing` IS
    * (every edge intra-component by construction), `removed` is (id).
    *
    *   - touched = components holding a removed member — batch-bounded;
    *   - the contracted-CC trick reruns on the SURVIVING edges of
    *     touched components ONLY (both endpoints alive): that subgraph
    *     is where a split can happen, and its size is bounded by the
    *     touched components' edges, never the corpus;
    *   - untouched components pass through unchanged — none of their
    *     edges lost an endpoint;
    *   - a survivor with NO surviving edge leaves the table: it is no
    *     longer a near-duplicate of anything, exactly as a from-scratch
    *     closure over the surviving pair relation would decide.
    *
    * Equality with from-scratch holds because pair membership is
    * per-pair (band-share + exact Jaccard of the two docs), so the
    * UNCAPPED pair relation over survivors is precisely the original
    * pairs with both endpoints surviving. A CAPPED candidate store
    * (q88) loses this: removal can demote a tombstoned bucket and
    * REVEAL pairs never generated — there, the q116 index-removal runs
    * first and the demoted buckets' members re-probe (the composition
    * IS registered: [[q124]]/[[removeFromCappedCluster]]). Label
    * safety mirrors
    * [[mergeComponents]]: relabeled touched components take labels
    * from their own surviving members, disjoint from every untouched
    * component's member-id label.
    *
    * Scale shape: `touched` broadcasts; the standing table never
    * shuffles (anti-join on the broadcast); on a comp-partitioned pair
    * store the surviving-edge scan prunes to the touched components'
    * files; the CC runs edge-bounded on the touched subgraph. */
  private[graft] def removeFromComponents(standing: DataFrame,
      pairs: DataFrame, removed: DataFrame): DataFrame = {
    val s = standing.sparkSession
    import s.implicits._
    // The three bounded relations are Scratch-scoped (r20
    // optimization): rem feeds four consumers (the touched probe, two
    // anti-joins, and callers' final assemblies), and survEdges feeds
    // the vertex derivation twice plus the CC's edge relation — each
    // unmaterialized reference re-derived the join pipeline (and the
    // removal batch's source scan) per consumer. All three are
    // batch/touched-bounded: the removal ids, the touched component
    // ids, and the touched components' surviving edges.
    val rem = graft.Scratch.scoped(removed.select(col("id")), adaptive = true)
    val touched = graft.Scratch.scoped(
      standing.join(rem, Seq("id"), "left_semi")
        .select(col("comp")).distinct(), adaptive = true)
    val survEdges = graft.Scratch.scoped(pairs
      .join(standing.select(col("id").as("src"), col("comp")), Seq("src"))
      .join(touched, Seq("comp"), "left_semi")
      .join(rem.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(rem.select(col("id").as("dst")), Seq("dst"), "left_anti")
      .select(col("src"), col("dst")), adaptive = true)
    val verts = survEdges.select(col("src")).union(survEdges.select(col("dst")))
      .distinct().as[java.lang.Long]
    val relabeled = graft.etl.Pipeline.connectedComponents(
      verts, survEdges.as[graft.etl.Pipeline.Edge])
    standing.join(touched, Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
      .union(relabeled.select(col("id"), col("comp")))
  }

  /** The registered instance: the standing near-dup components over
    * the FULL corpus (q73's closure — production stores this
    * assignment and the pair relation beside it) process the same
    * 10 % takedown batch as q116. Output is the post-removal cluster
    * table. The ORACLE recomputes signatures, banding, candidates,
    * verification, and the closure over `documents WHERE NOT removed`
    * from scratch — so the driver's cross-engine hash gate re-proves
    * removal == full rebuild every round (the q105 proof shape,
    * inverted). The SPLIT branch (a removed cut-vertex disconnecting
    * its component) doesn't occur on the sf corpora (clusters are
    * near-cliques); ClusterRemoveSpec fires it on crafted graphs
    * (path cut, star collapse, survivor-with-no-edge drops) and
    * replays removal == from-scratch on the real sf pair relations,
    * and ClusterVolBench on the BRIDGED dedup_gen corpus fires it
    * 1,122 times at 2M docs (removing a barbell family's hub
    * disconnects its two pair-components) with zero mismatches. */
  /** q117's standing artifacts — the stored pair relation and the
    * component assignment over it, scoped: removeFromComponents' CC
    * issues several actions over these relations, and each plans a
    * leaf instead of re-analyzing the minhash pipeline's full plan
    * (~0.8 s of driver planning at sf0.1).
    * The count materializes both caches for the prepare handoff. */
  private def q117Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val pairs = graft.Scratch.scoped(minhashPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val standing = graft.Scratch.scoped(componentsOf(pairs))
    graft.Scratch.fill(standing)
    (pairs, standing)
  }

  val q117 = Q(
    "q117_cluster_remove",
    "cluster retraction: drop removed members, split disconnected components (== from-scratch closure)",
    (s, dir) => {
      val (pairs, standing) = prepTake(s, dir, "prep117")(q117Arts(s, dir))
      clusters(removeFromComponents(standing, pairs,
        t(s, dir, "documents").where(removed("doc_id")).select(col("doc_id").as("id"))))
    },
    Some(s"""${oMinhashPairs(Keep(oKept("doc_id")), withScore = false)},
        ${oClosure(oSym("doc_a", "doc_b"))}
        ${oClusters("q117")}"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep117", q117Arts(s, dir))))

  /** EMBEDDING-index retraction — [[removeFromIndexBuckets]] applied
    * to q97/q102's standing sign-LSH index, completing the
    * maintenance matrix's last cell (add/remove × text/embedding/
    * cluster/histogram/funnel/retention): the operator is generic
    * over (band, key) bucket tables, so this is its second registered
    * instance, exactly as q102 is [[mergeIndexBuckets]]'s. Same
    * persisted-banding contract (a tombstoned bucket's membership is
    * unrecoverable from the index), same equality: the oracle
    * recomputes the capped index over `embeddings WHERE NOT removed`
    * from scratch, so the driver's hash gate re-proves
    * removal == rebuild for the embedding banding every round.
    *
    * Cap declare-vs-fire mirrors q102: the production cap (56) sits
    * above the sf bucket occupancies, so the registered oracle proves
    * the rebuild arithmetic while the demotion/persistence branches
    * stay declared-not-fired at sf; IndexRemoveSpec fires them on
    * this banding at tightened caps (the IndexMergeSpec split) and
    * EmbIndexVolBench's removal phase fires them at the 2M-vector
    * production point, where the hot blob's buckets stay tombstoned
    * through a 10 % takedown and cap-adjacent cluster buckets demote
    * with their full survivor sets. */
  /** q123's standing artifacts — the q116 shape over the embedding
    * sign-LSH banding. */
  private def q123Arts(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val banding = graft.Scratch.scoped(embBandedFor(s, dir, lit(true)), adaptive = true)
    val standing = graft.Scratch.scoped(cappedIndexBuckets(banding, Q91Cap), adaptive = true)
    graft.Scratch.fill(standing)
    (banding, standing)
  }

  val q123 = Q(
    "q123_embedding_index_remove",
    s"embedding-index retraction: bucket-scoped rebuild for a removed 10% vector batch (cap $Q91Cap)",
    (s, dir) => {
      val (banding, standing) = prepTake(s, dir, "prep123")(q123Arts(s, dir))
      indexSlice(removeFromIndexBuckets(standing, banding, t(s, dir, "embeddings")
        .where(removed("vec_id")).select(col("vec_id").as("doc_id")), Q91Cap))
    },
    Some(s"""WITH ${oCte("e", s"SELECT vec_id, embedding AS v FROM embeddings\n        WHERE ${oKept("vec_id")}")},
      ${Q91Lsh.oBanded()},
      ${Lsh.oIndexSlice("vec_id", Q91Cap)}"""),
    prepare = Some((s, dir) => prepPut(s, dir, "prep123", q123Arts(s, dir))))

  /** The CAPPED pipeline's standing artifacts from one (sig, banded)
    * pass: the capped bucket index, the verified pair relation its
    * LIVE buckets generate (q88's relation — bucketPairs over
    * ≤cap-element arrays, exact-Jaccard verify), and the component
    * assignment over those pairs. All three Scratch-scoped; a
    * deployment stores them and [[removeFromCappedCluster]] is the
    * recurring takedown body. */
  private[graft] def cappedClusterArtifacts(sig: DataFrame, banded: DataFrame,
      cap: Int): (DataFrame, DataFrame, DataFrame) = {
    val idx = graft.Scratch.scoped(cappedIndexBuckets(banded, cap), adaptive = true)
    val pairs = graft.Scratch.scoped(verifiedPairs(sig, Lsh.bucketPairs(idx))
      .select(col("doc_a").as("src"), col("doc_b").as("dst")), adaptive = true)
    (idx, pairs, graft.Scratch.scoped(componentsOf(pairs), adaptive = true))
  }

  /** CAPPED-pipeline takedown — the composition [[q117]] documents as
    * its residual, now closed: under a q88-capped candidate store a
    * removal can DEMOTE a tombstoned bucket back to live, REVEALING
    * pairs the capped pipeline never generated (the bucket was over
    * cap, so its members never met). Removing a batch correctly
    * therefore takes three steps, each an already-proven operator:
    *
    *   1. [[removeFromIndexBuckets]] — the index takedown; its
    *      tombstone→live transitions name the demoted buckets;
    *   2. the demoted buckets' SURVIVING members pair up and verify
    *      (exact Jaccard against the signature sets) — this set is
    *      COMPLETE because a demoted bucket has ≤ cap survivors, all
    *      of them recoverable from the persisted banding relation;
    *   3. [[removeFromComponents]] drops the removed members and
    *      splits what the removal disconnects, then
    *      [[mergeComponents]] absorbs the revealed edges (which may
    *      bridge standing components or resurrect survivors the drop
    *      step orphaned — both proven branches of the merge).
    *
    * Equality with the from-scratch capped rebuild over the survivors
    * holds bucket-by-bucket: a live bucket only shrinks (its
    * surviving pairs are the restriction of the old relation, which
    * removeFromComponents computes), a still-tombstoned bucket
    * generates nothing either way, and a demoted bucket's from-scratch
    * pair set is exactly step 2's. The closure algebra then composes:
    * remove gives closure(restricted pairs), merge gives
    * closure(restricted ∪ revealed) — the from-scratch answer. The
    * registered q124 oracle re-derives that full capped rebuild in
    * DuckDB, so the driver's hash gate re-proves it cross-engine
    * every round; CappedRemoveSpec fires the reveal/bridge/resurrect
    * branches on crafted corpora and replays tightened-cap sf corpora
    * where demotion provably fires. */
  private[graft] def removeFromCappedCluster(standingIdx: DataFrame,
      banded: DataFrame, sig: DataFrame, pairs: DataFrame,
      standing: DataFrame, removed: DataFrame, cap: Int,
      sigPidSize: Option[Long] = None): DataFrame =
    removeFromCappedClusterFull(standingIdx, banded, sig, pairs, standing,
      removed, cap, sigPidSize)._3

  /** [[removeFromCappedCluster]] returning the COMPLETE post-takedown
    * standing state — (post index, post pair relation, component
    * assignment) — so takedowns COMPOSE across epochs (the q145 chain:
    * epoch 2's removal runs against epoch 1's published artifacts).
    * The carried pair relation is the restriction of the old one to
    * the survivors plus the demotion-revealed pairs — exactly the
    * verified relation a from-scratch capped rebuild over the
    * survivors produces (the closure argument in the scaladoc above,
    * applied to the EDGE set rather than its closure), so the next
    * epoch's demote→reveal→merge starts from the same relation a
    * fresh registration would store. */
  private[graft] def removeFromCappedClusterFull(standingIdx: DataFrame,
      banded: DataFrame, sig: DataFrame, pairs: DataFrame,
      standing: DataFrame, removed: DataFrame, cap: Int,
      sigPidSize: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val postIdx = removeFromIndexBuckets(standingIdx, banded, removed, cap)
    val demoted = standingIdx.where(size(col("ids")) === 0)
      .select(col("band"), col("key"))
      .join(postIdx.where(size(col("ids")) > 0).select(col("band"), col("key")),
        Seq("band", "key"), "left_semi")
    val mem = banded.join(demoted, Seq("band", "key"), "left_semi")
      .join(removed, Seq("doc_id"), "left_anti")
    // Scratch-scoped: the candidate relation feeds both the broadcast
    // probe below and the verify joins — uncached, the banding
    // semi-join + self-join would run twice.
    val revealedCand = graft.Scratch.scoped(Lsh.selfJoin(mem), adaptive = true)
    // Prune the signature table to the candidate docs BEFORE the
    // verify joins (the q51 deferred-verify pattern): the candidate
    // set is batch-bounded (demoted buckets × ≤cap members), so the
    // broadcast semi-join keeps the corpus-sized hs relation out of
    // the exchange — measured at 2M docs (CappedClusterVolBench,
    // THROUGHPUT r14): this prune alone cut the takedown's shuffle
    // 4.72 -> 1.9 GB; the committed 0.92 GB final row includes the
    // scoped revealed pairs below on top of it.
    // Scratch-scoped (r16 ADVICE): the probe feeds BOTH the pid
    // collect below and the broadcast semi-join — uncached, the pid
    // collect evaluated the union+distinct a second time inside the
    // timed takedown body.
    val probeIds = graft.Scratch.scoped(
      revealedCand.select(col("doc_a").as("doc_id"))
        .union(revealedCand.select(col("doc_b").as("doc_id"))).distinct(), adaptive = true)
    // Scratch-scoped: verifiedPairs joins this twice (the doc_a and
    // doc_b sides), and each join re-ran the corpus-sized store scan
    // that produces it — measured at 2M docs via the r15 partitioned-
    // layout phase's recordsRead census (CappedClusterVolBench): the
    // sig store was read 2× per takedown. Cached, the scan runs once
    // and the cache holds only the batch-bounded probe rows.
    // When the signature relation is the doc_id-range-partitioned
    // STORE (the registered q124 prepare layout, [[q124SigStore]]),
    // prune its scan to the probe set's partitions BEFORE the
    // semi-join: the distinct pid list is bounded by the store's
    // partition count (<= Q124SigParts), so the driver-side collect is
    // a constant-size planning action (the AQE-stats class, not a data
    // collect), and the literal IN-list becomes a static
    // PartitionFilter — a takedown whose batch has id locality reads
    // only its neighborhood's FILES (r16 census), where the
    // broadcast semi-join alone still scanned every file. A
    // hash-spread batch (the registered instance's) touches every
    // partition of any layout; its floor is the one full scan. DPP
    // does not fire for this broadcast-semi-join shape (probed
    // empirically by the ProbeDpp tool, since deleted), hence the
    // explicit filter.
    // The DROP side's split-CC is INDEPENDENT of the reveal side's
    // probe/verify chain (it reads only standing/pairs/removed), yet
    // both issue sequential driver actions (CC's count+collect vs the
    // pid collect) — so the drop side runs on a separate thread and
    // its actions OVERLAP the reveal side's (guide §2.6: overlap
    // independent jobs; the takedown's wall time was the SUM of the
    // two sides' action latencies at every register scale). The join
    // back is the Await below, before the merge consumes both.
    val rmF = scala.concurrent.Future {
      graft.Scratch.scoped(removeFromComponents(standing, pairs,
        removed.select(col("doc_id").as("id"))), adaptive = true)
    }(scala.concurrent.ExecutionContext.global)
    val pidsOpt = sigPidSize.map { w =>
      probeIds.select(floor(col("doc_id") / w).as("pid"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
    }
    val survPairs = pairs
      .join(removed.select(col("doc_id").as("src")), Seq("src"), "left_anti")
      .join(removed.select(col("doc_id").as("dst")), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
    if (pidsOpt.exists(_.isEmpty)) {
      // NO-REVEAL SHORT-CIRCUIT (r21 optimization, guide §2.4 "don't
      // compute things you throw away"): the collected pid list is
      // empty iff probeIds — the distinct endpoints of revealedCand —
      // is empty, i.e. this batch demoted no bucket with ≥2 survivors.
      // Then the revealed (verified ⊆ candidate) pair set is empty by
      // construction, so the verify pipeline (signature-store scan,
      // prune, two verify joins, the revealed cache) AND the final
      // mergeComponents would all run over provably empty relations:
      // mergeComponents(rm, ∅) contracts no edges, computes an empty
      // remap, and returns rm's rows unchanged (its left joins against
      // the empty remap coalesce every label to itself). The takedown
      // result IS the drop side. The decision reuses the pid collect
      // the pruned-scan path already pays — zero extra actions — and
      // is data-adaptive (a batch that demotes nothing at ANY scale),
      // not a scale-factor constant. CappedRemoveSpec's crafted
      // corpora keep the non-empty branch proven; q124's oracle gates
      // both branches cross-engine.
      val rm = scala.concurrent.Await.result(rmF,
        scala.concurrent.duration.Duration.Inf)
      (postIdx, survPairs, rm)
    } else {
      val sigScan = pidsOpt match {
        case Some(pids) => sig.where(col("pid").isin(pids: _*)).drop("pid")
        case None => sig
      }
      val sigPruned = graft.Scratch.scoped(
        sigScan.join(broadcast(probeIds), Seq("doc_id"), "left_semi"), adaptive = true)
      // Both inputs to the final merge are scoped leaves: the
      // connected-components machinery inside mergeComponents issues
      // many actions, and with the full takedown lineage attached each
      // action would re-ANALYZE the whole pipeline's plan — measured
      // 12.8 s of pure driver planning over empty relations at sf0.1.
      val revealed = graft.Scratch.scoped(verifiedPairs(sigPruned, revealedCand)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")), adaptive = true)
      val rm = scala.concurrent.Await.result(rmF,
        scala.concurrent.duration.Duration.Inf)
      (postIdx, survPairs.unionByName(revealed), mergeComponents(rm, revealed))
    }
  }

  /** The registered instance: the full capped pipeline's standing
    * artifacts over the corpus take the same 10 % "remove:" batch as
    * q116/q117. The artifact build is a `Q.prepare` hook (a
    * deployment reads them from storage; Bench pays the build untimed
    * each pass so the timed body is the recurring takedown — r14
    * VERDICT task 2). Cap declare-vs-fire: at sf0.01 no bucket
    * exceeds cap 3, so no demotion — both engines declare the reveal
    * arithmetic and agree the revealed set is empty; the crafted and
    * tightened-cap replays in CappedRemoveSpec and the 2M-doc volume
    * run (52k demotions at this cap) are where it fires. */
  /** q124's standing artifacts — the full capped pipeline's
    * (signatures, banding, capped index, verified pairs, component
    * assignment). The SIGNATURE relation is handed to the takedown as
    * the doc_id-range-partitioned on-disk store ([[q124SigStore]], the
    * r15 CCVBPART layout made the registered layout — r15 VERDICT
    * task 3), so a range-local takedown prunes its scan to the
    * touched partitions' files; the rest are scoped leaves: the
    * takedown body issues many actions (index pass, reveal probe, two
    * CC phases), and each would otherwise re-analyze the signature
    * pipeline's full plan. The counts materialize the caches for the
    * prepare handoff. */
  /** Partition-count target for the q124 signature store: the CCVBPART
    * layout (r15's doc_id-range partitioning evidence), now the
    * REGISTERED prepare artifact's layout. */
  private[graft] val Q124SigParts = 128L

  /** Write-once doc_id-range-partitioned signature STORE (pid =
    * doc_id / partSize, a directory-partition column): the registered
    * q124 prepare persists the signature relation the way a deployment
    * stores it — on disk, range-partitioned — so the recurring
    * takedown's store scan is FILE-PRUNABLE when the removal batch has
    * id locality (the legal/licensing range-takedown shape CCVBPART
    * measured). Returns the read-back relation and the partition
    * width; the one-row max-id lookup is schema-level planning, not a
    * data collect. Reused across Bench passes via the localScratch
    * fixture key (a store outlives any one query, like the deployment
    * artifact it models). */
  /** Memoized per-dir max doc_id (the [[docCountMemo]] device, same
    * immutable-corpus assumption): shared by the q124 store writer and
    * q141's range derivation, so the recurring takedown bodies never
    * pay the scan — without this, q141's registered body READ MORE
    * than q124's (the max scan cost more rows than the prune saved,
    * measured by the first r17 census). */
  private val maxDocIdMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  registerMemo(maxDocIdMemo)
  private[graft] def maxDocId(s: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    // Session-keyed like prepKey (r17 ADVICE): a JVM-lifetime per-dir
    // memo would hand a rewritten fixture (or a second session
    // pointing the same path at different data) a stale max while the
    // DuckDB oracle recomputes it fresh — a confusing gate mismatch.
    // Keying by session bounds the immutability assumption to one
    // session's lifetime, the same contract localScratch fixtures
    // already carry; registerMemo evicts with the session.
    val key = sessionKey(s) + ":maxdocid:" +
      java.nio.file.Paths.get(dir).normalize.toString
    maxDocIdMemo.computeIfAbsent(key,
      _ => java.lang.Long.valueOf(t(s, dir, "documents")
        .agg(max(col("doc_id"))).collect()(0).getLong(0))).longValue()
  }

  private[graft] def q124SigStore(s: org.apache.spark.sql.SparkSession,
      dir: String, sig0: DataFrame): (DataFrame, Long) = {
    val path = localScratch(s, "q124sig", dir)
    val maxId = maxDocId(s, dir)
    val partSize = math.max(1L, (maxId + Q124SigParts) / Q124SigParts)
    if (!new java.io.File(path, "_SUCCESS").exists())
      sig0.withColumn("pid", floor(col("doc_id") / partSize))
        .write.partitionBy("pid").mode("overwrite").parquet(path)
    // The resolved schema carries the `pid` partition column with its
    // inferred type, so the schema'd read-back keeps that type.
    (graft.Tables.parquet(s, path), partSize)
  }

  private[graft] def q124Arts(s: org.apache.spark.sql.SparkSession, dir: String,
      cap: Int = Q88Cap)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Long) = {
    val (sig, banded0) = sigBanded(s, dir)
    val banded = graft.Scratch.scoped(banded0)
    val (idx0, pairs0, standing0) = cappedClusterArtifacts(sig, banded, cap)
    val idx = graft.Scratch.scoped(idx0, adaptive = true)
    val pairs = graft.Scratch.scoped(pairs0, adaptive = true)
    val standing = graft.Scratch.scoped(standing0, adaptive = true)
    Seq(sig, banded, idx, pairs, standing).foreach(graft.Scratch.fill)
    // The takedown's signature relation is the PARTITIONED STORE (read
    // back from disk, not a cache — the point is the prunable file scan),
    // written from the already-materialized cache.
    val (store, partSize) = q124SigStore(s, dir, sig)
    (store, banded, idx, pairs, standing, partSize)
  }

  val q124 = Q(
    "q124_capped_cluster_remove",
    s"capped-pipeline takedown: demotion-revealed pairs folded into the cluster rebuild (cap $Q88Cap)",
    (s, dir) => {
      val (sig, banded, idx, pairs, standing, pidSize) =
        prepTake(s, dir, "prep124")(q124Arts(s, dir))
      val rem = t(s, dir, "documents").where(removed("doc_id")).select(col("doc_id"))
      clusters(removeFromCappedCluster(idx, banded, sig, pairs, standing, rem,
        Q88Cap, Some(pidSize)))
    },
    Some(cappedRemoveOracle(oKept("doc_id"))),
    prepare = Some((s, dir) => prepPut(s, dir, "prep124", q124Arts(s, dir))))

  /** The capped-takedown rebuild oracle, parameterized by the KEEP
    * predicate (q124's hash-spread batch and q141's contiguous range
    * differ only in which docs survive the removal): the full capped
    * pipeline — shingle, minhash, band, cap, verify, 11-round label
    * propagation — over the surviving documents. */
  private[graft] def cappedRemoveOracle(keepWhere: String,
      cap: Int = Q88Cap): String =
    s"""${oMinhashPairs(Keep(keepWhere), Some(cap), withScore = false)},
        ${oClosure(oSym("doc_a", "doc_b"))}
        ${oClusters("capped-takedown")}"""

  /** q141's removal range: the middle fifth of the id space,
    * [2(N+1)/5, 3(N+1)/5) with N = max doc_id — contiguous, so the
    * takedown's probe set has id LOCALITY and the partitioned store's
    * pid IN-list prune ([[removeFromCappedCluster]]) skips the other
    * ~4/5 of partitions' files. Integer arithmetic matches DuckDB's
    * `//` for non-negative ids, so both engines draw the identical
    * range. The max-id lookup is the memoized [[maxDocId]] (paid once
    * per dir, at prepare time), not a per-run scan. */
  private[graft] def q141Range(s: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    val maxId = maxDocId(s, dir)
    ((maxId + 1) * 2 / 5, (maxId + 1) * 3 / 5)
  }

  /** The epoch chain's SECOND removal range (q145's epoch 2): the
    * [7/10, 8/10) tenth of the id space — disjoint from
    * [[q141Range]]'s middle fifth, so the chained takedowns remove
    * distinct id-local batches and the second prune exercises a
    * different partition neighborhood of the signature store. */
  private[graft] def q145Range2(s: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    val maxId = maxDocId(s, dir)
    ((maxId + 1) * 7 / 10, (maxId + 1) * 8 / 10)
  }

  /** q141's bucket cap: tightened from q124's $Q88Cap to 2 (the
    * CappedRemoveSpec / PlanAuditSpec device) so the demote→reveal→prune
    * cascade fires NON-VACUOUSLY inside the driver-gated body at the
    * gate's sf — at cap 3 no sf bucket caps out, the probe set is
    * empty, and the store scan short-circuits on any layout (q124's
    * documented declare-vs-fire note), which would make the
    * registered prune unfalsifiable. */
  private[graft] val Q141Cap = 2

  /** The registered RANGE-LOCAL takedown (r16 VERDICT task 3): q124's
    * recurring takedown where the removal batch is a contiguous doc_id
    * range — the legal/licensing ingest-range shape (a crawl snapshot,
    * a licensed source, a date-ranged ingest all arrive id-local).
    * Same artifact recipe (at [[Q141Cap]]), same fold; what differs is
    * that the signature store's partition prune FIRES inside the
    * driver-gated body: demotions fire at this cap (3 at sf0.01), the
    * probe set's pids cover only the range's neighborhood, and the
    * store scan reads a partition subset (r17 censuses
    * recordsRead on this registered body), where q124's hash-spread
    * batch touches every partition (its documented floor). The oracle
    * is the same capped rebuild over the survivors — outside-range
    * docs — so the driver's hash gate proves the pruned takedown ==
    * from-scratch rebuild cross-engine every round. */
  val q141 = Q(
    "q141_capped_cluster_remove_range",
    s"range-local takedown: contiguous doc_id-range removal prunes the partitioned signature store (cap $Q141Cap)",
    (s, dir) => {
      val (sig, banded, idx, pairs, standing, pidSize) =
        prepTake(s, dir, "prep141")(q124Arts(s, dir, Q141Cap))
      val (lo, hi) = q141Range(s, dir)
      val rem = t(s, dir, "documents")
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"))
      clusters(removeFromCappedCluster(idx, banded, sig, pairs, standing, rem,
        Q141Cap, Some(pidSize)))
    },
    Some(cappedRemoveOracle(
      """doc_id < (SELECT ((max(doc_id) + 1) * 2) // 5 FROM documents)
           OR doc_id >= (SELECT ((max(doc_id) + 1) * 3) // 5 FROM documents)""",
      Q141Cap)),
    prepare = Some((s, dir) =>
      prepPut(s, dir, "prep141", q124Arts(s, dir, Q141Cap))))

  /** Mid-list registrations only. q88/q90/q91/q92/q93/q94 (and later
    * tail entries) are NOT missing: they register via tail-appends in
    * Registry (order stability — the driver's per-query bench history
    * is keyed by position). Add new dedup queries to the Registry
    * tail, not here. */
  val all: Seq[Q] = Seq(q50, q51, q52, q53, q54, q73)
}
