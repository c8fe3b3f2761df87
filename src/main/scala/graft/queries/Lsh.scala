package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The near-dup family's LSH blocking core. Every near-dup query and
  * index or cluster maintenance operator in [[DedupOps]], and q98's
  * stream side, composes three kinds of value:
  *
  *   - a signature — [[MinHash]] over word 3-gram or char 4-gram
  *     hashes, [[SimHash64]], or [[SignLsh]] over embeddings — giving
  *     the per-doc relation and its banded(id, band, key) rows;
  *   - a candidate rule over the banded rows: the band self-join
  *     ([[selfJoin]]), the capped bucket bag ([[cappedPairs]]) or the
  *     capped index probe ([[indexSide]] + [[probe]]);
  *   - a [[Verify]]: sorted Jaccard, cosine or Hamming over the
  *     candidate pairs, with the best-match window for the ingest
  *     gates ([[bestMatch]]).
  *
  * The core returns relations that are not cached: each call site
  * keeps its own cache form. Every Spark stage has its DuckDB twin
  * here (the `o*` builders), so a query's oracle is the same
  * composition written in SQL.
  */
private[graft] object Lsh {

  /** Prime modulus of the universal hashes, 2^31 - 1: products of two
    * residues stay below 2^62. */
  val P = 2147483647L

  /** The universal-hash constants (a_i, b_i), i < n, of the MinHash
    * permutations h_i = (a_i·h + b_i) mod P over one base hash. A
    * longer family extends a shorter one: constant i depends on i only. */
  def universal(n: Int): Seq[(Long, Long)] = (0 until n).map { i =>
    ((2654435761L * (2 * i + 1)) % P, (40503L * (i + 7) * (i + 7) + 2654435769L * i) % P)
  }

  private def keys(inc: Boolean): Seq[Column] =
    if (inc) Seq(col("doc_id"), col("incoming")) else Seq(col("doc_id"))

  // ---- signatures ----------------------------------------------------

  /** What a MinHash signature shingles. */
  sealed abstract class Gram {
    /** (doc_id[, incoming], u) over `docs`: each document's gram source,
      * kept only when it holds at least one gram. */
    def units(docs: DataFrame, inc: Option[Column] = None): DataFrame
    /** The distinct gram h60 hashes of the unit column. */
    def hashes: Column
    /** Oracle: the source CTE, and the (doc_id, gram) row subquery the
      * hashed CTE reads, with its gram expression. */
    def oSource: String
    def oRows(alias: String): String
    def oGram: String
  }

  /** Word 3-gram shingles of the whitespace tokens (q34's shingling).
    * The split is projected on its own, before the shingles: a
    * `transform` lambda is interpreted, so an expression it referenced
    * inline would re-evaluate once per element access (an inlined
    * split() made the shingle build O(tokens²·len)). */
  case object Word3 extends Gram {
    def units(docs: DataFrame, inc: Option[Column]): DataFrame =
      docs.select((col("doc_id") +: inc.map(_.as("incoming")).toSeq) :+
          split(trim(col("text")), " +").as("tk"): _*)
        .where(size(col("tk")) >= 3)
    def hashes: Column = shingleH60Udf(3)(col("tk"))
    def oSource: String =
      """sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents)
      |  WHERE len(toks) >= 3)""".stripMargin
    def oRows(alias: String): String =
      s"(SELECT doc_id, unnest(sh) AS shingle FROM sh)$alias"
    def oGram: String = "shingle"
  }

  /** Char 4-grams of the alnum-space-lowered text (q53's grams). */
  case object Char4 extends Gram {
    def units(docs: DataFrame, inc: Option[Column]): DataFrame =
      docs.select((col("doc_id") +: inc.map(_.as("incoming")).toSeq) :+
          alnumSpaceLowerUdf(col("text")).as("t"): _*)
        .where(length(col("t")) >= 4)
    def hashes: Column = gram4H60Udf(col("t"))
    def oSource: String =
      """norm AS (
        SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS t
        FROM documents)"""
    def oRows(alias: String): String =
      s"""(SELECT doc_id, t, unnest(range(1, length(t) - 2)) AS i
              FROM norm WHERE length(t) >= 4)$alias"""
    def oGram: String = "substring(t, i, 4)"
  }

  /** How an oracle's signature CTEs see the corpus: every document, the
    * documents a `keep` predicate leaves, or every document tagged by
    * an `incoming` predicate. */
  sealed trait Split
  case object AllDocs extends Split
  final case class Keep(where: String) extends Split
  final case class Tag(incoming: String) extends Split

  /** MinHash over `gram` hashes: bands × rows universal-hash minima
    * per document, one band key per band (its rows' minima joined by
    * ','). Each gram is md5'd once; the minima are codegen'd `min`
    * aggregates in one groupBy(doc), so the signature is one shuffle
    * with map-side partial aggregation. */
  final case class MinHash(gram: Gram, bands: Int, rows: Int) {
    val ab: Seq[(Long, Long)] = universal(bands * rows)

    /** (doc_id[, incoming], h): one row per distinct gram hash mod P. */
    def hashed(units: DataFrame, inc: Boolean = false): DataFrame =
      units.select(keys(inc) :+ explode(gram.hashes).as("h0"): _*)
        .select(keys(inc) :+ (col("h0") % P).as("h"): _*)

    /** Per-doc (doc_id[, incoming], m0…, [hs]): the minima when `mins`,
      * and with `sets` the sorted distinct hash set the verify reads. */
    def sig(hashed: DataFrame, sets: Boolean, inc: Boolean = false,
        mins: Boolean = true): DataFrame = {
      val ms = if (!mins) Nil else ab.zipWithIndex.map { case ((a, b), i) =>
        min((lit(a) * col("h") + lit(b)) % P).as(s"m$i") }
      val aggs = if (sets) ms :+ sort_array(collect_set(col("h"))).as("hs") else ms
      hashed.groupBy(keys(inc): _*).agg(aggs.head, aggs.tail: _*)
    }

    /** [[sig]] straight from a documents relation. */
    def sigOf(docs: DataFrame, sets: Boolean, inc: Option[Column] = None): DataFrame =
      sig(hashed(gram.units(docs, inc), inc.isDefined), sets, inc.isDefined)

    /** banded(doc_id[, incoming], band, key): one row per (doc, band). */
    def banded(sig: DataFrame, inc: Boolean = false): DataFrame =
      sig.select(keys(inc) :+ expr((0 until bands).map { bnd =>
        val key = (0 until rows).map(r => s"m${bnd * rows + r}")
          .mkString("concat_ws(',', ", ", ", ")")
        s"$bnd, $key"
      }.mkString(s"stack($bands, ", ", ", ") as (band, key)")): _*)

    /** The per-row form for a stream, which must not shuffle: the fused
      * word-3 kernel [[minhashSigUdf]] gives (hs, mins), bit-identical
      * to [[sig]]'s aggregates, and [[rowKeys]] bands its minima. */
    def rowSig(tk: Column): Column = {
      require(gram == Word3, "the per-row signature kernel shingles word 3-grams")
      minhashSigUdf(3, ab, P)(tk)
    }
    def rowKeys(mins: Column): Column = array((0 until bands).map { bnd =>
      concat_ws(",", (0 until rows).map(r => element_at(mins, bnd * rows + r + 1)): _*)
    }: _*)

    // Oracle twins.
    def oMins: String = ab.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $P) AS m$i" }.mkString(",\n          ")

    def oBandRows(inc: Boolean = false): String = (0 until bands).map { bnd =>
      val key = (0 until rows).map(r => s"CAST(m${bnd * rows + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id${if (inc) ", incoming" else ""}, $bnd AS band, $key AS key FROM sig"
    }.mkString("\n        UNION ALL ")

    /** The source, split, hashed, sig and banded CTEs (no WITH). */
    def oSig(split: Split, sets: Boolean): String = {
      val h = s"${oH60(gram.oGram)} % $P AS h"
      val (splitCte, hashedBody) = split match {
        case AllDocs => (Nil, s"SELECT doc_id, $h\n          FROM ${gram.oRows("")}")
        case Keep(where) => (Seq(oCte("keep", s"SELECT doc_id FROM documents\n          WHERE $where")),
          s"SELECT s.doc_id, $h\n          FROM ${gram.oRows(" s")}\n          JOIN keep USING (doc_id)")
        case Tag(incoming) => (Seq(oCte("spl", s"SELECT doc_id, $incoming AS incoming\n          FROM documents")),
          s"SELECT s.doc_id, incoming, $h\n          FROM ${gram.oRows(" s")}\n          JOIN spl ON s.doc_id = spl.doc_id")
      }
      val inc = split.isInstanceOf[Tag]
      val k = if (inc) "doc_id, incoming" else "doc_id"
      val sigCols = if (sets) s"$k,\n          $oMins,\n          list_sort(list(DISTINCT h)) AS hs"
        else s"$k, $oMins"
      (gram.oSource +: splitCte ++: Seq(oCte("hashed", hashedBody),
        oCte("sig", s"SELECT $sigCols\n          FROM hashed GROUP BY $k"),
        oCte("banded", oBandRows(inc)))).mkString(",\n        ")
    }
  }

  /** 64-bit SimHash: bit b is the majority vote of bit b over the
    * distinct tokens' md5 bits, kept as two non-negative 32-bit halves
    * (shi, slo) so every shift, xor and bit_count stays in signed
    * BIGINT range in both engines; bands are bandBits-wide slices.
    * `bandBits` must divide 32. */
  final case class SimHash64(bandBits: Int) {
    require(bandBits > 0 && 32 % bandBits == 0, s"bandBits must divide 32, got $bandBits")
    private val bandsPerHalf = 32 / bandBits
    private val nBands = 2 * bandsPerHalf
    private val mask = (1L << bandBits) - 1

    /** (doc_id, shi, slo) over `docs`: 64 codegen'd conditional sums in
      * one groupBy, then the vote. */
    def sketch(docs: DataFrame): DataFrame = {
      val hashed = docs
        .select(col("doc_id"),
          explode(array_distinct(split(trim(col("text")), " +"))).as("tk"))
        .select(col("doc_id"), md5(col("tk")).as("m"))
        .select(col("doc_id"),
          conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("hhi"),
          conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("hlo"))
      val bitSums =
        (0 until 32).map(b =>
          sum((shiftright(col("hhi"), b) % 2).cast("long")).as(s"hi$b")) ++
        (0 until 32).map(b =>
          sum((shiftright(col("hlo"), b) % 2).cast("long")).as(s"lo$b"))
      val counted = hashed.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), bitSums: _*)
      def vote(pfx: String) = (0 until 32).map(b =>
        when(col(s"$pfx$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      counted.select(col("doc_id"), vote("hi").as("shi"), vote("lo").as("slo"))
    }

    private def band(j: Int) =
      (if (j < bandsPerHalf) "shi" else "slo", (j % bandsPerHalf) * bandBits)

    def banded(sketch: DataFrame): DataFrame =
      sketch.select(col("doc_id"), expr((0 until nBands).map { j =>
        val (src, sh) = band(j)
        s"$j, shiftright($src, $sh) & $mask"
      }.mkString(s"stack($nBands, ", ", ", ") as (band, key)")))

    /** The hashed, counted, base and banded CTEs (no WITH). */
    def oSig: String = {
      val bitSums =
        ((0 until 32).map(b => s"sum((hhi >> $b) & 1) AS hi$b") ++
         (0 until 32).map(b => s"sum((hlo >> $b) & 1) AS lo$b"))
          .mkString(",\n          ")
      def vote(pfx: String) = (0 until 32).map(b =>
        s"CASE WHEN $pfx$b * 2 > n THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END")
        .mkString(" + ")
      val bandRows = (0 until nBands).map { j =>
        val (src, sh) = band(j)
        s"SELECT doc_id, $j AS band, ($src >> $sh) & $mask AS key FROM base"
      }.mkString("\n        UNION ALL ")
      Seq(oCte("hashed", """SELECT doc_id,
          CAST(('0x' || substring(m, 1, 8)) AS BIGINT) AS hhi,
          CAST(('0x' || substring(m, 9, 8)) AS BIGINT) AS hlo
        FROM (SELECT doc_id, md5(tk) AS m
              FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), ' +'))) AS tk
                    FROM documents))"""),
        oCte("counted", s"SELECT doc_id, count(*) AS n,\n          $bitSums\n        FROM hashed GROUP BY doc_id"),
        oCte("base", s"SELECT doc_id, ${vote("hi")} AS shi, ${vote("lo")} AS slo FROM counted"),
        oCte("banded", bandRows)).mkString(",\n      ")
    }
  }

  /** Embedding width the sign-LSH hyperplanes are drawn for. */
  private val EmbDim = 64

  /** Deterministic Rademacher (±1) hyperplane matrix shared by the
    * Spark kernel and the generated oracle SQL: signs(j)(i) is the
    * sign of dim i in hyperplane j, a splitmix64 bit-mix of the flat
    * index — no RNG state, both engines see the same literals (the
    * SQL text is generated from this very array). Random ±1 entries
    * are a standard sign-LSH instantiation (Charikar STOC'02 uses
    * Gaussian hyperplanes; Rademacher entries give the same
    * angle-concentration behavior and stay exactly representable). */
  private def rademacherSigns(planes: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(planes, dim) { (j, i) =>
      var z = j.toLong * dim + i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      if ((z & 1L) == 0L) 1 else -1
    }

  /** Sign-LSH over embeddings: `bands` tables of `bits` Rademacher
    * hyperplanes each; a band key's bit r is sign(Σᵢ s·vᵢ) for
    * hyperplane band·bits + r. */
  final case class SignLsh(bands: Int, bits: Int) {
    private lazy val signs = rademacherSigns(bands * bits, EmbDim)

    /** JIT kernel: all band keys of one vector in one pass, the dot
      * products accumulated in doubles in index order — the same
      * sequential fold the generated oracle expression performs, so the
      * signs agree bit-for-bit. */
    private def keysUdf = {
      val (sg, nb, nr) = (signs, bands, bits)
      udf { (v: Seq[Float]) =>
        val a = v.toArray // LinearSeq guard: indexed access below
        // Dimension contract: the hyperplanes are drawn for exactly
        // EmbDim components and the generated oracle SQL always sums
        // exactly EmbDim CAST(v[i]) terms (DuckDB yields NULL -> sign
        // bit 0 past the end of a short vector). A truncated projection
        // here would therefore DIVERGE silently between engines on a
        // non-64-dim corpus — fail loudly instead.
        require(a.length == EmbDim,
          s"sign-LSH expects $EmbDim-dim embeddings, got ${a.length}")
        val keys = new Array[Int](nb)
        var b = 0
        while (b < nb) {
          var key = 0
          var r = 0
          while (r < nr) {
            val s = sg(b * nr + r)
            var acc = 0.0
            var i = 0
            while (i < EmbDim) { acc += s(i) * a(i).toDouble; i += 1 }
            if (acc >= 0) key |= 1 << r
            r += 1
          }
          keys(b) = key
          b += 1
        }
        keys
      }
    }

    /** banded(name[, incoming], band, key) of the vectors `v` in `rel`,
      * the id projected as `id` and named `name` afterwards. */
    def banded(rel: DataFrame, v: Column, id: Column = col("vec_id"),
        name: String = "vec_id", inc: Boolean = false): DataFrame = {
      val k = if (inc) Seq(col("incoming")) else Nil
      rel.select((id +: k) :+ posexplode(keysUdf(v)): _*)
        .select((col(name) +: k) :+ col("pos").as("band") :+ col("col").as("key"): _*)
    }

    /** Oracle text of hyperplane j's projection: the same sequential
      * signed sum of CAST(v[i] AS DOUBLE) terms the kernel folds. */
    private def oProj(s: Array[Int]): String =
      s.zipWithIndex.map { case (sg, i) =>
        val term = s"CAST(v[${i + 1}] AS DOUBLE)"
        if (i == 0) { if (sg > 0) term else s"-$term" }
        else if (sg > 0) s" + $term" else s" - $term"
      }.mkString

    /** The banded CTE over `e` (no WITH). */
    def oBanded(inc: Boolean = false): String = oCte("banded", (0 until bands).map { b =>
      val key = (0 until bits).map { r =>
        s"CASE WHEN (${oProj(signs(b * bits + r))}) >= 0 THEN ${1 << r} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id${if (inc) ", incoming" else ""}, $b AS band, $key AS key FROM e"
    }.mkString("\n        UNION ALL "))
  }

  // ---- candidate rules -------------------------------------------------

  /** Band self-join: every pair sharing a (band, key), a < b, distinct. */
  def selfJoin(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Capped band buckets: one row per (band, key) with ids = the
    * bucket's ids sorted when it holds ≤ cap of them, else an empty
    * array (a tombstone). [[graft.functions.BoundedIdBag]]'s map-side
    * partial aggregation truncates a hot bucket at cap + 1 ids. */
  def buckets(banded: DataFrame, cap: Int, id: String = "doc_id"): DataFrame =
    banded.groupBy(col("band"), col("key"))
      .agg(graft.functions.BoundedCollect.boundedIdBag(cap)(col(id)).as("ids"))

  private val bucketPairsUdf = udf { (ids: Seq[Long]) =>
    for { i <- ids.indices; j <- (i + 1) until ids.size } yield (ids(i), ids(j))
  }

  /** The pairs inside the live buckets of a [[buckets]] table:
    * tombstones and singletons drop, pairs explode from the ≤cap-id
    * arrays with no join. */
  def bucketPairs(buckets: DataFrame, a: String = "doc_a", b: String = "doc_b"): DataFrame =
    buckets.where(size(col("ids")) >= 2)
      .select(explode(bucketPairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as(a), col("p._2").as(b))
      .distinct()

  /** Capped bucket bag: one exchange (the bounded groupBy) replaces
    * the band self-join, and a hot bucket costs O(cap²), never O(b²). */
  def cappedPairs(banded: DataFrame, cap: Int, id: String = "doc_id",
      a: String = "doc_a", b: String = "doc_b"): DataFrame =
    bucketPairs(buckets(banded, cap, id), a, b)

  /** The probe side of a capped index: (band, key, `as`) per id of
    * every live bucket. */
  def indexSide(banded: DataFrame, cap: Int, id: String, as: String): DataFrame =
    buckets(banded, cap, id).where(size(col("ids")) >= 1)
      .select(col("band"), col("key"), explode(col("ids")).as(as))

  /** Index probe: the incoming banded rows join the index side on
    * (band, key); distinct (inc, idx) pairs. */
  def probe(banded: DataFrame, index: DataFrame, id: String, inc: String,
      idx: String): DataFrame =
    banded.select(col(id).as(inc), col("band"), col("key"))
      .join(index, Seq("band", "key"))
      .select(col(inc), col(idx)).distinct()

  // ---- verifies --------------------------------------------------------

  /** An exact verify of candidate pairs: the per-doc columns it reads,
    * renamed per side, its score and the keep rule. */
  sealed abstract class Verify(val score: String) {
    /** `per`'s id as `as` with the columns the score reads, for side
      * `sfx` ("a" or "b"). */
    def side(per: DataFrame, id: String, as: String, sfx: String): DataFrame
    protected def value: Column
    protected def keep(c: Column): Column

    /** cand(a, b) joined to both sides, scored, kept. */
    def apply(cand: DataFrame, a: String, b: String, sa: DataFrame,
        sb: DataFrame): DataFrame =
      cand.join(sa, a).join(sb, b)
        .select(col(a), col(b), value.as(score))
        .where(keep(col(score)))

    /** [[apply]] with both sides read from one per-doc relation. */
    def pairs(per: DataFrame, cand: DataFrame, id: String = "doc_id",
        a: String = "doc_a", b: String = "doc_b"): DataFrame =
      apply(cand, a, b, side(per, id, a, "a"), side(per, id, b, "b"))
  }

  /** Exact Jaccard over the sorted hash sets `hs`, ≥ t. */
  final case class Jaccard(t: Double) extends Verify("jaccard") {
    def side(per: DataFrame, id: String, as: String, sfx: String): DataFrame =
      per.select(col(id).as(as), col("hs").as(s"hs_$sfx"))
    protected def value: Column = DedupOps.jaccardSorted(col("hs_a"), col("hs_b"))
    protected def keep(c: Column): Column = c >= t
  }

  /** Cosine over vectors `v` and norms `norm`, rounded to 4 dp, ≥ t;
    * the native sequential-fold dot product keeps the doubles equal to
    * the oracle's. */
  final case class Cosine(t: Double) extends Verify("cosine") {
    def side(per: DataFrame, id: String, as: String, sfx: String): DataFrame =
      per.select(col(id).as(as), col("v").as(s"v$sfx"), col("norm").as(s"n$sfx"))
    protected def value: Column =
      round(graft.plans.VecDotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 4)
    protected def keep(c: Column): Column = c >= t
  }

  /** Hamming distance of two [[SimHash64]] sketches, ≤ max. */
  final case class Hamming(max: Int) extends Verify("hamming") {
    def side(per: DataFrame, id: String, as: String, sfx: String): DataFrame =
      per.select(col(id).as(as), col("shi").as(s"h$sfx"), col("slo").as(s"l$sfx"))
    protected def value: Column = expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS INT)")
    protected def keep(c: Column): Column = c <= max
  }

  /** The ingest gates' per-incoming row: match count and the best
    * match (highest score, min-id tiebreak) of `verified(inc, idx,
    * score)`, as (id, n_matches, best_match, best_<score>). */
  def bestMatch(verified: DataFrame, inc: String, idx: String, score: String,
      id: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(inc))
    val wBest = wAll.orderBy(col(score).desc, col(idx))
    verified
      .select(col(inc), col(idx), col(score),
        count(lit(1)).over(wAll).as("n_matches"),
        row_number().over(wBest).as("rn"))
      .where(col("rn") === 1)
      .select(col(inc).as(id), col("n_matches"),
        col(idx).as("best_match"), col(score).as(s"best_$score"))
      .orderBy(col(id))
  }

  // ---- oracle builders, one per stage ------------------------------------

  /** One CTE: `name AS [MATERIALIZED] (body)`. */
  def oCte(name: String, body: String, materialized: Boolean = false): String =
    s"$name AS ${if (materialized) "MATERIALIZED " else ""}(\n        $body)"

  /** Capped buckets: the banded rows of buckets holding ≤ cap ids. */
  def oCap(name: String, id: String, cap: Int, where: String = ""): String =
    oCte(name, s"SELECT $id, band, key FROM banded$where\n        QUALIFY count(*) OVER (PARTITION BY band, key) <= $cap")

  /** Band self-join candidates over `src`. */
  def oSelfJoin(name: String, src: String, id: String = "doc_id",
      a: String = "doc_a", b: String = "doc_b", where: String = ""): String =
    oCte(name, s"""SELECT DISTINCT a.$id AS $a, b.$id AS $b
        FROM $src a JOIN $src b
          ON a.band = b.band AND a.key = b.key AND a.$id < b.$id$where""")

  /** Index-probe candidates: incoming banded rows against `keptidx`. */
  def oProbe(id: String, inc: String, idx: String): String =
    oCte("cand", s"""SELECT DISTINCT i.$id AS $inc, x.$id AS $idx
        FROM banded i JOIN keptidx x ON i.band = x.band AND i.key = x.key
        WHERE i.incoming""")

  /** Jaccard verify of `cand`(a, b) against `sig`'s hash sets. */
  def oJaccard(cand: String, a: String, b: String, t: Double,
      withScore: Boolean = true): String =
    s"""SELECT $a, $b${if (withScore) ", jaccard" else ""} FROM (
          SELECT $a, $b,
            round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
                  CAST(len(list_distinct(sa.hs || sb.hs)) AS DOUBLE), 4) AS jaccard
          FROM $cand JOIN sig sa ON $cand.$a = sa.doc_id
                    JOIN sig sb ON $cand.$b = sb.doc_id)
        WHERE jaccard >= $t"""

  /** Cosine verify of `cand`(a, b) against `e`'s vectors and norms. */
  def oCosine(a: String, b: String, t: Double): String =
    s"""SELECT $a, $b, cosine FROM (
          SELECT cand.$a, cand.$b,
            round(list_aggregate(list_transform(range(1, len(a.v) + 1),
              i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)), 'sum') /
              (a.norm * b.norm), 4) AS cosine
          FROM cand JOIN e a ON cand.$a = a.vec_id
                    JOIN e b ON cand.$b = b.vec_id)
        WHERE cosine >= $t"""

  /** [[bestMatch]] over the `ver` CTE. */
  def oBestMatch(inc: String, idx: String, score: String, id: String): String =
    s"""SELECT $inc AS $id, n_matches, $idx AS best_match,
          $score AS best_$score
        FROM (
          SELECT $inc, $idx, $score,
            count(*) OVER (PARTITION BY $inc) AS n_matches,
            row_number() OVER (PARTITION BY $inc
              ORDER BY $score DESC, $idx) AS rn
          FROM ver)
        WHERE rn = 1 ORDER BY $id"""

  /** The capped index over `banded`, recomputed: per (band, key) the
    * tombstone flag, kept count and kept ids. */
  def oIndexSlice(id: String, cap: Int): String =
    s"""${oCte("g", s"""SELECT band, key, count(*) AS n,
          string_agg(CAST($id AS VARCHAR), ',' ORDER BY $id) AS allids
        FROM banded GROUP BY band, key""")}
        SELECT band, key, n > $cap AS dropped,
          CASE WHEN n > $cap THEN CAST(0 AS BIGINT) ELSE n END AS n_kept,
          CASE WHEN n > $cap THEN '' ELSE allids END AS ids
        FROM g ORDER BY band, key"""

  /** Both directions of the (a, b) edges of `src`, for [[oClosure]]. */
  def oSym(a: String, b: String, src: String = "pairs"): String =
    s"SELECT $a AS a, $b AS b FROM $src\n        UNION ALL SELECT $b AS a, $a AS b FROM $src"

  /** Min-label closure over the `sym` edges as chained MATERIALIZED CTEs
    * (DuckDB inlines plain CTEs, so the chain would re-evaluate
    * exponentially): ten rounds is far past the diameter of near-dup
    * clusters, which are near-cliques, and `conv` counts the labels an
    * 11th round still moves, so a final select can assert convergence
    * instead of silently producing wrong clusters. */
  def oClosure(sym: String): String = {
    val steps = (1 to 11).map { i =>
      s"""l$i AS MATERIALIZED (
        SELECT v.k, least(v.lab, coalesce(min(n.lab), v.lab)) AS lab
        FROM l${i - 1} v
        LEFT JOIN sym e ON e.a = v.k
        LEFT JOIN l${i - 1} n ON n.k = e.b
        GROUP BY v.k, v.lab)"""
    }.mkString(",\n      ")
    s"""${oCte("sym", sym, materialized = true)},
      l0 AS MATERIALIZED (SELECT DISTINCT a AS k, a AS lab FROM sym),
      $steps,
      ${oCte("conv", "SELECT count(*) AS viol\n        FROM l11 n JOIN l10 p ON n.k = p.k WHERE n.lab <> p.lab")}"""
  }

  /** The error a closure oracle raises when `conv` is non-zero. */
  def oNotConverged(who: String): String =
    s"error('$who oracle: label propagation not converged in 10 rounds')"

  /** The cluster rollup over the closure: canonical (min) id, size and
    * members per label, erroring when the closure did not converge. */
  def oClusters(who: String, id: String = "canonical_id", n: String = "n_docs"): String =
    s"""SELECT CASE WHEN (SELECT viol FROM conv) > 0
               THEN ${oNotConverged(who)}
               ELSE min(k) END AS $id,
        count(*) AS $n,
        string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS members
      FROM l11 GROUP BY lab ORDER BY $id"""
}
