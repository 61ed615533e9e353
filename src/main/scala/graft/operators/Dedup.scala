package graft.operators

import graft.exec.Materialize
import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Deduplication operators for a training-data pipeline over `documents`.
 *
 * Scale shapes (the point of each variant):
 *  - exact: one hash-aggregate over the corpus — O(N) shuffle on the text
 *    key (at real scale: on a digest of it).
 *  - ngramJaccard: EXACT all-pairs Jaccard join via prefix filtering —
 *    each doc indexes only its rarest (1−t)·n+1 shingles, which provably
 *    preserves recall while a stop-shingle shared by millions of docs
 *    never enters the index; |A∩B| is then counted through hash joins
 *    (no arrays shipped).
 *  - minhashLsh: constant-size signatures + banded bucket join — the
 *    100 TB path where even the inverted index is too big. Candidates are
 *    confirmed with exact Jaccard, so precision is exact and recall is
 *    the standard LSH probability.
 *  - simhashPairs: 16-bit SimHash, banded into 4×4 bits: any pair within
 *    Hamming distance 3 shares ≥1 full band (pigeonhole), so the banded
 *    join finds EXACTLY the pairs a quadratic scan would at maxHamming≤3.
 *  - embeddingNearDup: cosine over embedding vectors; quadratic form here,
 *    LSH-bucketed form in [[Similarity]].
 */
object Dedup {

  /** Exact dedup groups: (keep_id = min doc_id per identical text, n_dups).
    *
    * The aggregation key is a DIGEST of the text — (md5, length), both
    * computed map-side — never the text itself: at 100 TB a groupBy(text)
    * ships every document's bytes through the exchange, while the digest
    * key shuffles 40 bytes per doc. Two texts collide only on equal md5
    * AND equal length (< 2^-80 at 10^12 docs — far below hardware error
    * rates); the (engine-neutral) DuckDB oracle groups by the same pair. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("digest"),
        length(col("text")).as("text_len"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .select(col("keep_id"), col("n_docs"))

  /** Per-doc shingle base: (doc_id, sh, nsh) for docs with ≥ 1 shingle.
    * A typed map over Hashes.shingles (which the SQL oracle mirrors
    * term-for-term), NOT a transform/concat_ws HOF column: Spark's
    * higher-order functions are CodegenFallback and interpret the lambda
    * per element — measured 6-10× slower than this flatMap for the same
    * output. */
  private def shingleBase(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = Hashes.shingles(t)
        if (sh.isEmpty) None else Some((id, sh, sh.length.toLong))
      }.toDF("doc_id", "sh", "nsh")
  }

  /** (a, b, jacc_i4): ALL document pairs with n-gram Jaccard ≥ threshold —
    * an EXACT similarity join via prefix filtering (Bayardo et al. WWW'07;
    * Xiao et al. WWW'08). Each doc indexes only its `nsh − ⌈t·nsh⌉ + 1`
    * globally rarest shingles (total order: df asc, shingle asc); any two
    * docs with Jaccard ≥ t provably share a prefix shingle, so the
    * prefix-to-prefix join has exact recall while candidate generation is
    * bounded by the rare end of the df distribution — a stop-shingle
    * shared by millions of docs sits at the END of every prefix order and
    * never enters the index. The threshold test is exact integer
    * arithmetic (1e4·inter ≥ t4·union), immune to double rounding at the
    * boundary, and verification never ships shingle arrays (see
    * [[jaccardCount]]). Replaces the df-capped inverted index that was
    * 83% of the round-1 bench (1.1M candidate pairs × array_intersect). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val t4 = math.round(threshold * 10000)
    val base = shingleBase(docs)
    // The inverted index feeds df-counting, the prefix window, both sides
    // of the verify probe and the size lookups — materialize it once
    // instead of re-deriving shingles 6x from the raw text.
    val inv = base.select(col("doc_id"), col("nsh"), explode(col("sh")).as("s"))
      .transform(Materialize(_))
    val dfs = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // per-doc window: groups are ≤ a few hundred shingles, never skewed
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
    // prefix length n − ⌈t·n⌉ + 1 with ⌈t·n⌉ done in exact integers
    val pref = inv.join(dfs, "s")
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= expr(s"nsh - ((nsh * $t4 + 9999) DIV 10000) + 1"))
      .select(col("s"), col("doc_id"))
      .transform(Materialize(_)) // joined against itself below
    val cand = pref.select(col("s"), col("doc_id").as("a"))
      .join(pref.select(col("s"), col("doc_id").as("b")), "s")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    jaccardCount(cand, inv, t4)
  }

  /** Exact-Jaccard confirmation of candidate (a, b) pairs WITHOUT shipping
    * shingle arrays through the join: expand each candidate by a's inverted
    * rows and probe b's index — |A∩B| becomes two codegen'd hash joins and
    * a count, O(|cand|·avg_nsh) rows instead of interpreted
    * array_intersect over long string arrays. */
  private def jaccardCount(cand: DataFrame, inv: DataFrame,
      thresholdI4: Long): DataFrame = {
    val ia = inv.select(col("doc_id").as("a"), col("s"))
    val ib = inv.select(col("doc_id").as("b"), col("s"))
    val sa = inv.select(col("doc_id").as("a"), col("nsh").as("na")).distinct()
    val sb = inv.select(col("doc_id").as("b"), col("nsh").as("nb")).distinct()
    val inter = cand.join(ia, "a").join(ib, Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    // exact integer threshold test; jacc_i4 emitted multiply-before-divide
    // ((1e4*inter)/union) for oracle-SQL bit parity
    inter.join(sa, "a").join(sb, "b")
      .filter(lit(10000L) * col("inter") >=
        lit(thresholdI4) * (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"),
        round(lit(10000.0) * col("inter") /
          (col("na") + col("nb") - col("inter")))
          .cast("long").as("jacc_i4"))
  }

  /** MinHash signatures (id, sig[numHashes]) via a typed map (integer
    * polynomial hashes — see Hashes; SQL-replicable). Docs with no
    * shingles (< 3 tokens) are DROPPED: they can't be near-dups of
    * anything, the oracle loses them via UNNEST, and their Long.MaxValue
    * signature sentinels would overflow the band-key fold under ANSI. */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = Hashes.shingles(t)
        if (sh.isEmpty) None else Some((id, Hashes.minhashSigOf(sh, numHashes)))
      }.toDF("doc_id", "sig")
  }

  /** LSH near-dup pairs: band the signature (rows = numHashes/bands per
    * band), bucket-join, confirm with exact Jaccard ≥ threshold. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    // empty-shingle docs are dropped inside minhashSignatures (they would
    // otherwise overflow the band-key fold under ANSI via the MaxValue
    // sentinels; the SQL oracle loses them via UNNEST)
    val sigs = minhashSignatures(docs, numHashes)
    // band key: polynomial fold of the band's rows, mod 2^40 so the fold
    // never overflows int64 (acc < 2^40, x P2 < 2^60). For rows = 2 the
    // mod is the identity (P2^2 < 2^40), which keeps the SQL oracle's
    // plain h0*P2 + h1 formula bit-identical. Key collisions only add
    // candidates, which the exact-Jaccard verify filters.
    val keyMod = 1L << 40
    val bandKey = (b: Int) => (0 until rows)
      .map(r => get(col("sig"), lit(b * rows + r)))
      .reduce((x, y) => pmod(x * lit(Hashes.P2) + y, lit(keyMod)))
    // all band keys in ONE pass over the signatures (explode of a struct
    // array) — a per-band union would recompute the signature map `bands`
    // times
    val bandRows = sigs
      .select(col("doc_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bandRows.select(col("band"), col("key"), col("doc_id").as("a"))
      .join(bandRows.select(col("band"), col("key"), col("doc_id").as("b")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    // NOTE: deliberately NOT checkpointed (unlike ngram's index) — the
    // verify probes recompute it lazily in parallel stages, which measures
    // ~30% faster here than a serial eager materialization.
    val inv = shingleBase(docs)
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("s"))
    jaccardCount(cand, inv, math.round(threshold * 10000))
  }

  /** Collapse near-duplicate PAIRS into survivor groups — what a dedup
    * pipeline actually emits: (doc_id, keep_id) for EVERY document,
    * keep_id = the smallest doc id in its near-dup connected component
    * (docs with no near-dups keep themselves). The pair graph rides the
    * same min-label kernel as CC; exactly `k` rounds (near-dup
    * components are short chains — k bounds their diameter) so the SQL
    * oracle unrolls identically. */
  def survivorsFixed(docs: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      .transform(Materialize(_))
    var state = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")).transform(Materialize(_))
    for (_ <- 1 to k) {
      val mins = sym.join(state, sym("src") === state("id"))
        .select(sym("dst").as("id"), col("comp").as("msg"))
        .groupBy("id").agg(min(col("msg")).as("msg"))
      state = state.join(mins, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("msg"), col("comp"))).as("comp"))
        .transform(Materialize(_))
    }
    docs.select(col("doc_id"))
      .join(state.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("keep_id"))
  }

  /** (doc_id, simhash) — 32-bit SimHash of widened token strhashes. */
  def simhashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, Hashes.simhash32(t.split(" ").toSeq)) }
      .toDF("doc_id", "simhash")
  }

  /** (a, b, hamming): pairs within Hamming distance maxHamming. Banding
    * into 4 bands of 8 bits guarantees (pigeonhole) that any pair with
    * ≤ 3 differing bits shares a full band, so the banded join returns
    * EXACTLY what a quadratic scan would at maxHamming ≤ 3 — without the
    * quadratic scan. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x8-bit banding guarantees recall only to 3")
    val sims = simhashes(docs)
    val banded = (0 until 4).map { b =>
      sims.select(col("doc_id"), col("simhash"), lit(b).as("band"),
        shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("key"))
    }.reduce(_ union _)
    val cand = banded.select(col("band"), col("key"),
        col("doc_id").as("a"), col("simhash").as("ha"))
      .join(banded.select(col("band"), col("key"),
        col("doc_id").as("b"), col("simhash").as("hb")), Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
    cand.filter(col("hamming") <= maxHamming)
  }

  /** (a, b, cos_i4): embedding near-duplicates with cosine ≥ threshold.
    * Quadratic baseline (fine to ~10^4 vectors); the LSH-bucketed scale
    * path is Similarity.lshNearDup. */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.3): DataFrame = {
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      Similarity.dot(col("embedding"), col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(lit(10000.0) * Similarity.dot(col("ea"), col("eb")) /
          (sqrt(col("na")) * sqrt(col("nb")))).cast("long").as("cos_i4"))
      .filter(col("cos_i4") >= math.round(threshold * 10000))
  }
}
