package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for the training-data pipeline surface
  * (SURVEY.md B6/B7): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design:
  *  - exact dedup is one hash aggregate on the content fingerprint;
  *  - MinHash/LSH turns all-pairs O(n^2) into per-bucket candidate joins —
  *    the only shuffles are (doc -> shingle explode -> groupBy doc) for
  *    signatures and the band-key self-join, both key-partitioned;
  *  - SimHash reduces a document to one 32-bit integer per doc; near-dup
  *    candidates come from small hamming distance, verified pairwise;
  *  - n-gram Jaccard prunes by shared-shingle inverted index (docs with
  *    no common shingle never meet).
  *
  * All hashes route through [[graft.functions.GraftFunctions.hash60]] so
  * every stage is exactly reproducible in the DuckDB oracle.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (doc, shingle) inverted-index rows, distinct per doc. Tokens are
    * projected into a real column before shingling so the interpreted
    * shingle lambda references a bound attribute instead of re-tokenizing
    * per position. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("__ts"))
      .select(col(idCol), explode(TextAnalysis.shinglesFromTokens(col("__ts"), n)).as("shingle"))
      .distinct()

  /** Corpus-wide repeated-substring removal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): cut every token
    * position covered by a `w`-token span that occurs in at least
    * `minDocs` DISTINCT documents, and rebuild each document's text from
    * the surviving tokens (space-joined, original order).
    *
    * Returns (idCol, n_tokens: int, n_removed: long, cleaned: string).
    * Docs whose every token is cut (or that were empty) yield
    * cleaned = "".
    *
    * Scale contract: one partial-agg'd gram aggregate (distinct-doc
    * count), one equi-join back to occurrences, one position anti-join,
    * one per-doc ordered rebuild — all linear in corpus size, no
    * pairwise document comparison anywhere. The per-doc rebuild holds
    * one document's surviving tokens in the aggregation buffer (docs are
    * bounded; the corpus is not). Oracle-checked end to end in q125
    * (cleaned text md5-compared against a DuckDB re-derivation).
    */
  def removeRepeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      minDocs: Int = 2): DataFrame = {
    require(w >= 2, s"span width must be >= 2 tokens, got $w")
    val toksDf = docs.select(col(idCol), tokens(col(textCol)).as("__ts"))
    val occ = toksDf
      .filter(size(col("__ts")) >= w)
      .select(col(idCol), col("__ts"),
        explode(sequence(lit(1), size(col("__ts")) - (w - 1))).as("__p"))
      .select(col(idCol), col("__p"),
        array_join(slice(col("__ts"), col("__p"), lit(w)), " ").as("__gram"))
    val dup = occ.groupBy("__gram")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs).select("__gram")
    val covered = occ.join(dup, "__gram")
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + (w - 1))).as("__tp"))
      .distinct()
    val tokPos = toksDf
      .select(col(idCol), posexplode(col("__ts")).as(Seq("__tp0", "__tok")))
      .select(col(idCol), (col("__tp0") + 1).as("__tp"), col("__tok"))
    val rebuilt = tokPos.join(covered, Seq(idCol, "__tp"), "left_anti")
      .groupBy(idCol)
      .agg(expr("array_join(transform(array_sort(collect_list(struct(__tp, __tok))), x -> x.__tok), ' ')")
        .as("__cleaned"))
    val nRemoved = covered.groupBy(idCol).agg(count(lit(1)).as("__nrem"))
    toksDf.select(col(idCol), size(col("__ts")).as("n_tokens"))
      .join(nRemoved, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol), col("n_tokens"),
        coalesce(col("__nrem"), lit(0L)).as("n_removed"),
        coalesce(col("__cleaned"), lit("")).as("cleaned"))
  }

  /** Modulus for the affine minhash family (2^31 - 1, prime). */
  val MinhashPrime = 2147483647L

  /** Affine family parameters (a_i in [1, P-1], b_i in [0, P-1]), derived
    * from md5 so the oracle can inline the identical constants. */
  def minhashParams(n: Int): Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map(i =>
      (hash60Local(md, s"mha:$i") % (MinhashPrime - 1) + 1, hash60Local(md, s"mhb:$i") % MinhashPrime))
  }

  /** MinHash signature: one row per doc, columns mh_0..mh_{numHashes-1}.
    * The textbook construction — ONE base hash per shingle, then cheap
    * affine transforms (a_i*h + b_i) mod P per hash function — instead of
    * numHashes independent digests (12x fewer md5s; measured ~2.5x faster
    * end-to-end at sf0.1). base < P and a < P keep a*base < 2^62: no
    * overflow in either engine.
    */
  def minhashSignatures(index: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val base = hash60(col("shingle")) % MinhashPrime
    val aggs = minhashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((base * a + b) % MinhashPrime).as(s"mh_$i")
    }
    index.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature -> (band, key) rows; docs sharing a key in any
    * band are near-dup candidates. bands*rows must equal numHashes.
    */
  def lshBands(sig: DataFrame, idCol: String, bands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("_", (0 until rows).map(j => col(s"mh_${b * rows + j}")): _*).as("key"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs (a < b) with the number of bands they collide in. */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame =
    bandPairs(bandsDf, bandsDf, idCol, self = true)

  /** Cross-corpus candidate pairs — the decontamination shape: find
    * documents of corpus A (e.g. a training crawl) near-duplicating any
    * document of corpus B (e.g. evaluation benchmarks). Same band-key
    * equi-join as [[lshCandidates]] but across two band sets, so the cost
    * is driven by true cross-corpus collisions, never |A|×|B|. At 100 TB
    * the benchmark side is tiny and its band table broadcasts.
    */
  def lshCrossCandidates(bandsA: DataFrame, bandsB: DataFrame, idCol: String): DataFrame =
    bandPairs(bandsA, bandsB, idCol, self = false)

  private def bandPairs(bandsA: DataFrame, bandsB: DataFrame, idCol: String, self: Boolean): DataFrame =
    CandidateJoin.pairs(
      bandsA.select(col(idCol).as("a"), col("band"), col("key")),
      bandsB.select(col(idCol).as("b"), col("band"), col("key")),
      Seq("band", "key"), self, CandidateJoin.DistinctKeys("band", "n_shared_bands"))

  /** Exact n-gram cross-corpus contamination — the PRECISION complement
    * of [[lshCrossCandidates]] and the standard eval-decontamination
    * method (flag a training document when it shares >= minShared exact
    * n-grams with any benchmark document). One equi-join on the shingle
    * key: the benchmark index is tiny at any scale (it is the eval set)
    * and broadcasts, so the training corpus streams through once with no
    * shuffle of its own; output cost tracks true contamination.
    *
    * @return (a = train id, b = benchmark id, n_shared) with
    *         n_shared >= minShared
    */
  def ngramContamination(
      trainIndex: DataFrame,
      benchIndex: DataFrame,
      idCol: String,
      minShared: Long): DataFrame = {
    val t = trainIndex.select(col(idCol).as("a"), col("shingle"))
    val b = benchIndex.select(col(idCol).as("b"), col("shingle"))
    t.join(broadcast(b), "shingle")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact pairwise n-gram Jaccard over the shared-shingle candidates:
    * |A ∩ B| / (|A| + |B| - |A ∩ B|).
    *
    * `maxDf` is the stop-shingle cap (standard LSH hygiene): a shingle
    * present in more than maxDf documents is a stop-phrase that
    * contributes ~df² rows to the self-join while carrying no near-dup
    * signal — one ultra-common shingle would otherwise explode the join
    * at 100× scale. Capped shingles are dropped from the shingle universe
    * entirely (both the intersection and the per-doc counts), so when no
    * shingle exceeds the cap the result is bit-identical to the uncapped
    * run, and per-shingle join fan-out is bounded by maxDf².
    */
  def jaccardPairs(index: DataFrame, idCol: String, maxDf: Long = Long.MaxValue): DataFrame = {
    if (maxDf == Long.MaxValue) {
      // uncapped exact path: inverted-index self-join
      val counts = index.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
      CandidateJoin.pairs(
          index.select(col(idCol).as("a"), col("shingle")),
          index.select(col(idCol).as("b"), col("shingle")),
          Seq("shingle"), self = true, CandidateJoin.AllKeys("inter"))
        .join(counts.select(col(idCol).as("a"), col("n_sh").as("ca")), "a")
        .join(counts.select(col(idCol).as("b"), col("n_sh").as("cb")), "b")
        .withColumn("jacc",
          col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
    } else {
      // capped path, fused: ONE aggregation per shingle collects its
      // posting list into a bounded buffer (graft_capped_collect holds at
      // most maxDf+1 longs per group however hot the shingle — a group
      // that fills the buffer is thereby over-cap and dropped). Pairs are
      // then generated per posting list with an index-aware HOF slice
      // (eval sorts ids, so x < y by construction; fan-out bounded by
      // maxDf²/2) — no self-join of the index, no separate df pass, and
      // no unbounded collect anywhere.
      graft.plans.GraftExtensions.ensureRegistered(index.sparkSession)
      val cap = math.min(maxDf, Int.MaxValue - 1L).toInt
      val grouped = graft.Q.persistOnce(index
        .groupBy(col("shingle"))
        .agg(call_function(
          "graft_capped_collect", col(idCol).cast("long"), lit(cap + 1)).as("ids"))
        .filter(size(col("ids")) <= cap)
        .select(col("ids")))
      val counts = grouped
        .select(explode(col("ids")).as("__id"))
        .groupBy(col("__id"))
        .agg(count(lit(1)).as("n_sh"))
      val pairs = grouped
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1), y ->
            |    named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(counts.select(col("__id").as("a"), col("n_sh").as("ca")), "a")
        .join(counts.select(col("__id").as("b"), col("n_sh").as("cb")), "b")
        .withColumn("jacc",
          col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
    }
  }

  /** 32-bit SimHash over whitespace tokens (with multiplicity): bit b of
    * the result is set iff sum over tokens of (2*bit_b(hash)-1) > 0.
    * Computed by the single-buffer [[graft.plans.SimhashAgg]] aggregate
    * (one primitive counter array per group instead of 32 SUM columns);
    * semantics identical to the expression form, which the DuckDB oracle
    * still reproduces bit-for-bit.
    */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashN(docs, idCol, textCol, 32)

  /** 60-bit SimHash (the widest sketch [[graft.functions.GraftFunctions.hash60]]
    * yields) — the sketch to band at scale: 4 bands × 15 bits give 32,768
    * keys per band, so band buckets only collide for genuinely similar
    * sketches. A 32-bit sketch cannot be banded usefully (8×4-bit bands =
    * 16 keys/band degenerates to all-pairs on any corpus beyond ~1k docs).
    */
  def simhash60(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashN(docs, idCol, textCol, 60)

  /** Shared sketch pipeline: tokenize, hash each token once, fold the
    * per-bit votes in one aggregation buffer (one shuffle keyed on doc).
    */
  private def simhashN(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(docs.sparkSession)
    docs.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .withColumn("hv", hash60("sim", col("t")))
      .groupBy(col(idCol))
      .agg(call_function("graft_simhash", col("hv"), lit(bits)).as("simhash"))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = CandidateJoin.hamming(a, b)

  /** Default routing threshold for [[simhashTopPairs]]: 4M sketches
    * ≈ 64 MB of (id, hash) pairs — comfortably broadcastable; above it
    * the driver-collect path is replaced by [[simhashBandedTopPairs]].
    */
  val SimhashBroadcastLimit: Long = 4L * 1000 * 1000

  /** Top-k closest simhash pairs (a < b) by Hamming distance, ties broken
    * on (a, b).
    *
    * Plan shape: the sketch table is tiny relative to the corpus (one
    * long per document), so it is collected and broadcast; each partition
    * then scans its rows against the primitive array keeping a per-row
    * top-k heap, and only partition-local candidates reach the final
    * global top-k. Replaces a JoinedRow-materializing cross join
    * (measured ~4s -> sub-second on 5k docs / 12.5M pairs). A pair that
    * is globally top-k is necessarily within its left row's top-k, so
    * the two-phase select is exact. Past `broadcastLimit` sketches the
    * banded candidates of [[simhashBandedTopPairs]] are the scale path.
    *
    * @param sizeHint caller-known sketch count; when provided the guard
    *   skips its bounded probe job (`limit(budget+1).count`) entirely.
    *   NOTE the above-budget result is NOT an exact top-k: the banded
    *   route only finds pairs at Hamming distance < bands (pigeonhole
    *   recall bound) — more-distant pairs the exact path would rank are
    *   undiscoverable by construction. The switch is logged.
    */
  def simhashTopPairs(
      sketches: DataFrame,
      idCol: String,
      hashCol: String,
      k: Int,
      broadcastLimit: Long = SimhashBroadcastLimit,
      sizeHint: Option[Long] = None): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val ds = sketches.select(col(idCol).cast("long"), col(hashCol).cast("long")).as[(Long, Long)]
    // Size guard: beyond the broadcast budget the all-pairs scan is both
    // an OOM (driver array) and quadratic work — route to the banded
    // candidate join, which finds every pair at Hamming distance < bands
    // without materializing the sketch table anywhere.
    // 32-bit sketches band poorly (see simhash60 doc) — 4×8-bit bands is
    // the best available OOM-safe route here; corpora that actually hit
    // this guard should carry simhash60 sketches and band those instead.
    val n = sizeHint.getOrElse(ds.limit((broadcastLimit + 1).min(Int.MaxValue).toInt).count())
    if (n > broadcastLimit) {
      log.warn(
        s"simhashTopPairs: $n sketches exceed the broadcast budget $broadcastLimit — " +
          "routing to simhashBandedTopPairs (recall bounded to Hamming distance < 4, " +
          "not an exact top-k)")
      return simhashBandedTopPairs(sketches, idCol, hashCol, k, bands = 4, bitsPerBand = 8)
    }
    val all = ds.collect().sortBy(_._1)
    val ids = all.map(_._1)
    val hs = all.map(_._2)
    val bc = spark.sparkContext.broadcast((ids, hs))
    ds.mapPartitions { it =>
      val (bIds, bHs) = bc.value
      val ord = Ordering.by[(Int, Long, Long), (Int, Long, Long)](identity)
      it.flatMap { case (a, ha) =>
        val heap = scala.collection.mutable.PriorityQueue.empty[(Int, Long, Long)](ord)
        var i = java.util.Arrays.binarySearch(bIds, a)
        i = math.abs(i + 1).max(i + 1) // first index with id > a
        while (i < bIds.length) {
          val d = java.lang.Long.bitCount(ha ^ bHs(i))
          val cand = (d, a, bIds(i))
          if (heap.size < k) heap.enqueue(cand)
          else if (ord.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
          i += 1
        }
        heap.iterator.map { case (d, x, y) => (x, y, d) }
      }
    }.toDF("a", "b", "dist")
      .orderBy(col("dist"), col("a"), col("b"))
      .limit(k)
  }

  /** Distributed top-k simhash pairs via banding — the scale path of
    * [[simhashTopPairs]]: the candidates of [[CandidateJoin.sketchPairs]]
    * over `bands` sub-keys of `bitsPerBand` bits (recall is exact for
    * dist ≤ bands-1; more distant pairs, which near-dup dedup doesn't want
    * anyway, may be missed), exact Hamming verify, global top-k. No
    * collect, no cross join.
    *
    * Key-space sizing is what makes this scale: with [[simhash60]] and
    * the default 4×15-bit bands there are 2^15 keys per band, so band
    * buckets only collide for genuinely similar documents and per-bucket
    * join fan-out stays quadratic-in-bucket, linear overall. (Banding a
    * 32-bit sketch with 4-bit keys has 16 buckets/band — measured to
    * degenerate to all-pairs cost already at 5k docs.)
    */
  def simhashBandedTopPairs(
      sketches: DataFrame,
      idCol: String,
      hashCol: String,
      k: Int,
      bands: Int = 4,
      bitsPerBand: Int = 15): DataFrame = {
    val s = sketches.select(col(idCol).cast("long").as("__id"), col(hashCol).cast("long").as("__h"))
    CandidateJoin.sketchPairs(s, "__id", "__h", bands, bitsPerBand)
      .select(col("a"), col("b"), hamming(col("ha"), col("hb")).cast("int").as("dist"))
      .orderBy(col("dist"), col("a"), col("b"))
      .limit(k)
  }
}
