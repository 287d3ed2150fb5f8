package graft.operators

import java.security.MessageDigest

import graft.functions.GraftFunctions._
import graft.operators.CandidateJoin.{exactCosine, firstK, probes, topKNeighbors}
import graft.plans.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search (SURVEY.md B7/B43): brute-force cosine top-k
  * as the exact baseline, and a random-hyperplane LSH bucketed variant as
  * the scale path.
  *
  * Scale design: brute force broadcasts the (small) query set and streams
  * the candidate table once — a linear scan, the right baseline even on a
  * 1000-executor cluster. The LSH variant assigns every vector a bucket
  * from deterministic hyperplane signs, so the candidate join is
  * bucket-equi-partitioned (shuffle on a bucket key of 4 to 24 plane bits,
  * [[adaptivePlanes]], instead of a cross join); recall is tunable via
  * planes/probes. The candidate joins, multi-probe, re-attach and exact
  * score are [[CandidateJoin]]'s.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Deterministic pseudo-random hyperplane weights derived from md5 —
    * reproducible everywhere (including the SQL oracle, which inlines the
    * same constants). Values in [-1, 1] with 3 decimal digits.
    */
  def hyperplanes(planes: Int, dims: Int): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims)((p, d) => ((hash60Local(md, s"hp:$p:$d") % 2001) - 1000) / 1000.0)
  }

  /** Scale-adaptive LSH plane count: the smallest p in [minPlanes,
    * maxPlanes] with 2^p * targetBucket >= n, so bucket count tracks
    * corpus size and expected occupancy stays ~targetBucket. With a FIXED
    * plane count, within-bucket pair generation is Θ(n²/2^p) — the 10×
    * scale probe measured exponent 2.06 on q96 with p=4 — while adaptive
    * p keeps candidate volume ~ (p+1)·targetBucket·n (linearithmic).
    * Pure integer arithmetic (no log2 float) so the SQL oracle mirror
    * (`range(minPlanes, maxPlanes+1)` + `MIN(p) WHERE (1<<p)*target >= n`)
    * computes the identical count on every engine.
    *
    * maxPlanes raised 16 → 24 in r14: the 16-plane ceiling re-admits
    * linear occupancy growth past 2^16·64 ≈ 4.2M vectors — squarely
    * below a 100 TB embedding corpus — while 2^24·64 ≈ 10⁹ covers the
    * design point. The marginal cost of a plane is one 64-dim dot in
    * the scan stage and one extra Hamming-1 probe; recall per plane
    * count is unchanged where n doesn't need the extra planes (the
    * count only grows when n does).
    */
  def adaptivePlanes(n: Long, targetBucket: Int = 64, minPlanes: Int = 4, maxPlanes: Int = 24): Int =
    (minPlanes to maxPlanes).find(p => (1L << p) * targetBucket >= n).getOrElse(maxPlanes)

  /** Should [[cosinePairsLsh]]/[[crossCosineLsh]] force their vector
    * re-attach sides to shuffled-hash joins? True exactly when the
    * estimated vector-table bytes exceed the SESSION's broadcast
    * threshold — past it Spark's default is a sort-merge join that sorts
    * the (p+1)·occupancy·n candidate frame per re-attach (measured: 30×
    * wall 57.6 s → 16.6 s, 100× 314 s → 72.6 s from the hints), below it
    * the hint would override the broadcast Spark correctly picks
    * (measured +1 s at 2000 vectors). r15: the boundary used to be a
    * hardcoded `n > 32768` that silently encoded "64-dim × ~300 B ≈ the
    * 10 MB default" — wrong the moment a session tunes
    * autoBroadcastJoinThreshold or the vectors widen; now it derives
    * from the live config and the estimated UnsafeRow width (id 8 B +
    * array header ~16 B + 8 B/dim + ~24 B row/null overhead). A
    * disabled threshold (≤ 0 = never broadcast) always hashes. */
  def reattachPastBroadcast(spark: org.apache.spark.sql.SparkSession,
      n: Long, dim: Int): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold <= 0 || n * (8L * dim + 48L) > threshold
  }

  /** Deterministic ±1 sign matrix (Achlioptas sparse-projection family),
    * derived from md5 so the SQL oracle re-derives it bit-for-bit. */
  def signMatrix(seed: String, outDims: Int, inDims: Int): Array[Array[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(outDims, inDims) { (j, i) =>
      if ((md.digest(s"$seed:$j:$i".getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
    }
  }

  /** ±1 random projection of a float-array embedding down to
    * `signs.length` dims, computed over the x1000-floored integer view of
    * the vector so the result is integer-exact cross-engine. One narrow
    * projection in the scan stage — no shuffle, no UDF; the 100 TB cost
    * is the read itself. The integer view loses <0.1% relative precision,
    * irrelevant for a distance-sketch whose own distortion is ~1/sqrt(d).
    */
  def randomProjectQuantized(vec: Column, signs: Array[Array[Int]]): Seq[Column] = {
    val q = transform(vec, e => floor(e.cast("double") * 1000))
    signs.toSeq.map { row =>
      val s = array(row.toIndexedSeq.map(v => lit(v.toLong)): _*)
      aggregate(zip_with(q, s, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    }
  }

  /** LSH bucket id (0 .. 2^planes-1) for a double-array embedding column:
    * bit p is set iff dot(v, hyperplane_p) > 0.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (w, p) =>
      val wCol = array(w.toIndexedSeq.map(lit): _*)
      when(dot(vec, wCol) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Brute-force top-k cosine neighbors of each query vector.
    *
    * @param queries    (qid, qvec) — small; broadcast
    * @param candidates (vec_id, vec)
    */
  def topKCosine(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    GraftExtensions.ensureRegistered(candidates.sparkSession)
    val q = queries.withColumn("qnrm", l2norm(col("qvec")))
    val c = candidates.withColumn("nrm", l2norm(col("vec")))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_r", exactCosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")))
    topKNeighbors(joined, k)
  }

  /** Per-vector int8 quantization scale: max(|x|)/127 (floored away from
    * zero so an all-zero vector quantizes to zeros instead of dividing by
    * zero). */
  private def qscale(v: Column): Column =
    greatest(array_max(transform(v, x => abs(x))), lit(1e-12)) / lit(127.0)

  private def quantize(v: Column, scale: Column): Column =
    // bind scale ONCE per row (the shinglesFromTokens array-wrap idiom):
    // call sites pass scale = qscale(v) — an O(d) aggregate — and
    // project-collapsing inlines it into the per-element lambda, turning
    // quantization O(d²) per row. Binding it as a lambda variable keeps
    // the pass O(d).
    flatten(transform(array(struct(v.as("v"), scale.as("s"))), p =>
      transform(p.getField("v"), x => round(x / p.getField("s")).cast("byte"))))

  /** Scalar-quantized (int8) top-k with exact rerank — the
    * memory-bandwidth scale path of [[topKCosine]].
    *
    * The scoring pass streams only `(vec_id, int8 vector, 2 floats)` — 4×
    * less scan bandwidth and cache footprint than the float corpus, which
    * is where a 100 TB ANN spends its time — scoring with the native
    * int8 kernel ([[graft.plans.IntDotProduct]]):
    * `cos ≈ sq·sc·dot_i8(qq, qc) / (|q|·|c|)` (norms exact, computed once
    * per vector). The top `k·oversample` approximate candidates per query
    * are then re-scored EXACTLY against the full-precision vectors
    * (id equi-join re-attaches them), so every emitted cos_r is exact;
    * quantization error only affects which tail candidates make the
    * oversampled cut (recall, pinned in the q110 contract + spec).
    */
  def topKCosineQuantized(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      oversample: Int = 4): DataFrame = {
    GraftExtensions.ensureRegistered(candidates.sparkSession)
    val q = queries
      .withColumn("qnrm", l2norm(col("qvec")))
      .withColumn("qs", qscale(col("qvec")))
      .withColumn("qq", quantize(col("qvec"), col("qs")))
      .select("qid", "qq", "qs", "qnrm")
    val c = candidates
      .withColumn("nrm", l2norm(col("vec")))
      .withColumn("cs", qscale(col("vec")))
      .withColumn("cq", quantize(col("vec"), col("cs")))
      .select("vec_id", "cq", "cs", "nrm") // the 4×-smaller scoring projection
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("approx_cos",
        col("qs") * col("cs") *
          call_function("graft_dot_i8", col("qq"), col("cq")) /
          (col("qnrm") * col("nrm")))
    val cands = firstK(scored, "qid", Seq(col("approx_cos").desc, col("vec_id")), k * oversample, "__r")
      .select("qid", "vec_id")
    val rerank = cands
      .join(candidates, "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("cos_r",
        exactCosine(col("qvec"), col("vec"), l2norm(col("qvec")), l2norm(col("vec"))))
    topKNeighbors(rerank, k)
  }

  /** LSH-bucketed top-k with multi-probe: each query scans its own bucket
    * plus all buckets at Hamming distance 1 (probing 1+planes of the
    * 2^planes buckets — the standard recall boost that costs probes/2^p of
    * the data instead of a second hash table). Same output shape as
    * [[topKCosine]]; recall-vs-cost is tunable via `planes`.
    */
  def topKCosineLsh(
      queries: DataFrame,
      candidates: DataFrame,
      planes: Array[Array[Double]],
      k: Int): DataFrame = {
    GraftExtensions.ensureRegistered(candidates.sparkSession)
    val qb = queries.withColumn("bucket", lshBucket(col("qvec"), planes))
      .withColumn("bucket", probes(col("bucket"), planes.length))
    val cb = candidates.withColumn("bucket", lshBucket(col("vec"), planes))
      .withColumn("nrm", l2norm(col("vec")))
    val joined = cb.join(broadcast(qb.withColumn("qnrm", l2norm(col("qvec")))), "bucket")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_r", exactCosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")))
    topKNeighbors(joined, k)
  }

  /** IVF-style bucketed ANN (the coarse-quantizer scale path): every
    * vector is assigned to its nearest centroid cell; each query probes
    * only its `nprobe` nearest cells. With C cells and nprobe probes the
    * candidate scan shrinks to ~nprobe/C of the corpus, and the cell
    * assignment is one broadcast pass over the data (no iteration — the
    * "training" here is centroid choice, which callers supply; a k-means
    * refinement would slot in upstream without changing this operator).
    *
    * Cell assignment ranks by round(cosine, 6) with centroid-id
    * tie-break, keeping assignments reproducible across engines.
    *
    * @param centroids (cid, cvec) — small; broadcast everywhere
    */
  def topKCosineIvf(
      queries: DataFrame,
      candidates: DataFrame,
      centroids: DataFrame,
      nprobe: Int,
      k: Int): DataFrame = {
    GraftExtensions.ensureRegistered(candidates.sparkSession)
    def cells(df: DataFrame, vec: String, id: String, keep: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(centroids))
        .withColumn("ccos", exactCosine(col(vec), col("cvec"), l2norm(col(vec)), l2norm(col("cvec"))))
      firstK(scored, id, Seq(col("ccos").desc, col("cid")), keep, "crank")
        .drop("cvec", "ccos", "crank")
    }
    val cCells = cells(candidates, "vec", "vec_id", keep = 1)
      .withColumnRenamed("cid", "cell")
      .withColumn("nrm", l2norm(col("vec")))
    val qCells = cells(queries, "qvec", "qid", keep = nprobe)
      .withColumnRenamed("cid", "cell")
      .withColumn("qnrm", l2norm(col("qvec")))
    val joined = cCells.join(broadcast(qCells), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_r", exactCosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")))
    topKNeighbors(joined, k)
  }

  /** All near-duplicate pairs (a<b) by cosine, with precomputed norms so
    * each vector's norm is calculated once, not per pair.
    *
    * NOTE: inherently O(n²), so the operator BOUNDS its own input: the
    * exact baseline is defined over the `cap` lowest-id vectors
    * (orderBy+limit executes as TakeOrderedAndProject, so the cross join's
    * sides are bounded whatever the corpus size — at most cap²/2 pairs).
    * Past the cap use [[cosinePairsLsh]], whose candidates come from the
    * hyperplane buckets instead of a cross join; exact-vs-pruned agreement
    * inside the cap is pinned in SimilaritySpec.
    */
  def cosinePairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      cap: Int = 4096): DataFrame = {
    GraftExtensions.ensureRegistered(vectors.sparkSession)
    // persistOnce: several registry queries (q63/q133/q142) bound the same
    // capped vector set, and Bench re-runs each — re-persisting the same
    // plan only raises a CacheManager warning, the cache itself is shared.
    val v = graft.Q.persistOnce(vectors.orderBy(col(idCol)).limit(cap).select(
      col(idCol), col(vecCol),
      l2norm(col(vecCol)).as("nrm")))
    // Truncation must not be silent: callers beyond q63's bounded baseline
    // would otherwise read "all pairs" when vectors were dropped. The
    // signal is the capped set itself hitting the cap — no separate probe
    // scan, and the count materializes the cache both cross-join sides
    // reuse, so the action pays for itself. (An input of exactly `cap`
    // vectors warns spuriously; the untruncated result is still exact.)
    if (v.count() >= cap) {
      log.warn(
        s"cosinePairs: input reached cap=$cap — pairs are computed over the $cap " +
          "lowest-id vectors only; use cosinePairsLsh for the unbounded-corpus path")
    }
    val a = v.select(col(idCol).as("a"), col(vecCol).as("va"), col("nrm").as("na"))
    val b = v.select(col(idCol).as("b"), col(vecCol).as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), exactCosine(col("va"), col("vb"), col("na"), col("nb")).as("cos_r"))
  }

  /** Candidate-pruned near-dup pairs — the scale path of [[cosinePairs]].
    *
    * Candidates are id pairs sharing an LSH bucket, with multi-probe
    * (each vector also probes the `planes` buckets at Hamming distance 1),
    * so highly-similar pairs split across adjacent buckets still meet.
    * The exact cosine is then computed only for candidates, and any pair
    * it does emit carries the identical cos_r the exact operator would —
    * pruning affects recall of *dissimilar* pairs only.
    *
    * Plan shape: one narrow pass to bucket ids, a bucket equi-join over
    * ids only (no vectors travel through the candidate join), distinct on
    * (a,b), then two id-equi joins to re-attach vectors+norms. No cross
    * join anywhere — candidate volume is sum over buckets of |bucket|²
    * instead of n². Pass `hashReattach` =
    * [[reattachPastBroadcast]] for a vector table past broadcast size (q96
    * does, with the n it already counts for [[adaptivePlanes]]); see
    * [[CandidateJoin.reattached]]. The self form of [[crossCosineLsh]].
    */
  def cosinePairsLsh(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Array[Array[Double]],
      hashReattach: Boolean = false): DataFrame = {
    GraftExtensions.ensureRegistered(vectors.sparkSession)
    val v = vectors.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    lshCosinePairs(v, "__id", v, "__id", self = true, planes, hashReattach)
  }

  /** Cross-corpus SEMANTIC decontamination candidates — the embedding
    * tier next to the n-gram tiers ([[Dedup.lshCrossCandidates]]' recall
    * path / [[Dedup.ngramContamination]]'s precision path): for each LEFT
    * (benchmark / eval) vector, the RIGHT (train) vectors sharing an LSH
    * bucket under multi-probe (Hamming-1 neighbors probed from the left
    * side), scored with the exact cosine. A train document paraphrasing
    * an eval item shares no 13-gram but sits at high cosine — this is the
    * join that catches it.
    *
    * Plan shape and exactness are [[cosinePairsLsh]]'s without the a < b
    * rule. The benchmark side is small by nature, so its probe fan-out
    * (planes + 1 buckets per eval vector) broadcasts; candidate volume
    * tracks true bucket collisions, never |eval| × |train|.
    * Output: (leftId, rightId, cos_r), one row per candidate pair.
    */
  def crossCosineLsh(
      left: DataFrame,
      leftId: String,
      leftVec: String,
      right: DataFrame,
      rightId: String,
      rightVec: String,
      planes: Array[Array[Double]],
      hashReattach: Boolean = false): DataFrame = {
    require(Seq(leftId, leftVec, rightId, rightVec).distinct.size == 4,
      "leftId/leftVec/rightId/rightVec must be four distinct column names")
    GraftExtensions.ensureRegistered(left.sparkSession)
    lshCosinePairs(left.select(col(leftId).as("a"), col(leftVec).as("__v")), "a",
        right.select(col(rightId).as("b"), col(rightVec).as("__v")), "b", self = false,
        planes, hashReattach)
      .select(col("a").as(leftId), col("b").as(rightId), col("cos_r"))
  }

  /** The LSH cosine pair join of `left` (leftId, __v) and `right`
    * (rightId, __v), the same frame for a self join; (a, b, cos_r).
    *
    * The bucketed projection feeds four plan branches (probes, bucket
    * partners, two vector re-attaches) and is NOT persisted: a branch
    * recomputes a narrow scan, while a corpus-sized cache would evict or
    * spill, and a lazy result cannot release a cache it still depends on.
    */
  private def lshCosinePairs(left: DataFrame, leftId: String, right: DataFrame, rightId: String,
      self: Boolean, planes: Array[Array[Double]], hashReattach: Boolean): DataFrame = {
    def bucketed(d: DataFrame, id: String): DataFrame = d.select(
      col(id), col("__v"),
      l2norm(col("__v")).as("__nrm"),
      lshBucket(col("__v"), planes).as("__bucket"))
    val l = bucketed(left, leftId)
    val r = if (self) l else bucketed(right, rightId)
    CandidateJoin
      .reattached(
        l.select(col(leftId).as("a"), probes(col("__bucket"), planes.length).as("__bucket")),
        r.select(col(rightId).as("b"), col("__bucket")),
        Seq("__bucket"), self,
        l.select(col(leftId).as("a"), col("__v").as("va"), col("__nrm").as("na")),
        r.select(col(rightId).as("b"), col("__v").as("vb"), col("__nrm").as("nb")),
        hashReattach)
      .select(col("a"), col("b"), exactCosine(col("va"), col("vb"), col("na"), col("nb")).as("cos_r"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the memory-bound ANN tier (Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  // Each vector is split into m subvectors, each quantized to one of
  // ksub learned centroids: dims x 4 bytes collapse to m single-byte
  // codes (64-dim float -> 4 bytes at m=4, a 64x reduction), and query
  // scoring becomes m table lookups per vector (asymmetric distance,
  // ADC) instead of a dims-long dot product. Codebooks are m x ksub x
  // (dims/m) doubles of driver state — bounded like the k-means means —
  // trained on a deterministic TakeOrdered sample. Encode and score are
  // scan-stage column expressions; candidate selection is a TakeOrdered;
  // the final exact rerank touches only k x oversample vectors.
  // ---------------------------------------------------------------------

  /** Train per-subspace codebooks on the `trainCap` lowest-id vectors
    * (deterministic, TakeOrderedAndProject — the k-means init shape).
    *
    * All m sub-quantizers train JOINTLY: training vectors explode into
    * (subspace, subvector) rows once, each Lloyd's round assigns every
    * row within its own subspace's centroid block and aggregates all
    * m x ksub x (dims/m) means in ONE action — m separate KMeans.fit
    * loops would pay m times the per-action overhead for the same
    * arithmetic (measured 3.2 s -> ~1 s on q143). Driver state stays
    * m x ksub x (dims/m) doubles.
    */
  def pqTrain(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iters: Int,
      trainCap: Int = 1024): Seq[Array[Array[Double]]] = {
    GraftExtensions.ensureRegistered(vectors.sparkSession)
    val train = vectors.orderBy(col(idCol)).limit(trainCap)
      .select(col(idCol), col(vecCol)).persist()
    // init: the ksub lowest-id vectors seed every subspace — one collect,
    // which also carries the dimensionality (no separate dims job).
    val seed = train.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Double](0).toArray)
    require(seed.length >= 1, "empty training set")
    val dims = seed.head.length
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      Array.tabulate(ksub)(c => seed(c % seed.length).slice(j * sub, (j + 1) * sub))
    }
    val ex = train.select(explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col(vecCol), j * sub + 1, sub).as("sv"))
      }: _*)).as("e"))
      .select(col("e.j").as("j"), col("e.sv").as("sv"))
    for (_ <- 1 to iters) {
      // per-row argmin within the row's own subspace block
      val cell = (0 until m).foldRight(lit(-1)) { (j, acc) =>
        when(col("j") === j, pqAssign(col("sv"), books(j))).otherwise(acc)
      }
      val sums = ex.withColumn("cell", cell)
        .select(col("j"), col("cell"), posexplode(col("sv")).as(Seq("d", "v")))
        .groupBy("j", "cell", "d")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect() // m x ksub x sub bounded rows — never data rows
      sums.foreach { r =>
        books(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDouble(3) / r.getLong(4) // empty cells keep their centroid
      }
    }
    train.unpersist()
    books.toSeq
  }

  /** Nearest centroid of one subspace WITHOUT the per-row |v|² term:
    * argmin_c |v−c|² = argmin_c (−2⟨v,c⟩ + |c|²), so each centroid costs
    * one dot product instead of two — and the row's self-dot isn't
    * re-expanded ksub times in the codegen tree (the full assignStruct
    * tripled q143's wall-clock on expression size alone). */
  private def pqAssign(sv: Column, book: Array[Array[Double]]): Column = {
    val scored = book.zipWithIndex.map { case (c, i) =>
      val cCol = array(c.toIndexedSeq.map(lit): _*)
      struct(
        round(lit(c.map(x => x * x).sum) -
          lit(2.0) * call_function("graft_dot", sv, cCol), 9).as("d"),
        lit(i).as("cell"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("cell")
  }

  /** Scan-stage encoder: array of m codes (nearest sub-centroid each). */
  def pqEncode(vecCol: Column, codebooks: Seq[Array[Array[Double]]]): Column = {
    val sub = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (book, j) =>
      pqAssign(slice(vecCol, j * sub + 1, sub), book)
    }: _*)
  }

  /** Scan-stage asymmetric-distance score of encoded vectors against one
    * query: per subspace the query→centroid distances collapse to a ksub
    * literal table, and a row's score is m element_at lookups summed. */
  def pqAdcScore(
      codesCol: Column,
      query: Array[Double],
      codebooks: Seq[Array[Array[Double]]]): Column = {
    val sub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (book, j) =>
      val q = query.slice(j * sub, (j + 1) * sub)
      val table = book.map(_.zip(q).map { case (a, b) => val d = a - b; d * d }.sum)
      element_at(array(table.toIndexedSeq.map(lit): _*),
        element_at(codesCol, j + 1).cast("int") + 1)
    }.reduce(_ + _)
  }

  /** Exact squared L2 to a query literal (for the rerank pass). */
  private def sqDistTo(vecCol: Column, query: Array[Double]): Column = {
    val qCol = array(query.toIndexedSeq.map(lit): _*)
    call_function("graft_dot", vecCol, vecCol) -
      lit(2.0) * call_function("graft_dot", vecCol, qCol) +
      lit(query.map(x => x * x).sum)
  }

  /** PQ ANN: encode once, ADC-score, TakeOrdered k*oversample candidates,
    * exact rerank to the top k. Returns (idCol, d2) ascending. */
  def annPq(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      k: Int,
      codebooks: Seq[Array[Array[Double]]],
      oversample: Int = 8): DataFrame = {
    GraftExtensions.ensureRegistered(vectors.sparkSession)
    val cand = vectors
      .withColumn("__adc", pqAdcScore(pqEncode(col(vecCol), codebooks), query, codebooks))
      .orderBy(col("__adc"), col(idCol))
      .limit(k * oversample)
    cand
      .withColumn("d2", round(sqDistTo(col(vecCol), query), 9))
      .orderBy(col("d2"), col(idCol))
      .limit(k)
      .select(col(idCol), col("d2"))
  }
}
