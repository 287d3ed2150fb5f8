package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up of the driver testdata: `factor` key-disjoint
  * replicas of each table, with every join key offset per replica so the
  * relational structure (order→lineitem, order→customer, lineitem→
  * supplier) replicates consistently — replica i of lineitem joins
  * replica i of orders and nobody else, exactly how a dbgen-style
  * generator grows TPC-H. Row counts scale ×factor, join fan-outs and
  * group cardinalities scale the way real growth scales them.
  *
  * Embeddings MUTATE per replica (replica 0 keeps its coordinate
  * order): a deterministic per-replica coordinate PERMUTATION — the
  * vector-space analog of the document token rename below, adopted in
  * r14 when the CandCount decomposition proved jitter-only replicas
  * quadratic by construction (see the inline comment at the embeddings
  * write) — plus the ±0.0005 first-component jitter so replicas are
  * near but not bitwise duplicates and distance-computation cost is
  * not understated.
  *
  * Documents MUTATE per replica (replica 0 stays verbatim): every token
  * is renamed through a deterministic per-replica vocabulary hash —
  * token -> translate(xxhash64(token, rep) % 65536 to letters). The
  * r9 probe proved verbatim text replication makes the three heaviest
  * candidate-join exponents (q111 1.21, q130 1.11, q59 1.05 at 30x)
  * artifacts of OUTPUT growth: every replica of a contaminated pair is a
  * new contaminated pair, so output itself grows factor² and the probe
  * cannot distinguish "sub-linear join on quadratic output" from a real
  * fan-out regression. The rename fixes that by construction:
  *  - INTRA-replica, renaming is one vocabulary substitution applied
  *    corpus-wide, so token equality — hence shingle sets, minhash
  *    signatures, simhash neighborhoods, shared-n-gram counts, equal
  *    prefixes — is preserved and each replica contributes the original
  *    corpus's pair structure exactly once (output ~linear in factor);
  *  - CROSS-replica, two replicas' vocabularies are unrelated hashes, so
  *    a match needs 3+ consecutive 16-bit collisions (~never).
  *  Substitutes are alphabetic (digits translated to letters) because
  *  q130's prefix key strips [^a-z ] — numeric substitutes would
  *  collapse every mutated prefix to "x x x" and manufacture the exact
  *  quadratic blowup the mutation removes. The substitute space is
  *  BOUNDED (2^24 slots — widened from 2^16 in r11: at a V-token
  *  vocabulary the rename merges ~V²/2^25 distinct-token pairs per
  *  replica, i.e. ~75 merges at V = 50k and a per-token collision rate
  *  of V/2^24 ≈ 0.3% — negligible shingle/pair inflation, where the
  *  16-bit space merged ~19k pairs and biased the probe exponents the
  *  mutation exists to keep honest). Corpus tokens still scale ×factor
  *  against a bounded space, preserving the Heaps-law saturation
  *  direction the BPE claim needs, just with collision bias removed.
  *  n_chars is recomputed for mutated rows (renamed text has new
  *  lengths); lang/source/doc_id semantics are untouched, and doc_id
  *  PARITY is preserved by the even key stride (q111's corpus halves
  *  stay aligned with their replicas).
  *
  * nation/region (fixed dimension tables) copy unchanged.
  *
  * Usage: `runMain graft.tools.ScaleGen <srcSfDir> <outDir> <factor>`
  */
object ScaleGen {

  def replicate(df: DataFrame, factor: Int): DataFrame = {
    val spark = df.sparkSession
    val reps = spark.range(factor).select(col("id").cast("int").as("__rep"))
    df.crossJoin(reps)
  }

  /** Offset `keyCols` by `__rep * stride` (stride = a power of ten above
    * the key domain, so replica key ranges never collide). */
  def offsetKeys(df: DataFrame, keyCols: Seq[String], stride: Long): DataFrame =
    keyCols.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + col("__rep").cast("long") * stride))

  /** The per-replica document mutation (see object doc): replica 0 keeps
    * its text verbatim; every other replica renames each whitespace
    * token through `translate(xxhash64(token, __rep) % 2^24 → letters)`
    * (decimal rendering digit→letter is injective, so the substitute
    * space is exactly the 2^24 hash slots) and recomputes `n_chars`.
    * Factored out of [[main]] so ScaleGenSpec can pin the invariants the
    * probe's honesty rests on (intra-replica token-identity
    * preservation, cross-replica disjointness, rep-0 verbatim). Expects
    * the `__rep` column. */
  def mutateDocuments(docs: DataFrame): DataFrame =
    docs
      .withColumn("text",
        when(col("__rep") === 0, col("text")).otherwise(
          concat_ws(" ",
            transform(
              filter(split(trim(col("text")), "\\s+"), tk => length(tk) > lit(0)),
              tk => translate(
                pmod(xxhash64(tk, col("__rep")), lit(16777216L)).cast("string"),
                "0123456789", "abcdefghij")))))
      .withColumn("n_chars",
        when(col("__rep") === 0, col("n_chars"))
          .otherwise(length(col("text")).cast("long")))

  /** The per-replica embedding mutation (see object doc): replica 0
    * keeps its coordinate order; every other replica permutes the
    * coordinates by ONE deterministic per-replica order (positions
    * sorted by xxhash64("rep:i")) — preserving every norm and every
    * intra-replica dot product exactly while dropping cross-replica
    * cosine to the random level and decorrelating cross-replica LSH
    * sign patterns. The ±0.0005 first-component jitter then applies to
    * every replica (keyed on the offset vec_id) so replicas are near-
    * not-bitwise duplicates. Factored out of [[main]] so ScaleGenSpec
    * can pin the invariants (intra-replica dot preservation up to the
    * jitter, cross-replica dissimilarity, rep-0 coordinate order).
    * Expects the `__rep` column. */
  def mutateEmbeddings(emb: DataFrame): DataFrame =
    emb
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding")).otherwise(
          transform(
            array_sort(zip_with(
              col("embedding"),
              transform(col("embedding"), (_, i) =>
                xxhash64(concat(col("__rep").cast("string"), lit(":"), i.cast("string")))),
              (x, k) => struct(k.as("k"), x.as("x")))),
            s => s.getField("x"))))
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        when(i === 0,
          x + (pmod(xxhash64(col("vec_id")), lit(1000L)).cast("float") - 500f) / 1000000f)
          .otherwise(x)))

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = graft.Session.harness()

    val Stride = 100000000L // above every key domain in the sf0.1 tables

    def write(df: DataFrame, name: String): Unit =
      df.drop("__rep").write.mode("overwrite").parquet(s"$out/$name.parquet")

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // Fact tables: replicate with consistent key offsets.
    write(offsetKeys(replicate(t("lineitem"), factor),
      Seq("l_orderkey", "l_partkey", "l_suppkey"), Stride), "lineitem")
    write(offsetKeys(replicate(t("orders"), factor),
      Seq("o_orderkey", "o_custkey"), Stride), "orders")
    write(offsetKeys(replicate(t("customer"), factor),
      Seq("c_custkey"), Stride), "customer")
    write(offsetKeys(replicate(t("supplier"), factor),
      Seq("s_suppkey"), Stride), "supplier")
    write(offsetKeys(replicate(t("part"), factor),
      Seq("p_partkey"), Stride), "part")
    write(offsetKeys(replicate(t("events"), factor),
      Seq("event_id", "user_id"), Stride), "events")
    // Documents: per-replica vocabulary rename (see scaladoc) — replica
    // 0 verbatim, others token-renamed into the bounded alphabetic hash
    // space, n_chars recomputed to match the mutated text.
    write(mutateDocuments(
      offsetKeys(replicate(t("documents"), factor), Seq("doc_id"), Stride)), "documents")

    // Embeddings MUTATE per replica the way documents do (replica 0
    // keeps its coordinate order): every replica > 0 applies ONE
    // deterministic per-replica coordinate PERMUTATION (sort positions
    // by xxhash64(rep:i)) — the vector-space analog of the document
    // token rename. A fixed permutation preserves every norm and every
    // INTRA-replica dot product exactly, so each replica contributes
    // the original corpus's near-dup pair structure exactly once; the
    // vectors are mean-zero, so CROSS-replica cosines drop to the
    // random level (~±1/√d) and cross-replica LSH sign patterns are
    // unrelated. The r14 CandCount decomposition proved the previous
    // jitter-only replicas quadratic BY CONSTRUCTION: all f replicas
    // of a vector kept identical hyperplane signs, contributing
    // exactly n₀·C(f,2) same-bucket candidate pairs (measured 2000·45 /
    // 2000·435 / 2000·4950 at f = 10/30/100) AND capping the distinct
    // sign-pattern population at n₀, so occupancy — hence candidates
    // per vector — grew with f no matter how many planes adaptivePlanes
    // added. That measured q96's time exponent rising 0.66 → 0.90 at
    // 30× while the PLAN was doing exactly what it should; the
    // permutation removes the artifact the same way the token rename
    // did for q111/q130/q59 in r9. The ±0.0005 first-component jitter
    // stays (applied after the permutation) so replicas are still
    // near-not-bitwise duplicates of nothing.
    write(mutateEmbeddings(
      offsetKeys(replicate(t("embeddings"), factor), Seq("vec_id"), Stride)), "embeddings")

    // Fixed dimensions: copy unchanged.
    write(t("nation").withColumn("__rep", lit(0)), "nation")
    write(t("region").withColumn("__rep", lit(0)), "region")

    println(s"SCALEGEN wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
