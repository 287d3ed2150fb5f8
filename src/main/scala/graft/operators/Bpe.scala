package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.tokens

/** Distributed byte-pair-encoding vocabulary induction (Sennrich et al.
  * 2016) — the tokenizer-training step a training-data pipeline runs
  * after curation. Classic BPE is a single-machine loop over a word
  * counter; this restates each round as three bounded Spark stages so the
  * SAME loop runs over a 10^8-row distinct-word dictionary:
  *
  *   1. pair counting: one partial-agg'd aggregation over the exploded
  *      symbol sequences — shuffle volume is bounded by the number of
  *      DISTINCT adjacent pairs (≤ |alphabet + merges|^2), not corpus
  *      size, because map-side combine collapses each partition first;
  *   2. argmax: TakeOrdered(1) with the deterministic (count desc, pair
  *      asc) tie-break — one pair of driver metadata per round;
  *   3. merge application: pure window arithmetic partitioned BY WORD
  *      (partitions are word-length-sized, no skew possible), with
  *      greedy leftmost-non-overlap resolved algebraically: a merge
  *      fires at position p iff (tok, next) matches AND p's offset
  *      inside its maximal run of consecutive match-starts is even —
  *      runs longer than 1 only occur for self-pairs like (a, a), where
  *      even-offset selection IS the greedy scan's choice.
  *
  * The whole round is replayable in SQL (the q159 oracle unrolls
  * iterations as CTEs with this exact formulation), so learned merges
  * verify cross-engine, count-exact. The corpus is touched ONCE (word
  * frequency dictionary); all rounds run over the vocab table, which
  * [[Rounds.cut]] checkpoints per round.
  */
object Bpe {

  private val wp = Window.partitionBy("word").orderBy("p")

  /** Word-frequency dictionary with initial single-character symbol
    * sequences — the one corpus-wide pass. */
  def initVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("toks",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Symbol sequences exploded to (word, freq, p, tok, nxt) rows. */
  def exploded(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("freq"), posexplode(col("toks")).as(Seq("p", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(wp))

  /** Adjacent-pair frequencies, weighted by word frequency. */
  def pairCounts(ex: DataFrame): DataFrame =
    ex.filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Replace every greedy-leftmost occurrence of adjacent (a, b) with the
    * merged symbol, rebuilding each word's symbol array. */
  def applyMerge(ex: DataFrame, a: String, b: String): DataFrame =
    ex
      .withColumn("isStart",
        coalesce(col("tok") === lit(a) && col("nxt") === lit(b), lit(false)))
      // last non-start position before p: merge parity is measured from
      // the start of p's run of consecutive match-starts
      .withColumn("pns", coalesce(
        max(when(!col("isStart"), col("p")))
          .over(wp.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1)))
      .withColumn("mergeAt",
        col("isStart") && (col("p") - col("pns") - 1) % 2 === 0)
      .withColumn("consumed", coalesce(lag(col("mergeAt"), 1).over(wp), lit(false)))
      .withColumn("tok2",
        when(col("mergeAt"), concat(col("tok"), col("nxt"))).otherwise(col("tok")))
      .filter(!col("consumed"))
      .groupBy("word", "freq")
      .agg(transform(array_sort(collect_list(struct(col("p"), col("tok2")))),
        x => x.getField("tok2")).as("toks"))

  /** Run `iters` merge rounds; returns the learned merge table
    * (iteration, left, right, pair count) and the final vocab.
    *
    * Size-guarded routing (the PageRank pattern):
    * the merge loop's state is the distinct-WORD dictionary, which is
    * bounded (~10^6 entries) however large the corpus — natural-language
    * vocabulary grows ~O(corpus^0.5) (Heaps' law), so even a 100 TB
    * corpus's dict fits the driver. When it does (≤ 2M words, gated by
    * [[LocalTier]]), the dictionary is collected ONCE after the one
    * corpus-wide `initVocab` pass and the merge loop runs in memory with
    * incremental pair-count maintenance — each round costs O(words
    * containing the merged pair), not O(dict), and zero Spark jobs. That
    * is what lets training reach production merge counts (30k+): the
    * distributed loop costs one argmax job + one materialization PER
    * MERGE, which is correct but scheduler-bound past a few hundred
    * rounds.
    *
    * Dictionaries past the driver budget (synthetic/adversarial key
    * spaces) run the distributed loop. Both routes compute the identical
    * (count desc, pair asc) recurrence — local tie-breaks compare UTF-8
    * bytes, matching Spark's `UTF8String` binary ordering — and
    * `BpeSpec` pins local ≡ distributed on random corpora.
    *
    * The returned vocab is a driver-built local relation on the local
    * route (so downstream dictionary joins broadcast for free) and a
    * checkpointed distributed frame otherwise; neither holds a session
    * cache entry, so `unpersist()` on either is a harmless no-op. */
  def train(vocab0: DataFrame, iters: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val gate = new LocalTier(LocalWordLimit)
    val v = gate.cache(vocab0)
    gate.collect(v.select("word", "freq", "toks")).foreach { case Seq(collected) =>
      val rows = collected.map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toVector))
      val (merges, fin) = trainLocalRows(rows, iters)
      val spark = vocab0.sparkSession
      import spark.implicits._
      return (merges, fin.toSeq.toDF("word", "freq", "toks"))
    }
    // distributed: one pair-count + argmax + merge round per iteration
    var vocab = v
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var it = 1
    while (it <= iters) {
      val ex = exploded(vocab)
      val best = pairCounts(ex)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (best.nonEmpty) {
        val r = best(0)
        val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += ((it, a, b, cnt))
        vocab = Rounds.cut(applyMerge(ex, a, b))
        gate.release() // no later round reads the input cache
      } else {
        it = iters // no pairs left (all words are single symbols)
      }
      it += 1
    }
    gate.release() // when no round merged, the input is returned uncached
    (merges.toSeq, vocab)
  }

  private val LocalWordLimit = 1L << 21

  /** Driver-side merge loop over a collected (word, freq, toks)
    * dictionary. Pair counts are maintained incrementally: a pair→words
    * index (append-only, lazily validated) limits each round's work to
    * the words actually containing the winning pair — the subword-nmt
    * trick that makes 30k-merge training tractable. Deterministic:
    * argmax ties break on (UTF-8 bytes of left, then right) ascending,
    * identical to the distributed `orderBy(cnt desc, a, b)`. */
  private[graft] def trainLocalRows(
      words0: Seq[(String, Long, Vector[String])],
      iters: Int): (Seq[(Int, String, String, Long)], Seq[(String, Long, Vector[String])]) = {
    import scala.collection.mutable
    val words = words0.toArray.map { case (w, f, ts) => (w, f, ts) }
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    def addPairs(idx: Int, ts: Vector[String], f: Long, track: Boolean): Unit = {
      var i = 0
      while (i < ts.length - 1) {
        val p = (ts(i), ts(i + 1))
        val c = counts.getOrElse(p, 0L) + f
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        if (track) index.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += idx
        i += 1
      }
    }
    words.zipWithIndex.foreach { case ((_, f, ts), i) => addPairs(i, ts, f, track = true) }
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var it = 1
    var done = counts.isEmpty
    while (it <= iters && !done) {
      // argmax under (cnt desc, a asc, b asc) in UTF-8 byte order
      var best: ((String, String), Long) = null
      counts.foreach { kv =>
        if (best == null || kv._2 > best._2 ||
          (kv._2 == best._2 && pairLt(kv._1, best._1))) best = kv
      }
      val ((a, b), cnt) = best
      merges += ((it, a, b, cnt))
      // touch only words the index says may contain (a, b); entries are
      // appended, never removed, so revalidate by scanning the word —
      // words are short, and stale hits are bounded by total merges
      val cand = index.getOrElse((a, b), mutable.ArrayBuffer.empty).distinct
      cand.foreach { wi =>
        val (w, f, ts) = words(wi)
        if (containsPair(ts, a, b)) {
          addPairs(wi, ts, -f, track = false) // retract the old adjacencies
          val ts2 = greedyMerge(ts, a, b)
          words(wi) = (w, f, ts2)
          addPairs(wi, ts2, f, track = true)
        }
      }
      counts.remove((a, b)) // fully consumed this round (guard vs. stale ±0 residue)
      done = counts.isEmpty
      it += 1
    }
    (merges.toSeq, words.toSeq)
  }

  private def containsPair(ts: Vector[String], a: String, b: String): Boolean = {
    var i = 0
    while (i < ts.length - 1) {
      if (ts(i) == a && ts(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** Sequential greedy leftmost-non-overlapping merge — the semantics
    * `applyMerge` reproduces distributively (pinned equal in BpeSpec). */
  private[graft] def greedyMerge(ts: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < ts.length) {
      if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** (a, b) < (c, d) lexicographically under UTF-8 binary string order —
    * Spark's `UTF8String.compareTo`, so local and distributed tie-breaks
    * agree on any input, including non-BMP code points where Java's
    * UTF-16 `compareTo` orders differently. */
  private def pairLt(x: (String, String), y: (String, String)): Boolean = {
    val c = utf8Compare(x._1, y._1)
    c < 0 || (c == 0 && utf8Compare(x._2, y._2) < 0)
  }

  /** Driver-side ordering under the same UTF-8 binary order — for
    * assigning deterministic symbol ids that DuckDB's default (binary)
    * ORDER BY reproduces exactly. */
  private[graft] val utf8Ordering: Ordering[String] =
    (x: String, y: String) => utf8Compare(x, y)

  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}
