package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{hash60, tokens}
import graft.operators.{ConnectedComponents, Dedup, Sampling}

/** End-to-end corpus curation: the worked example tying the engine's
  * LLM-data operators into the standard pre-training pipeline —
  *
  *   raw documents
  *     → quality gate           (length + alpha-ratio floors)
  *     → exact dedup            (normalized content fingerprint)
  *     → near-dup clustering    (minhash → LSH bands → candidate pairs
  *                               → connected components → keep min id)
  *     → coordinated sample     (seed-reproducible bottom-k per lang)
  *     → rendezvous sharding    (stable output bucket per doc)
  *
  * Every stage is a pure DataFrame transform already oracle-checked or
  * property-tested on its own (q33/q57/q117/q134/q140); this module pins
  * the COMPOSITION: stages commute with nothing, so the demo fixes their
  * order and the spec asserts the end-to-end invariants (monotone row
  * counts, no surviving duplicate fingerprints, deterministic output).
  * Scale: the pipeline is shuffle-bounded by its dedup stages — nothing
  * here collects rows to the driver.
  */
object CurationDemo {

  /** The curated corpus: one row per kept doc with its assigned shard. */
  def curate(
      docs: DataFrame,
      perLangSample: Int = 50,
      shards: Int = 8,
      seed: String = "curation-v1"): DataFrame = {
    // 1. quality gate: enough text, mostly word characters
    val quality = docs.filter(
      length(col("text")) >= 40 &&
        (length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")) * 5
          <= length(col("text"))))

    // 2. exact dedup on the normalized fingerprint, keep lowest id
    val fp = quality.withColumn("fp",
      md5(concat_ws(" ", tokens(lower(col("text"))))))
    val exactKept = fp
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keep_id"))
      .drop("keep_id")

    // 3. near-dup clusters: minhash signatures → banded candidates →
    //    connected components → keep each cluster's minimum id
    val index = Dedup.shingleIndex(exactKept, "doc_id", "text", n = 3)
    val sig = Dedup.minhashSignatures(index, "doc_id", numHashes = 32)
    val bands = Dedup.lshBands(sig, "doc_id", bands = 8, rows = 4)
    val pairs = Dedup.lshCandidates(bands, "doc_id")
      .select(col("a"), col("b"))
    val nodes = exactKept.select(col("doc_id"))
    val comps = ConnectedComponents.components(nodes, pairs, "doc_id")
    val nearKept = exactKept.join(
      comps.filter(col("doc_id") === col("comp")).select("doc_id"), "doc_id")

    // 4. coordinated per-language sample — reproducible from the seed
    val sampled = Sampling.bottomK(
        nearKept.select(col("doc_id"), col("lang")),
        Seq("lang"), "doc_id", perLangSample, seed)
      .join(nearKept, Seq("doc_id", "lang"))

    // 5. stable shard assignment (rendezvous pick over per-shard hashes)
    val hs = (0 until shards).map(sh => hash60(s"$seed:shard$sh", col("doc_id")))
    val g = greatest(hs: _*)
    val shard = (0 until shards).foldRight(lit(null).cast("int")) { (sh, acc) =>
      when(hs(sh) === g, lit(sh)).otherwise(acc)
    }
    sampled.withColumn("shard", shard)
      .select("doc_id", "lang", "rk", "shard", "text")
  }

  /** Runnable demo over the driver testdata. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.harness()
    val curated = curate(graft.Tables.documents(spark, sfDir))
    val perShard = curated.groupBy("shard").count().orderBy("shard").collect()
    println(s"CURATED ROWS=${curated.count()} SHARDS=${perShard.length}")
    spark.stop()
  }
}
