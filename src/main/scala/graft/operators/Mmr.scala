package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
  * on the exact integer grid: greedily pick `k` items maximizing
  *
  *   score(c) = wRel · rel(c) − wDiv · max_{s ∈ picked} dot(c, s)
  *
  * where `rel(c) = dot(c, query)` and every dot product runs over the
  * ×1000-floored integer view of the embedding (the q116 idiom —
  * float→double is exact, ×1000 and floor are correctly rounded /
  * exact, so both engines land on identical BIGINT coordinates and the
  * whole selection is integer-exact cross-engine). The max over an
  * empty picked set is 0 by convention, which makes round 1 the pure
  * relevance argmax whenever a non-negative-relevance candidate exists
  * (the classical formulation); ties break to the smallest id.
  *
  * This is the retrieval-side twin of the corpus-side greedy coverage
  * selection (operators/Coverage): coverage buys marginal ELEMENT
  * coverage under a K-budget, MMR buys marginal relevance net of
  * redundancy against the already-selected set — the standard
  * diversity re-rank between an ANN candidate fetch (B43) and a RAG
  * context window. λ in the classical statement is wRel/(wRel+wDiv);
  * integer weights keep the algebra on int64.
  *
  * Scale shape (the Coverage contract): the grid view, the intake
  * guards and the relevance dot are computed ONCE and cut by
  * [[Rounds.cut]] (eager — one corpus scan); each of the ≤ k rounds is
  * then one scan of that checkpointed frame with the picked vectors
  * folded in as
  * LITERAL arrays (a ≤ k·dims constant — the broadcast of a k-row dim
  * table collapsed into the plan), a top-1 TakeOrderedAndProject (never
  * a global sort), and a SINGLE row crossing to the driver. No shuffle
  * anywhere; rounds are caller-bounded so run time never becomes
  * data-dependent. At 100 TB this is k partial-agg scans, same as
  * Coverage's K rounds.
  *
  * Domain (guarded in-plan, riding the consumed `rel` column):
  * dims ≤ 4096 and |coordinate| ≤ 2^20 bound every dot by 2^52;
  * wRel, wDiv ≤ 1024 bound every weighted term by 2^62 — no wrap is
  * reachable, and leaving the domain refuses loudly (the Guards
  * contract). Duplicate candidate ids refuse loudly too: the greedy
  * removes picked ids BY id, so a duplicated id would silently merge
  * two vectors into one pick slot (the Louvain intake posture).
  *
  * Returns `(round, id, rel, max_sim, score)` — one row per pick in
  * pick order; fewer than `k` rows iff the candidate set is exhausted.
  */
object Mmr {
  private val MaxCoord = 1L << 20
  private val MaxDims = 4096
  private val MaxWeight = 1024L

  /** The ×1000-floored integer grid view of a float/double array
    * column — shared with the oracle side, which replays
    * `CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)` verbatim. */
  def grid(vec: Column): Column =
    transform(vec, e => floor(e.cast("double") * 1000).cast("long"))

  private def dotLit(g: Column, v: Array[Long]): Column = {
    val s = array(v.toIndexedSeq.map(lit): _*)
    aggregate(zip_with(g, s, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
  }

  /** @param cands    candidate frame
    * @param idCol    unique id column (duplicates refuse loudly)
    * @param vecCol   numeric-array embedding column, all `queryVec.length` dims
    * @param queryVec the query on the SAME integer grid (use [[grid]] /
    *                 ×1000-floor on the raw vector before passing it)
    * @param k        picks, 1..64
    * @param wRel     relevance weight, 0..1024
    * @param wDiv     diversity (redundancy penalty) weight, 0..1024 */
  def rerank(cands: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Long], k: Int, wRel: Long, wDiv: Long): DataFrame = {
    require(k >= 1 && k <= 64, s"Mmr.rerank wants 1..64 picks, got $k")
    require(wRel >= 0 && wRel <= MaxWeight && wDiv >= 0 && wDiv <= MaxWeight,
      s"Mmr.rerank wants weights in [0, $MaxWeight], got wRel=$wRel wDiv=$wDiv")
    require(wRel + wDiv >= 1, "Mmr.rerank wants wRel + wDiv >= 1")
    val dims = queryVec.length
    require(dims >= 1 && dims <= MaxDims,
      s"Mmr.rerank wants 1..$MaxDims query dims, got $dims")
    require(queryVec.forall(c => math.abs(c) <= MaxCoord),
      s"Mmr.rerank wants |query coordinate| <= $MaxCoord")
    val spark = cands.sparkSession
    val idType = cands.schema(idCol).dataType

    // One corpus pass: grid view, intake guards (riding the consumed
    // rel column), the relevance dot — then checkpoint so the k rounds
    // rescan a materialized (id, g, rel) frame instead of re-deriving.
    val gOk = size(col("g")) === lit(dims) &&
      forall(col("g"), x => abs(x) <= lit(MaxCoord))
    val guardedRel = Guards(gOk, dotLit(col("g"), queryVec),
      Guards.msg("mmr", lit("candidate "), col("id").cast("string"),
        lit(s" breaks the grid domain (dims=$dims, |coord| <= $MaxCoord)")))
    // id uniqueness: count == countDistinct, as a 1-row broadcast audit
    // riding rel (the Louvain intake posture — a duplicate id would
    // silently merge two vectors into one pick slot)
    val idAudit = cands.select(col(idCol).as("id"))
      .agg((count(lit(1)) === count_distinct(col("id"))).as("ids_ok"))
    val base = Rounds.cut(cands
      .select(col(idCol).as("id"), grid(col(vecCol)).as("g"))
      .crossJoin(broadcast(idAudit))
      .withColumn("rel", Guards(col("ids_ok"), guardedRel,
        Guards.msg("mmr", lit("duplicate candidate ids on intake"))))
      .select("id", "g", "rel"))

    val picks = scala.collection.mutable.ArrayBuffer.empty[Row]
    var selected = List.empty[Array[Long]] // picked grid vectors, newest first
    var pickedIds = List.empty[Any]
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val maxSim: Column = selected match {
        case Nil => lit(0L)
        case one :: Nil => dotLit(col("g"), one)
        case many => greatest(many.map(dotLit(col("g"), _)): _*)
      }
      val notPicked = if (pickedIds.isEmpty) lit(true)
        else !col("id").isInCollection(pickedIds)
      val top = base
        .filter(notPicked)
        .withColumn("ms", maxSim)
        .withColumn("score", lit(wRel) * col("rel") - lit(wDiv) * col("ms"))
        .orderBy(col("score").desc, col("id"))
        .limit(1)
        .select("id", "rel", "ms", "score", "g")
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        picks += Row(r.toLong, row.get(0), row.getLong(1), row.getLong(2), row.getLong(3))
        selected ::= row.getSeq[Long](4).toArray
        pickedIds ::= row.get(0)
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(picks.toSeq: _*),
      StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("id", idType),
        StructField("rel", LongType, nullable = false),
        StructField("max_sim", LongType, nullable = false),
        StructField("score", LongType, nullable = false))))
  }

  /** Driver-side twin of [[grid]] for callers holding the raw query
    * vector: floor each coordinate onto the ×1000 grid with the same
    * double math the in-plan version runs. */
  def gridOf(raw: Seq[Double]): Array[Long] =
    raw.map(v => math.floor(v * 1000).toLong).toArray
}
