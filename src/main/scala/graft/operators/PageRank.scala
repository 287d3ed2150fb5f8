package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Fixed-iteration PageRank in exact integer arithmetic.
  *
  * The corpus-curation use: rank domains/sources by link authority to
  * prioritize crawl + filter decisions (the CommonCrawl-style domain-rank
  * signal attached to each document before quality filtering). The engine
  * view: an iterative join-aggregate fixpoint — the one relational shape
  * (besides connected components, `ConnectedComponents.scala`) that needs
  * a driver loop, each round being pure DataFrame ops.
  *
  * All arithmetic is scaled-integer (`score` out of `scale`, integral
  * division truncating toward zero on non-negative operands), so results
  * are bit-identical across engines and run-to-run — no float drift, and
  * a DuckDB oracle can replay the same iterations exactly (q137).
  *
  * Size-guarded routing through [[LocalTier]]: the iteration state
  * is O(nodes), and link graphs that fit comfortably on the driver
  * (≤ 4M edges — e.g. a domain graph, vs. a page graph) iterate in
  * memory at zero per-round job cost, after the one distributed pass
  * that derived the edges. Larger graphs run the distributed loop: per
  * iteration, scores ⋈ out-degrees ⋈ edges shuffled on src, one
  * partial-agg'd shuffle on dst, left-join back to the node set; each
  * round's scores are cut by [[Rounds.cut]], so the plan does not grow
  * with iterations. Both routes compute the identical
  * integer recurrence, and the global rank is the personalized one
  * with every node seeded.
  *
  * Dangling mass (nodes with no out-edges) is dropped, the standard
  * simplification; rounding mass lost to integral division is bounded by
  * one unit per edge per round.
  */
object PageRank {

  private val LocalEdgeLimit = 4L << 20

  /** Run `iters` rounds over `edges(srcCol, dstCol)` (self-loops and
    * duplicate edges should be pre-removed by the caller). Returns
    * (node: long, score: long) with score out of `scale`. */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= dampDen,
      "need iters >= 0 and 0 <= dampNum <= dampDen")
    val gate = new LocalTier(LocalEdgeLimit)
    val e = edgeList(gate, edges, srcCol, dstCol)
    route(gate, e, gate.collect(e), None, iters, scale, dampNum, dampDen)
  }

  /** PERSONALIZED PageRank (random walk with restart to a seed set —
    * Page et al. 1999 §6's personalized vector, Jeh & Widom 2003):
    * identical recurrence, but the restart mass lands uniformly on the
    * SEED NODES instead of all nodes, and the walk starts there:
    *
    *   it0:  score_v = scale/|S| if v ∈ S else 0
    *   base: base_v  = (scale·(dampDen−dampNum)/dampDen)/|S| iff v ∈ S
    *
    * The curation read: proximity to a trusted seed set (hand-audited
    * domains, a language's hub sources) rather than global authority —
    * the standard trust-propagation signal next to the global rank.
    *
    * Seeds must be non-empty and every seed must be a node of the
    * graph — a silently absorbing typo'd seed would redistribute its
    * restart share to nothing, so missing seeds refuse loudly instead
    * (driver-side: the seed set is bounded by contract, ≤ 2^20).
    * Duplicate seed rows are collapsed. Same local/distributed routing
    * and integer algebra as [[run]]; scores are out of `scale` and sum
    * to ≤ scale (dangling + truncation loss, as for the global rank).
    */
  def runPersonalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= dampDen,
      "need iters >= 0 and 0 <= dampNum <= dampDen")
    val gate = new LocalTier(LocalEdgeLimit)
    val e = edgeList(gate, edges, srcCol, dstCol)
    val local = gate.collect(e)
    val seedRows = seeds.select(col(seedCol).cast("long")).distinct()
      .limit((1 << 16) + 1).collect()
    require(seedRows.nonEmpty, "[ppr] empty seed set")
    require(seedRows.length <= (1 << 16), "[ppr] seed set past the 2^16 driver bound")
    val seedSet = seedRows.map(_.getLong(0)).toSet
    // membership audit via one broadcast semi-join (never an In-literal
    // of the whole seed set): every seed must be a graph node
    val seedDf = seedFrame(e.sparkSession, seedSet)
    val present = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(broadcast(seedDf), Seq("node"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    val missing = seedSet -- present
    require(missing.isEmpty,
      s"[ppr] seeds not in the graph: ${missing.toSeq.sorted.take(5).mkString(", ")}")
    route(gate, e, local, Some(seedSet), iters, scale, dampNum, dampDen)
  }

  /** The (src, dst) long edge list, cached: everything below re-reads
    * it, and the caller's edge derivation can be arbitrarily expensive —
    * without the cache the upstream plan re-executes once per round. */
  private def edgeList(gate: LocalTier, edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = gate.cache(edges.select(
    col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))

  private def route(gate: LocalTier, e: DataFrame, local: Option[Seq[Array[Row]]],
      seedSet: Option[Set[Long]], iters: Int, scale: Long, dampNum: Long,
      dampDen: Long): DataFrame = local match {
    case Some(Seq(rows)) =>
      runLocal(e.sparkSession, rows.map(r => (r.getLong(0), r.getLong(1))), seedSet,
        iters, scale, dampNum, dampDen)
    case _ =>
      val out = runDistributed(e, gate, seedSet, iters, scale, dampNum, dampDen)
      gate.release() // the final scores are checkpointed
      out
  }

  /** Driver-side loop for graphs whose EDGE LIST is bounded (node state
    * is strictly smaller). Same recurrence, zero per-round Spark jobs;
    * `seedSet` None seeds every node (the global rank). */
  private def runLocal(spark: org.apache.spark.sql.SparkSession, es: Array[(Long, Long)],
      seedSet: Option[Set[Long]], iters: Int, scale: Long, dampNum: Long,
      dampDen: Long): DataFrame = {
    require(es.nonEmpty, "empty graph")
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val isSeed: Long => Boolean = seedSet.getOrElse(_ => true)
    val k = seedSet.fold(nodes.length.toLong)(_.size.toLong)
    val outdeg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val base = (scale * (dampDen - dampNum) / dampDen) / k
    var score = nodes.map(v => v -> (if (isSeed(v)) scale / k else 0L)).toMap
    for (_ <- 0 until iters) {
      val in = es.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        (score(s) * dampNum / dampDen) / outdeg(s)
      }.sum).toMap
      score = nodes.map(v => v -> ((if (isSeed(v)) base else 0L) + in.getOrElse(v, 0L))).toMap
    }
    val rows = nodes.map(v => Row(v, score(v))).toSeq
    // a LOCAL relation (not a 1-partition RDD): downstream joins see its
    // true size and broadcast instead of sort-merging an unknown-size frame
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("score", LongType, nullable = false))))
  }

  private def seedFrame(spark: org.apache.spark.sql.SparkSession, seedSet: Set[Long]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(seedSet.toSeq.sorted.map(Row(_)): _*),
      StructType(Seq(StructField("node", LongType, nullable = false))))

  /** Distributed join-aggregate loop for graphs past the driver bound:
    * the seed flag rides the node set via one broadcast join (every node
    * for the global rank). */
  private def runDistributed(
      e: DataFrame, gate: LocalTier, seedSet: Option[Set[Long]], iters: Int,
      scale: Long, dampNum: Long, dampDen: Long): DataFrame = {
    val all = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodes = gate.cache(seedSet match {
      case Some(s) => all
        .join(broadcast(seedFrame(e.sparkSession, s).withColumn("is_seed", lit(true))),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      case None => all.withColumn("is_seed", lit(true))
    })
    // One bounded driver scalar (like the k-means means): the seed count
    // is needed inside integer literals of the next plan, not as a column.
    val k = seedSet.fold(nodes.count())(_.size.toLong)
    require(k > 0, "empty graph")
    val deg = gate.cache(e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    val base = (scale * (dampDen - dampNum) / dampDen) / k
    var scores = nodes
      .select(col("node"),
        when(col("is_seed"), lit(scale / k)).otherwise(lit(0L)).as("score"))
    for (_ <- 0 until iters) {
      val contrib = e
        .join(scores.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        // (score * d) div dampDen div outdeg — truncating integral div,
        // all operands non-negative: exact and portable.
        .select(col("dst"),
          expr(s"(score * $dampNum) div $dampDen div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_mass"))
      scores = Rounds.cut(nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            coalesce(col("in_mass"), lit(0L))).as("score")))
    }
    scores
  }
}
