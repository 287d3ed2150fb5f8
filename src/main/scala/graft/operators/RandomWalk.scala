package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation (the DeepWalk/node2vec
  * front end — Perozzi et al. 2014): `walksPerNode` walks of `steps`
  * steps from every node, the walk corpus a graph-embedding trainer
  * consumes as "sentences". The pipeline read: after the graph wing
  * detects structure (communities, cores, ranks), the walk corpus is
  * what turns the graph into TRAINING DATA — the step between "graph
  * built" and "embeddings trained", exactly where the engine's other
  * corpus generators (span corruption B78, negative sampling B57) sit
  * for text.
  *
  * Determinism contract (the repo-wide md5 posture): step s of walk w
  * at node v moves to the neighbor u minimizing
  * `hash60("<seed>:w:s:" + v + ":" + u)` — a pseudo-uniform,
  * engine-replayable choice (ties on the 60-bit grid are practically
  * impossible and break to the smaller u either way), so any SQL
  * engine replays the identical corpus with ROW_NUMBER/min over the
  * same md5 slices. No RNG state, no seed drift across partitions —
  * the walk corpus is a pure function of (edges, seed).
  *
  * Scale shape: adjacency is the symmetrized edge list; each step is
  * ONE equi-join of the frontier (|nodes|·walksPerNode rows, constant
  * across steps) against it, one argmin via a max(struct) hash
  * aggregate (the LabelProp idiom — never a raw-row window), and the
  * result unions into the output lineage; `steps` is caller-bounded so
  * run time never becomes data-dependent. Frontier lineage is cut per
  * step by [[Rounds.cut]] (the Louvain/KCore contract).
  * Isolated nodes produce length-0 walks (just the start row); the
  * symmetrized graph has no other dead ends.
  *
  * Input contract (the [[EdgeIntake.distinctPairs]] audit Louvain
  * shares): distinct undirected pairs (a, b), a ≠ b — a duplicate edge
  * would bias every choice toward its neighbor.
  *
  * Output: (start, w, step, node) — step 0 is the start node itself;
  * one row per visited position.
  */
object RandomWalk {

  /** Size-guarded routing bound (the PageRank.runLocal / Louvain
    * posture): a symmetrized adjacency inside the bound walks on the
    * driver at zero per-step job cost — each distributed step is ~2
    * fixed-cost jobs (frontier join+argmax, cut) and, more
    * importantly, the md5 choice hash evaluates through the interpreted
    * conv(substring(md5)) expression chain per candidate row, where the
    * local tier's allocation-free digest is ~20x cheaper per candidate
    * (GraftFunctions.hash60Local, pinned bit-identical in
    * LocalTierSpec). Intake (cast + self-loop/duplicate refusals) stays
    * distributed and the collect evaluates the guard columns, so
    * refusals fire identically. Past the bound the join plan runs
    * unchanged — at 100 TB that is the only tier. */
  private val LocalEdgeLimit = 4L << 20

  def walks(edges: DataFrame, walksPerNode: Int, steps: Int, seed: String): DataFrame = {
    require(walksPerNode >= 1 && walksPerNode <= 16,
      s"RandomWalk wants walksPerNode in [1, 16], got $walksPerNode")
    require(steps >= 1 && steps <= 16,
      s"RandomWalk wants steps in [1, 16], got $steps")
    require(seed.nonEmpty && !seed.contains(":"),
      "RandomWalk wants a non-empty seed without ':'")
    val spark = edges.sparkSession
    // intake: the shared distinct-pair audit (self-loop on the consumed
    // b, duplicates on the w column the symmetrize carries), endpoints
    // cast to long, so the gate needs no key rule
    val gate = new LocalTier(LocalEdgeLimit)
    val sym = gate.cache(EdgeIntake.symmetrize(EdgeIntake.distinctPairs(edges, gate,
      "randomwalk", "duplicates bias every step choice"), "w").select("src", "dst"))
    // collecting sym evaluates the intake guard columns it was built
    // from, so self-loop/duplicate refusals fire exactly as they do
    // under the distributed consumption
    gate.collect(sym).foreach { case Seq(arr) =>
      return runLocal(spark, arr.map(r => (r.getLong(0), r.getLong(1))), walksPerNode, steps, seed)
    }

    val nodes = sym.select(col("src").as("start")).distinct()
    val walkIds = (0 until walksPerNode).map(lit(_))
    var frontier = Rounds.cut(nodes
      .select(col("start"), explode(array(walkIds: _*)).as("w"))
      .withColumn("node", col("start")))
    var out = frontier.select(col("start"), col("w"), lit(0).as("step"), col("node"))
    for (s <- 1 to steps) {
      // argmin_u hash60(seed:w:s:node:u) per (start, w) — one equi-join
      // + one max(struct) aggregate, the LabelProp idiom
      val h = graft.functions.GraftFunctions.hash60(
        concat(lit(seed + ":"), col("w").cast("string"), lit(s":$s:"),
          col("node").cast("string"), lit(":"), col("dst").cast("string")))
      val next = Rounds.cut(frontier
        .join(sym, col("node") === col("src"))
        .select(col("start"), col("w"), h.as("h"), col("dst"))
        .groupBy("start", "w")
        .agg(max(struct((-col("h")).as("nh"), (-col("dst")).as("nd"))).as("mx"))
        .select(col("start"), col("w"), (-col("mx.nd")).as("node")))
      out = out.unionByName(
        next.select(col("start"), col("w"), lit(s).as("step"), col("node")))
      frontier = next
    }
    // every step is a materialized cut, so the result lineage never
    // re-reads the intake or adjacency caches — release them (guide §5)
    gate.release()
    out
  }

  /** Driver tier: the identical md5-argmin recurrence on the collected
    * symmetrized adjacency — the same "<seed>:w:s:v:u" choice strings
    * through [[graft.functions.GraftFunctions.hash60Local]] (bit-equal
    * to the Column hash60), ties to the smaller u, walks advanced in a
    * parallel loop (each (start, w) walk is independent; the digest is
    * per-thread). Bit-identical by LocalTierSpec pin. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      sym: Array[(Long, Long)], walksPerNode: Int, steps: Int,
      seed: String): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    sym.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
    }
    val starts = adj.keys.toArray
    val nWalks = starts.length * walksPerNode
    val start = new Array[Long](nWalks)
    val wOf = new Array[Int](nWalks)
    val cur = new Array[Long](nWalks)
    var i = 0
    starts.foreach { st =>
      (0 until walksPerNode).foreach { w =>
        start(i) = st; wOf(i) = w; cur(i) = st; i += 1
      }
    }
    val rows = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    (0 until nWalks).foreach(j =>
      rows += org.apache.spark.sql.Row(start(j), wOf(j), 0, cur(j)))
    val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))
    for (s <- 1 to steps) {
      val next = new Array[Long](nWalks)
      java.util.stream.IntStream.range(0, nWalks).parallel().forEach { j =>
        val md = digest.get()
        val v = cur(j)
        val prefix = s"$seed:${wOf(j)}:$s:$v:"
        var bestH = Long.MaxValue
        var bestU = Long.MaxValue
        adj(v).foreach { u =>
          val h = graft.functions.GraftFunctions.hash60Local(md, prefix + u)
          if (h < bestH || (h == bestH && u < bestU)) { bestH = h; bestU = u }
        }
        next(j) = bestU
      }
      (0 until nWalks).foreach { j =>
        cur(j) = next(j)
        rows += org.apache.spark.sql.Row(start(j), wOf(j), s, cur(j))
      }
    }
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("start",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("step",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = true))))
  }
}
