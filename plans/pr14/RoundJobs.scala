package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Spark jobs per forced-distributed call of each iterative operator, at
  * the input sizes of PlanQualitySpec's size-gated cases (200 input
  * rows), the call's result collected once. Each call is repeated
  * `reps` times in one JVM on a fresh input.
  *
  * Not compiled with the project: copy it into src/test/scala/graft/
  * (next to GraftTestBus, which it needs) and run
  * `sbt "Test/runMain graft.RoundJobs 3"`. */
object RoundJobs {
  def main(args: Array[String]): Unit = {
    import graft.operators._
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSpec.session
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    var tag = 0L
    def input(exprs: String*)(): DataFrame = {
      tag += 1
      spark.range(200).selectExpr(exprs :+ s"id + $tag as payload": _*)
    }
    val edges = input("id % 40 as a", "(id * 13) % 40 as b") _
    val pairs = input("id div 20 as a", "20 + id % 20 as b") _
    val arcs = input("id % 40 as src", "(id * 7 + 1) % 40 as dst") _
    val nodes = spark.range(40).selectExpr("id as node")
    val seeds = nodes.selectExpr("node", "node % 3 as lbl").filter("node % 7 = 0")
    val cases = Seq[(String, () => DataFrame, DataFrame => DataFrame)](
      ("Hits", arcs, Hits.run(_, 2)),
      ("LabelProp", edges, LabelProp.propagate(nodes, _, seeds, 2)),
      ("KCore", edges, KCore.peel(_, 2L, 3)),
      ("RandomWalk", pairs, RandomWalk.walks(_, 1, 2, "pin")),
      ("Louvain", pairs, Louvain.communities(_, 2)),
      ("Louvain multi-level", pairs, Louvain.communitiesMultiLevel(_, 2, 2)),
      ("ConnectedComponents", edges,
        ConnectedComponents.components(nodes.selectExpr("node as doc_id"), _, "doc_id")),
      ("Coverage", input("id % 25 as doc", "cast(id % 120 as string) as el"),
        Coverage.greedySelect(_, "doc", "el", 3)),
      ("Bfs", arcs, Bfs.hops(_, 0L, 3)),
      ("Sssp", input("id % 40 as src", "(id * 7 + 1) % 40 as dst", "1 + id % 9 as w"),
        Sssp.distances(_, 0L, 3)),
      ("PageRank", arcs, PageRank.run(_, "src", "dst", 2)),
      ("PageRank personalized", arcs,
        PageRank.runPersonalized(_, "src", "dst", nodes.filter("node < 3"), "node", 2)),
      ("Bpe", input("concat('ab', cast(id % 7 as string), cast(id as string)) as word",
          "1 + id % 5 as freq",
          "transform(sequence(1, length(word)), i -> substring(word, i, 1)) as toks"),
        Bpe.train(_, 3)._2))
    cases.foreach { case (name, mk, op) =>
      val counts = (1 to reps).map { _ =>
        val in = mk()
        org.apache.spark.sql.GraftTestBus.drain(spark)
        val before = jobs.get
        LocalTier.forcingDistributed(op(in)).collect()
        org.apache.spark.sql.GraftTestBus.drain(spark)
        jobs.get - before
      }
      println(s"JOBS | $name | ${counts.mkString(" ")} |")
    }
    spark.stop()
  }
}
