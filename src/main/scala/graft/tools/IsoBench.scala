package graft.tools

/** Same-session A/B timing: `IsoBench <sfDir> q1 q2 ...` runs each named
  * query `Warms` times untimed, then 3 timed runs, and prints each run
  * and the query's min and median. One warm run was not enough: a
  * query's seconds then depended on its position in the list (q187 read
  * 0.17-0.21 s as the 7th of 20 queries and 0.38-0.60 s alone). */
object IsoBench {
  private val Warms = 3

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = graft.Session.harness()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to Warms).foreach(_ => fn(spark, sfDir).count())
      val secs = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"ISO $n run$i $s%.2f s")
        s
      }.sorted
      println(f"ISO $n min ${secs.head}%.2f s median ${secs(1)}%.2f s")
    }
    spark.stop()
  }
}
