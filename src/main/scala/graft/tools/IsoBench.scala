package graft.tools
object IsoBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = graft.Session.harness()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"ISO $n run$i ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
