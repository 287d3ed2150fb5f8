package graft.tools
import org.apache.spark.sql.SparkSession
object IsoBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    // cores as graft.Bench takes them, so an A/B matches the bench's session
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
