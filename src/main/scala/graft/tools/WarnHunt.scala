package graft.tools

import graft.QueryRegistry

/** Bench-tail hygiene diagnostic: run every registry query 3x (Bench's
  * warmup + 2 timed passes) with stderr markers, so any CacheManager /
  * BlockManager / SimpleFunctionRegistry WARN can be attributed to a
  * query by position in the log. History: these warnings are how real
  * leaks first announce themselves (the r6→r7 cache churn), so the
  * standing expectation is a ZERO-warning run:
  *
  *   sbt "runMain graft.tools.WarnHunt /root/testdata/sf0.001" 2> hunt.log
  *   grep -E "WARN (CacheManager|BlockManager|SimpleFunctionRegistry)" hunt.log
  */
object WarnHunt {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.harness()
    QueryRegistry.all.foreach { q =>
      (1 to 3).foreach { pass =>
        System.err.println(s"### MARK ${q.name} pass $pass")
        try q.run(spark, dir).count()
        catch { case e: Throwable => System.err.println(s"### FAIL ${q.name}: $e") }
      }
    }
    spark.stop()
  }
}
