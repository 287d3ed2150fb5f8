package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.QueryRegistry

/** Plan inspection for registry queries, all in one session:
  * `sbt "runMain graft.tools.Explain q147_weighted_subset_es q210_weighted_median"`
  * (data dir from `SPARK_GRAFT_SF_DIR`, default sf0.01) prints, per
  * query, a `==== <name> ====` header, the formatted physical plan (the
  * view the scale review reads: shuffle count, pushed filters, codegen
  * spans) and then the executed plan (the text PlanQualitySpec pins
  * against). A query whose plan fails prints `EXPLAIN FAILED: ...`
  * and the run goes on. An optimization round's evidence file is one
  * redirect: `... Explain q1 q2 > plans/rN/before.txt`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.harness()
    args.foreach { name =>
      println(s"==== $name ====")
      println(
        try {
          val qe = QueryRegistry.byName(name).run(spark, dir).queryExecution
          qe.explainString(FormattedMode) + "\n" + qe.executedPlan
        } catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" })
    }
    spark.stop()
  }
}
