package graft.tools

import graft.QueryRegistry

/** Output-row counts for a query subset at several scale dirs — the
  * evidence behind BENCH_scale.json's "that exponent is output growth,
  * not plan growth" notes. A pair-producing query over ScaleGen's
  * verbatim-replica corpus has a TRUE result that grows super-linearly
  * (every replica of a string matches every replica of its partners), so
  * its time exponent must be read against its output exponent.
  *
  * Usage: runMain graft.tools.CountRows q59_simhash_pairs,q130_editdist_join dir1 dir2 ...
  *
  * `CountRows q01_pricing_summary <sf0.001 dir>` is also the entry smoke
  * check: `SparkEntry.entry` is that query at that scale, and its count
  * must be > 0.
  */
object CountRows {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).toSeq
    val dirs = args.drop(1).toSeq
    val spark = graft.Session.harness()
    val body = names.map { n =>
      val per = dirs.map { d =>
        val c = QueryRegistry.byName(n).run(spark, d).count()
        s""""$d":$c"""
      }.mkString(",")
      s""""$n":{$per}"""
    }.mkString(",")
    println(s"""{"metric":"output_rows","queries":{$body}}""")
    spark.stop()
  }
}
