package graft
object Bench {

  /** Fold N timed passes into (per-query min over successful passes,
    * per-query error for queries with NO successful pass). Factored out
    * of main so BenchAggregationSpec can pin the r7 failure mode: a
    * crashed query must surface as an error, never as a fast time.
    */
  def aggregate(passes: Seq[Map[String, Either[String, Double]]])
      : (Seq[(String, Double)], Seq[(String, String)]) = {
    val allNames = passes.head.keys.toSeq.sorted
    val results = allNames.flatMap { name =>
      val oks = passes.flatMap(_(name).toOption)
      if (oks.nonEmpty) Some(name -> oks.min) else None
    }
    val errors = allNames.flatMap { name =>
      if (passes.forall(_(name).isLeft)) {
        // Report the MOST COMMON failure across passes (ties broken
        // toward the later pass): pass 1 may carry a transient (e.g. an
        // IO listing race) while later passes show the real root cause.
        val msgs = passes.map(_(name).left.getOrElse("error"))
        val best = msgs.distinct.maxBy(m => (msgs.count(_ == m), msgs.lastIndexOf(m)))
        Some(name -> best)
      } else None
    }
    (results, errors)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.harness()
    // Unset SPARK_GRAFT_ONLY = every registered query, as SparkEntry
    // promises. Added r14 for the carried-query drift attribution: run
    // an older round's exact query set ALONE to separate suite-
    // cumulative session pressure from per-plan cost.
    val selects = QueryRegistry.selects(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.queries.filter { case (name, _) => selects(name) }
    // Steady-state methodology: one untimed pass first, then the timed
    // passes. A single cold run charges JVM tiered-compilation (C2 only
    // kicks in at volume: measured 12.6s cold vs 1.7s steady on the
    // shingle self-join) and page-cache misses to whichever query runs
    // first, which measures the JVM, not the plans.
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // Min-of-N (N=2) per query: this host shows 5-8x transient swings
    // between a loaded and an idle run of the same unchanged plan
    // (r4 driver recorded q63 at 10.4s where three isolated re-runs
    // measured 1.6-1.8s). Taking each query's minimum over two timed
    // passes is the standard antidote to that contention noise; the
    // marginal cost is one extra steady-state pass.
    val timedPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // A crashed query MUST NOT be booked as a fast success (r7 shipped 21
    // broken queries as ~0.05s "wins" inside the total). Each attempt is
    // Right(seconds) or Left(error); a query only contributes to the total
    // if at least one timed pass succeeded, and any query with zero
    // successful passes is reported in "errors" and fails the run (rc 1).
    def timeOnce(): Map[String, Either[String, Double]] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); name -> Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          name -> Left(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(160))
        }
      }
    val passes = (1 to math.max(1, timedPasses)).map(_ => timeOnce())
    val (results, errors) = aggregate(passes)
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString } + "\""
    val qs = (results.map { case (k, v) => "\"" + k + "\":" + r3(v) } ++
      errors.map { case (k, m) => "\"" + k + "\":" + jstr("ERROR " + m) })
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Emission contract, learned the hard way over four rounds: the
    // harness keeps only a ~2000-char tail of stdout, and the full
    // 125-query map is ~3.4 KB, so a final line carrying the map gets
    // its head (including "{"metric":...) sliced off and fails to
    // parse (BENCH_r01-r04 all "parsed": null). The FINAL stdout line
    // must therefore be totals-only (~130 bytes); the full per-query
    // map lives in bench_out.json, written first.
    val fullLine = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","passes":${passes.size},"errors":${errors.size}}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // Mirror is best-effort: the println below is the contract line, so a
    // read-only cwd must not fail the run after the queries completed.
    try {
      val out = java.nio.file.Paths.get(detailPath)
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () }
    val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"passes":${passes.size},"errors":${errors.size},"detail":"$detailPath"}"""
    spark.stop()
    errors.foreach { case (n, m) => System.err.println(s"[bench] FAILED $n: $m") }
    println(summary)
    if (errors.nonEmpty) sys.exit(1)
  }
}
