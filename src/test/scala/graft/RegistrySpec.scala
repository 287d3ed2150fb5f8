package graft

/** Registry-wide guards: every registered query must execute, and every
  * oracle-checked query must be deterministic (total ORDER BY unless it
  * returns a single aggregate row). Cheap insurance against a future
  * entry silently breaking the driver's t2 gate.
  */
class RegistrySpec extends SparkSpec with RegistrySweep {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose whole output is one (or a few) aggregate rows with no
    * possible order ambiguity. */
  private val singleRow = Set(
    "q46_approx_distinct", "q48_sampling", "q54_exact_dedup_stats",
    "q72_try_cast_numeric", "q74_natural_key_dedup", "q16_bloom_prune",
    "q83_multimodal_decode", "q86_ivf_kmeans", "q110_ann_quantized",
    "q139_skip_summary", "q143_ann_pq", "q153_funnel",
    // single-statistic rationals (their SQL happens to contain window
    // ORDER BYs, but the exemption, not the substring, is why they pass)
    "q174_ks_drift", "q175_roc_auc", "q177_cohen_kappa",
    "q182_monitor_report", "q183_ks_binned", "q184_auc_binned", "q188_krippendorff_alpha",
    "q185_stream_drift_histogram", "q189_tvd_drift", "q190_chi2_drift",
    "q192_w1_drift", "q194_drift_panel", "q195_stream_tvd", "q218_trend_test",
    "q220_cvm_drift", "q224_mh_odds_ratio", "q229_assortativity",
    "q230_modularity", "q231_ams_joinsize", "q232_stream_digest",
    "q236_mcnemar", "q256_js_drift", "q258_stream_jsd", "q260_mcc")

  test("every registry entry analyzes against the live testdata (schema-drift guard)") {
    // Standing guard for the r7 failure mode: the driver regenerated
    // events.parquet with a different timestamp encoding and 21 entries
    // started throwing at ANALYSIS time, surfacing only as a silently
    // shorter correctness file. Forcing `analyzed` against the live
    // testdata dir fails fast with the entry's name when any table's
    // physical schema drifts. NOT free: building a plan is lazy for most
    // entries, but some run eagerly inside q.run() (the stream twins
    // replay full streaming jobs, q96/q143/q86 collect during build, the
    // agri entries materialize their corpus, the round-9 analysis wing
    // runs PrefixSum/globalRank offset jobs), so this sweep re-executes
    // those at full cost on top of the execution sweep below — accepted,
    // because skipping them here would leave exactly the entries with
    // the most moving parts outside the drift guard.
    val (_, failures) = eachEntry(sweepEntries())(_.run(spark, dir).queryExecution.analyzed)
    assert(failures.isEmpty,
      s"entries failing analysis against $dir:\n${failures.mkString("\n")}")
  }

  test("every registered query executes and yields a schema") {
    val (_, failures) = eachEntry(sweepEntries()) { q =>
      val df = q.run(spark, dir)
      assert(df.schema.fields.nonEmpty)
      df.count() // force full execution
    }
    assert(failures.isEmpty, s"queries failed at sf0.001:\n${failures.mkString("\n")}")
  }

  test("every oracle has a total ORDER BY or is a single-row aggregate") {
    val missing = QueryRegistry.all
      .filter(q => q.oracle.isDefined && !singleRow.contains(q.name))
      .filterNot(_.oracle.get.toUpperCase.contains("ORDER BY"))
      .map(_.name)
    assert(missing.isEmpty, s"oracles without ORDER BY: $missing")
  }

  test("oracle-checked outputs are scalar, hashable, tz-safe column types") {
    // Two driver-gate traps this pins forever: (1) the pandas row-sort
    // cannot hash array/map/struct cells (killed q102 in round 2 —
    // array<string> → "unhashable type: ndarray"); (2) raw timestamps
    // hash differently across engines (tz typing) — emit strings/DATEs.
    import org.apache.spark.sql.types._
    def scalarOk(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case TimestampType | TimestampNTZType => false
      case _ => true
    }
    val (schemas, failures) =
      eachEntry(sweepEntries().filter(_.oracle.isDefined))(q => q.run(spark, dir).schema)
    assert(failures.isEmpty, s"oracle-checked queries failing at $dir:\n${failures.mkString("\n")}")
    val offenders = schemas.flatMap { case (q, schema) =>
      val bad = schema.fields.filterNot(f => scalarOk(f.dataType))
      if (bad.isEmpty) None
      else Some(s"${q.name}: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"oracle-checked queries with driver-unhashable output columns:\n${offenders.mkString("\n")}")
  }

  test("eager-agg rule on/off changes no oracle-checked result (registry-wide sweep)") {
    // The per-shape A/B lives in EagerAggSpec; this closes the gap the
    // driver gate can't (it only ever runs with the rule ON): prove the
    // rewrite is result-invisible on EVERY oracle-checked query, not just
    // the shapes the rule was designed against. Oracle-checked entries
    // are deterministic by contract, so a sorted row-string comparison is
    // exact.
    val checked = sweepEntries().filter(_.oracle.isDefined)
    def sweep(on: Boolean): (Map[String, Seq[String]], Seq[String]) = {
      spark.conf.set("spark.graft.eagerAgg.enabled", on.toString)
      try {
        val (rows, failures) =
          eachEntry(checked)(q => q.run(spark, dir).collect().map(_.toString).sorted.toSeq)
        (rows.map { case (q, r) => q.name -> r }.toMap, failures)
      } finally spark.conf.set("spark.graft.eagerAgg.enabled", "true")
    }
    val (off, offFailures) = sweep(on = false)
    val (on, onFailures) = sweep(on = true)
    val failures = (offFailures ++ onFailures).distinct
    assert(failures.isEmpty, s"oracle-checked queries failing at $dir:\n${failures.mkString("\n")}")
    val diffs = off.keys.filter(k => on(k) != off(k)).toSeq.sorted
    assert(diffs.isEmpty, s"eager-agg rule changed results for: ${diffs.mkString(", ")}")
  }

  test("the sweeps leave out the corpus entries only when the corpus is absent") {
    val (all, noneLeft) = RegistrySweep.entries(corpusPresent = true)
    assert(all === QueryRegistry.all && noneLeft.isEmpty)
    val (kept, left) = RegistrySweep.entries(corpusPresent = false)
    assert(left === queries.AgriQueries.qs.map(_.name) && left.size === 8)
    assert(kept.map(_.name) === QueryRegistry.all.map(_.name).filterNot(left.toSet))
  }

  test("query names are unique and well-formed") {
    val names = QueryRegistry.all.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")))
  }

  test("SPARK_GRAFT_ONLY selects by trimmed name prefix; unset selects all") {
    def picked(only: Option[String]) =
      QueryRegistry.all.map(_.name).filter(QueryRegistry.selects(only))
    assert(picked(Some("q01, q02")) === Seq("q01_pricing_summary", "q02_filter_predicates"))
    assert(picked(Some("q01,q02")) === picked(Some(" q01 ,\tq02 ")))
    assert(picked(None) === QueryRegistry.all.map(_.name))
  }
}
