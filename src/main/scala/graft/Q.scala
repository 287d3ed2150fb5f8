package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registrable operator demo: a Spark implementation plus (where
  * SQL-expressible) a DuckDB oracle over the same tables. The driver
  * hash-compares the two on sf0.01 (Verify) and times the Spark side on
  * sf0.1 (Bench).
  *
  * Determinism contract for oracle-checked entries: total ORDER BY on the
  * output, exact (decimal-derived or integer) values wherever floats are
  * aggregated, matching column aliases on both sides.
  */
final case class Q(
    name: String,
    private val runFn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None) {
  /** Build the query, with the graft extensions (native functions +
    * optimizer rules) registered into the session first — so every
    * registry entry sees the same planning surface in any session
    * (driver-created, test, Verify, Bench). */
  def run: (SparkSession, String) => DataFrame = (s, dir) => {
    plans.GraftExtensions.ensureRegistered(s)
    runFn(s, dir)
  }
}

object Q {
  /** Persist iff this exact plan is not already cached. Query builders
    * run more than once per session (Bench's min-of-2 timing, Verify and
    * queries sharing a subtree like q136/q142's distinct line items), and
    * CacheManager warns on every re-persist of an already-cached plan —
    * the cached data is exactly what the repeat run should reuse, so the
    * correct move is to skip the persist call, not re-issue it.
    * (`df.storageLevel` is a CacheManager lookup by plan, not a field of
    * this DataFrame instance.) */
  def persistOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
    else df

  /** Scratch dir for round-trip/staging queries: a fresh temp dir that is
    * RECURSIVELY deleted at JVM exit. Round-trip entries (q75-q78, q181,
    * q76's partition write, the stream twins' replay/checkpoint stages)
    * used to leak one orphaned table copy per run — harmless at sf0.1,
    * rude at scale. Each invocation still gets a FRESH dir (concurrent
    * test suites may run the same query; streaming restart semantics
    * need a virgin checkpoint), so nothing races on a shared path; the
    * shutdown hook sweeps them all. */
  def scratchDir(prefix: String): String = {
    scratchHookInstalled
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { root =>
        try {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally walk.close()
        } catch { case _: Exception => () } // best-effort: exit hygiene, not correctness
      }
    }, "graft-scratch-cleanup"))
}

object QueryRegistry {

  /** The SQL-text entry surface: register every testdata table as a temp
    * view plus the graft native functions/rules into the session, so a
    * user arriving with a SQL STRING (not a DataFrame program) can run
    * `spark.sql("SELECT graft_bottom_k(...) FROM lineitem ...")`
    * directly. Views are plain parquet scans — Catalyst keeps pushdown/
    * pruning freedom identical to the DataFrame path (same loaders as
    * [[Tables]]). Round-trip coverage: SqlSurfaceSpec proves the custom
    * aggregates and the rewrite rules fire from SQL text exactly as they
    * do from the DataFrame API. */
  def sqlViews(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    plans.GraftExtensions.ensureRegistered(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).createOrReplaceTempView(t))
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
  }

  lazy val all: Seq[Q] = {
    val qs =
      queries.CoreQueries.qs ++
        queries.JoinQueries.qs ++
        queries.WindowQueries.qs ++
        queries.EventQueries.qs ++
        queries.TextQueries.qs ++
        queries.VectorQueries.qs ++
        queries.IngestQueries.qs ++
        queries.UdxQueries.qs ++
        queries.AgriQueries.qs ++
        queries.MaintenanceQueries.qs ++
        queries.CurationQueries.qs ++
        queries.SketchQueries.qs ++
        queries.StreamTwinQueries.qs ++
        queries.AnalysisQueries.qs
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
    qs
  }
  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  /** The `SPARK_GRAFT_ONLY` selection Bench and Verify share: a
    * comma-separated list of name prefixes, each trimmed
    * (`"q01, q02"` selects q01_* and q02_*); unset selects every query. */
  def selects(only: Option[String]): String => Boolean = {
    val prefixes = only.map(_.split(',').map(_.trim).toSeq)
    name => prefixes.forall(_.exists(name.startsWith))
  }
}
