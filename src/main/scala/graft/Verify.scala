package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.harness()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q145,q146 runs just those.
    // Unset = everything, as SparkEntry promises.
    val selects = QueryRegistry.selects(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.queries.filter { case (name, _) => selects(name) }
    // A failed query must surface as a RED row, never a missing one: r7's
    // 18-row regression shipped invisibly because failures were only
    // stderr lines and the driver omits absent outputs. On failure we
    // write a one-row sentinel (column "graft_verify_error") — its schema
    // can never match an oracle, so the driver's compare goes red with the
    // error text in the dump — plus an errors.json for humans.
    import spark.implicits._
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")
        failures(name) = msg.replaceAll("\\s+", " ").take(300)
        System.err.println(s"[verify] $name failed: $msg")
        try Seq(failures(name)).toDF("graft_verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.nonEmpty) {
      val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    }
    // Loud invariant: every registered query produced an output directory.
    val written = selected.keys.count(n => new java.io.File(s"$outDir/$n").exists())
    if (written != selected.size)
      System.err.println(s"[verify] INVARIANT VIOLATED: wrote $written of ${selected.size} outputs")
    System.err.println(s"[verify] ${selected.size} queries, ${failures.size} failed")
    spark.stop()
    // Query failures are NOT an exit-1: they already surface as red rows
    // via the sentinels, and a nonzero rc could make the driver discard
    // the whole correctness file. Only a broken sentinel path (an output
    // genuinely missing) is irrecoverably silent — that exits 1.
    if (written != selected.size) sys.exit(1)
  }
}
