package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.ingest.AgriPipeline
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Layer-A parity over the reference-shaped fixture: RFC-4180 quoted
  * fields, day-first dates with invalid entries, numeric coercion,
  * null-key filtering, natural-key dedup, partitioned layout
  * (edge cases from SURVEY.md §1.2 / FIXTURES.md).
  */
class AgriPipelineSpec extends SparkSpec {

  private def fixture = getClass.getResource("/agri_fixture.csv").getPath

  test("CSV read preserves quoted commas (RFC-4180)") {
    val raw = AgriPipeline.readCsv(spark, fixture)
    assert(raw.count() === 10)
    val markets = raw.select("Market").collect().map(_.getString(0)).toSet
    assert(markets.contains("Binny Mill (F&V), Bangalore"))
  }

  test("normalize: day-first dates parse, invalid dates coerce to null") {
    val n = AgriPipeline.normalize(AgriPipeline.readCsv(spark, fixture))
    val jan15 = n.filter(col("commodity") === "Apple").select("arrival_date").head().getDate(0)
    assert(jan15.toString === "2020-01-15") // 15/01/2020 parsed day-first
    // 31/02/2020 and 30/02/2020 are invalid -> null
    assert(n.filter(col("arrival_date").isNull).count() === 2)
    // leap day 29/02/2020 is valid
    assert(n.filter(col("arrival_date") === "2020-02-29").count() === 1)
  }

  test("normalize: numeric coercion nulls bad values, keeps decimals") {
    val n = AgriPipeline.normalize(AgriPipeline.readCsv(spark, fixture))
    val onion = n.filter(col("commodity") === "Onion").orderBy("arrival_date")
    val good = onion.head()
    assert(good.getAs[Double]("min_price") === 900.5)
    assert(good.getAs[Double]("modal_price") === 1050.25)
    // "N/A" min price and empty modal price -> null
    assert(n.filter(col("min_price").isNull && col("commodity") === "Onion").count() === 1)
  }

  test("normalize absorbs mixed date formats like pandas dayfirst=True") {
    // pandas dayfirst is a preference, not a strict format: ISO strings
    // still parse. The coalesce-of-formats must match that.
    import spark.implicits._
    val raw = Seq(
      ("Apple", "15/01/2020", "100"),   // day-first
      ("Apple", "2020-01-16", "100"),   // ISO, pandas would absorb it
      ("Apple", "2020-1-7", "100"),     // ISO, non-padded
      ("Apple", "31/02/2020", "100"),   // invalid in any format -> null
      ("Apple", "garbage", "100")       // unparseable -> null
    ).toDF("Commodity", "Arrival_Date", "Modal_Price")
      .select(
        lit("S").as("State"), lit("D").as("District"), lit("M").as("Market"),
        col("Commodity"), lit("V").as("Variety"), lit("G").as("Grade"),
        col("Arrival_Date"), lit("90").as("Min_Price"), lit("110").as("Max_Price"),
        col("Modal_Price"), lit("1").as("Commodity_Code"))
    val dates = AgriPipeline.normalize(raw)
      .select("arrival_date").collect().map(r => Option(r.getDate(0)).map(_.toString))
    assert(dates.toSeq === Seq(
      Some("2020-01-15"), Some("2020-01-16"), Some("2020-01-07"), None, None))
  }

  test("safe_name keeps non-ASCII word chars (Unicode \\w, matching Python)") {
    import spark.implicits._
    val keys = Seq("Café Apple", "Chilli  (Süß)", "  plain  ").toDF("c")
      .select(graft.functions.GraftFunctions.safeName(col("c")).as("k"))
      .collect().map(_.getString(0))
    // Python re: \w keeps é and ü; parens stripped; runs of spaces -> _
    assert(keys.toSeq === Seq("café_apple", "chilli_süß", "plain"))
    // the UDF twin agrees
    val udfKeys = Seq("Café Apple", "Chilli  (Süß)", "  plain  ").toDF("c")
      .select(graft.functions.GraftFunctions.safeNameUdf(col("c")).as("k"))
      .collect().map(_.getString(0))
    assert(udfKeys.toSeq === keys.toSeq)
  }

  test("dropInvalid drops rows lacking commodity or modal price (A7)") {
    val n = AgriPipeline.normalize(AgriPipeline.readCsv(spark, fixture))
    val kept = AgriPipeline.dropInvalid(n)
    assert(n.count() === 10)
    assert(kept.count() === 8) // one null-commodity row, one null-modal-price row
  }

  test("natural-key dedup keeps one row per key, deterministically") {
    val cleaned = AgriPipeline.dropInvalid(
      AgriPipeline.normalize(AgriPipeline.readCsv(spark, fixture)))
    val deduped = AgriPipeline.dedupNaturalKey(cleaned)
    assert(deduped.count() === 7) // the duplicated Apple row collapses
    assert(deduped.filter(col("commodity") === "Apple").count() === 1)
  }

  test("safe_name key normalization matches the reference (A9)") {
    val n = AgriPipeline.normalize(AgriPipeline.readCsv(spark, fixture))
    val keys = n.select("commodity", "commodity_key").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(keys("Paddy(Dhan)(Common)") === "paddydhancommon")
    assert(keys("Banana - Green") === "banana_-_green")
    assert(keys("Green Chilli") === "green_chilli")
  }

  test("JSON page decode with explicit schema (A4)") {
    val tmp = java.nio.file.Paths.get(graft.Q.scratchDir("agri_json"))
    val page = """{"State":"Odisha","District":"Angul","Market":"Angul","Commodity":"Egg","Variety":"Other","Grade":"FAQ","Arrival_Date":"07/06/2021","Min_Price":"550","Max_Price":"600","Modal_Price":"575","Commodity_Code":"367"}
      |{"State":"Kerala","District":"Idukki","Market":"Munnar","Commodity":"Cardamoms","Variety":"Other","Grade":"Small","Arrival_Date":"31/11/2021","Min_Price":"n/a","Max_Price":"1500","Modal_Price":"1450.5","Commodity_Code":"110"}""".stripMargin
    java.nio.file.Files.writeString(tmp.resolve("page0.json"), page)
    val n = AgriPipeline.normalize(AgriPipeline.readJson(spark, tmp.toString))
    val rows = n.orderBy("commodity").collect()
    assert(rows.length === 2)
    assert(rows(1).getAs[java.sql.Date]("arrival_date").toString === "2021-06-07")
    assert(rows(0).isNullAt(rows(0).fieldIndex("arrival_date"))) // 31/11 invalid
    assert(rows(0).isNullAt(rows(0).fieldIndex("min_price")))    // "n/a"
    assert(rows(0).getAs[Double]("modal_price") === 1450.5)
  }

  test("partitioned write produces dir-per-commodity layout (A8/A10)") {
    val out = graft.Q.scratchDir("agri_out")
    val n = AgriPipeline.runBatch(spark, fixture, out)
    assert(n === 7)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.contains("commodity_key=apple"))
    assert(dirs.contains("commodity_key=onion"))
    // partition column round-trips on read
    val back = spark.read.parquet(out)
    assert(back.filter(col("commodity_key") === "apple").count() === 1)
    // the count comes from the write, and must be what the landing holds
    assert(n === back.count())
    assert(partFiles(out) === dirs.filter(_.startsWith("commodity_key=")).map(_ -> 1).toMap)
  }

  /** Part files per `commodity_key=*` dir under a landing. */
  private def partFiles(out: String): Map[String, Int] =
    new java.io.File(out).listFiles().filter(d => d.isDirectory && d.getName.startsWith("commodity_key="))
      .map(d => d.getName -> d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      .toMap

  /** One agmarknet page file holding `rows` after the header. */
  private def page(prefix: String, rows: String*): String = {
    val dir = java.nio.file.Paths.get(graft.Q.scratchDir(prefix))
    val header = AgriPipeline.rawSchema.fieldNames.mkString(",")
    Files.writeString(dir.resolve("page.csv"), (header +: rows).mkString("\n") + "\n")
    dir.resolve("page.csv").toString
  }

  private def withOverwriteMode[T](mode: String)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, mode)
    try body finally spark.conf.set(key, prev)
  }

  /** `runBatch` under a timeout: a count that waits on a metric Spark
    * never emits must fail the test, not hang the suite. */
  private def runBatchWithin(csv: String, out: String): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future(AgriPipeline.runBatch(spark, csv, out)), 120.seconds)
  }

  test("runBatch under dynamic overwrite counts the partitions an earlier landing left") {
    withOverwriteMode("dynamic") {
      val out = graft.Q.scratchDir("agri_dynamic")
      assert(runBatchWithin(fixture, out) === 7)
      // tomato is new; every commodity of the first landing is absent
      // from this batch and survives the overwrite
      val tomato = page("agri_tomato", "Goa,North Goa,Mapusa,Tomato,Local,FAQ,02/01/2020,900,1100,1000,65")
      val n = runBatchWithin(tomato, out)
      assert(n === 8)
      assert(n === spark.read.parquet(out).count())
    }
  }

  test("runBatch lands a page set with no valid rows as 0 rows, on both overwrite modes") {
    val headerOnly = page("agri_header_only")
    val noModal = page("agri_no_modal",
      "Goa,North Goa,Mapusa,Tomato,Local,FAQ,02/01/2020,900,1100,,65",
      "Goa,North Goa,Mapusa,Onion,Local,FAQ,02/01/2020,900,1100,N/A,23")
    for (mode <- Seq("static", "dynamic"); csv <- Seq(headerOnly, noModal)) withOverwriteMode(mode) {
      assert(runBatchWithin(csv, graft.Q.scratchDir("agri_empty")) === 0, s"$mode: $csv")
    }
    // an empty page set never reads as 0 where the landing holds rows
    withOverwriteMode("dynamic") {
      val out = graft.Q.scratchDir("agri_empty_after")
      assert(runBatchWithin(fixture, out) === 7)
      assert(runBatchWithin(headerOnly, out) === 7)
    }
  }

  test("runBatch under static overwrite starts no job after its write job") {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(q => Option(q.getProperty(k))).getOrElse("")
        jobs.add(prop("spark.jobGroup.id") -> prop("spark.sql.execution.root.id"))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = graft.Q.scratchDir("agri_jobs")
      withOverwriteMode("static") {
        sc.setJobGroup("agri-run-batch", "runBatch", interruptOnCancel = false)
        try assert(AgriPipeline.runBatch(spark, fixture, out) === 7) finally sc.clearJobGroup()
      }
      // the bus is asynchronous: a marker job's start arrives after every
      // job runBatch started
      sc.setJobGroup("agri-marker", "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.asScala.exists(_._1 == "agri-marker")) {
        assert(System.nanoTime() < deadline, "listener bus never delivered the marker job")
        Thread.sleep(10)
      }
      // every job runBatch starts belongs to the one SQL execution of the
      // write: no listing, schema or count job reads the landing back
      val roots = jobs.asScala.filter(_._1 == "agri-run-batch").map(_._2).toSeq
      assert(roots.nonEmpty)
      assert(roots.distinct.size === 1 && roots.head.nonEmpty, s"job execution roots: $roots")
    } finally sc.removeSparkListener(listener)
  }
}
