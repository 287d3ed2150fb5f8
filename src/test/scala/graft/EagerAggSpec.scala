package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

/** PushAggThroughJoin (eager aggregation): the rewrite must be invisible
  * in results — every shape is run with the rule on and off and compared
  * row-for-row — and visible in the plan (partial aggregate below the
  * join on the fact side).
  */
class EagerAggSpec extends SparkSpec {
  import spark.implicits._

  // d = exact decimal twin of x; double sums are excluded from the push
  // by policy (re-associated IEEE-754 addition), so the push tests
  // aggregate d and the guard tests prove x does NOT push.
  private def fact = Seq(
    (1L, 10.0, 1), (1L, 20.0, 2), (2L, 30.0, 3), (2L, 40.0, 4),
    (3L, 50.0, 5), (4L, -5.0, 6), (4L, 0.5, 7),
  ).toDF("k", "x", "n").withColumn("d", col("x").cast("decimal(18,2)"))

  // note key 2 duplicated (dim-side multiplicity) and key 9 childless
  private def dim = Seq(
    (1L, "a"), (2L, "b"), (2L, "b2"), (3L, "a"), (4L, "c"), (9L, "z"),
  ).toDF("k", "g")

  private def withRule[T](on: Boolean)(body: => T): T = {
    spark.conf.set("spark.graft.eagerAgg.enabled", on.toString)
    try body finally spark.conf.set("spark.graft.eagerAgg.enabled", "true")
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameOnOff(build: => DataFrame): Unit = {
    val off = withRule(false)(collectSorted(build))
    val on = withRule(true)(collectSorted(build))
    assert(on === off)
  }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.left.isInstanceOf[Aggregate] || j.right.isInstanceOf[Aggregate] => j
    }.nonEmpty

  test("sum/count/min/max group-by-dim: pushed plan, identical results (dup dim keys)") {
    def q = fact.join(dim, "k").groupBy("g").agg(
      sum("d").as("sx"), count(lit(1)).as("c"), min("x").as("mn"), max("n").as("mx"))
    assertSameOnOff(q)
    assert(fired(q), "rule did not push the aggregate below the join")
    // dup dim key 2 must double-count its fact rows, exactly like the
    // un-pushed plan: g=b rows (2 dim dups × 2 fact rows) → c=2, sx=70
    val b = q.filter(col("g").isin("b", "b2")).collect()
    assert(b.forall(r => r.getLong(2) === 2L &&
      r.getDecimal(1) === new java.math.BigDecimal("70.00")))
  }

  test("count-only aggregate pushes toward the non-grouped side") {
    def q = fact.join(dim, "k").groupBy("g").agg(count(lit(1)).as("c"))
    assertSameOnOff(q)
    assert(fired(q))
  }

  test("empty fact side: pushed COUNT still returns 0, not null") {
    def q = fact.filter(col("x") > 1e9).join(dim, "k")
      .agg(count(lit(1)).as("c"), sum(col("d")).as("sx"))
    assertSameOnOff(q)
    val r = q.collect()(0)
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1))
  }

  test("decimal sums keep their precision/scale through the two-level sum") {
    def q = fact.join(dim, "k").groupBy("g")
      .agg(sum(col("x").cast("decimal(18,2)")).as("sx"))
    val offSchema = withRule(false)(q.schema)
    val onSchema = withRule(true)(q.schema)
    assert(onSchema === offSchema) // sum(decimal(18,2)) stays decimal(28,2)
    assertSameOnOff(q)
  }

  test("decimal AVG decomposes into sum/count and pushes; schema and rows identical") {
    def q = fact.join(dim, "k").groupBy("g").agg(avg("d").as("a"), sum("d").as("sx"))
    val offSchema = withRule(false)(q.schema)
    val onSchema = withRule(true)(q.schema)
    assert(onSchema === offSchema) // avg(decimal(18,2)) stays decimal(22,6)
    assertSameOnOff(q)
    assert(fired(q), "decimal AVG must push as sum/count")
    // dup dim key b: avg over (30, 40) with dim multiplicity 1 per alias
    val b = q.filter(col("g") === "b").collect()(0)
    assert(b.getDecimal(1) === new java.math.BigDecimal("35.000000"))
  }

  test("float/double SUM and AVG never push (IEEE-754 re-association policy)") {
    // 0.1 is not exactly representable: per-key partial sums would
    // round differently from row-by-row accumulation if pushed.
    val fpFact = Seq((1L, 0.1), (1L, 0.2), (1L, 0.3), (2L, 1e16), (2L, 1.0), (2L, -1e16))
      .toDF("k", "x")
    def qSum = fpFact.join(dim, "k").groupBy("g").agg(sum("x").as("sx"))
    def qAvg = fpFact.join(dim, "k").groupBy("g").agg(avg("x").as("a"))
    for (q <- Seq(qSum, qAvg)) {
      assert(!fired(q), s"double aggregate must not push:\n${q.queryExecution.optimizedPlan}")
      assertSameOnOff(q)
    }
    // the mixed case bails entirely: one non-decomposable fn blocks all
    def qMixed = fpFact.join(dim, "k").groupBy("g")
      .agg(sum("x").as("sx"), count(lit(1)).as("c"))
    assert(!fired(qMixed))
  }

  test("guards: distinct, non-decomposable, theta joins, and mixed-side groupings bail") {
    def qDistinct = fact.join(dim, "k").groupBy("g").agg(countDistinct("n").as("c"))
    def qAvg = fact.join(dim, "k").groupBy("g").agg(avg("x").as("a"))
    def qTheta = fact.as("f").join(dim.as("d"), col("f.k") < col("d.k"))
      .groupBy(col("d.g")).agg(sum("d").as("sx"))
    def qMixed = fact.as("f").join(dim.as("d"), col("f.k") === col("d.k"))
      .groupBy(concat(col("g"), col("n"))).agg(sum("d").as("sx"))
    for (q <- Seq(qDistinct, qAvg, qTheta, qMixed)) {
      assert(!fired(q), s"rule must not fire on:\n${q.queryExecution.optimizedPlan}")
      assertSameOnOff(q)
    }
  }

  test("fires only once: the pushed plan is a fixpoint") {
    val q = fact.join(dim, "k").groupBy("g").agg(sum("d").as("sx"))
    val aggsBelowJoins = q.queryExecution.optimizedPlan.collect {
      case j: Join => Seq(j.left, j.right).count(_.isInstanceOf[Aggregate])
    }.sum
    assert(aggsBelowJoins === 1)
  }

  test("cardinality guard: near-unique fact key with column stats suppresses the push") {
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // unique key (ndv == rowCount): pushing would shuffle everything
      // for zero reduction — the guard must bail
      spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS decimal(18,2)) AS d")
        .write.mode("overwrite").saveAsTable("eager_fact_unique")
      // 10 distinct keys over 1000 rows: 100x reduction — must still push
      spark.range(0, 1000).selectExpr("id % 10 AS k", "CAST(id AS decimal(18,2)) AS d")
        .write.mode("overwrite").saveAsTable("eager_fact_dense")
      spark.sql("ANALYZE TABLE eager_fact_unique COMPUTE STATISTICS FOR COLUMNS k")
      spark.sql("ANALYZE TABLE eager_fact_dense COMPUTE STATISTICS FOR COLUMNS k")
      val dimT = spark.range(0, 1000).selectExpr("id AS k", "CAST(id % 7 AS string) AS g")

      def qUnique = spark.table("eager_fact_unique").join(dimT, "k")
        .groupBy("g").agg(sum("d").as("sx"))
      assert(!fired(qUnique),
        s"guard must suppress push on near-unique key:\n${qUnique.queryExecution.optimizedPlan}")
      assertSameOnOff(qUnique)

      def qDense = spark.table("eager_fact_dense").join(dimT, "k")
        .groupBy("g").agg(sum("d").as("sx"))
      assert(fired(qDense), "low-ndv key with stats must still push")
      assertSameOnOff(qDense)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
      spark.sql("DROP TABLE IF EXISTS eager_fact_unique")
      spark.sql("DROP TABLE IF EXISTS eager_fact_dense")
    }
  }
}
