package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.internal.StaticSQLConf

/** Session extension registering the graft native expressions so they are
  * callable from SQL and via `call_function` (the (c) tier:
  * SparkSessionExtensions). Install with
  * `.withExtensions(new GraftExtensions)` at session build time, or call
  * [[GraftExtensions.ensureRegistered]] on an existing session (operators
  * do this on entry so they work under any driver-created session).
  *
  * `ensureRegistered` also sizes Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, an LRU of 100 entries by
  * default) to `CodegenCacheEntries` (4096): one pass of the
  * registry compiles far more than 100 distinct classes, so at the
  * default every repeat pass recompiles them all. A value set in the
  * SparkContext conf wins. Spark reads the key once, when its
  * `CodeGenerator` first initializes, so the sizing has no effect in a
  * JVM that compiled generated code before the hook first ran.
  *
  * It binds `fs.file.impl` to [[graft.sinks.ForklessLocalFileSystem]]
  * in the SparkContext's Hadoop conf, unless something is bound there
  * already. Hadoop caches one `file:` FileSystem per JVM, so the binding
  * holds only where the hook runs before the first `file:` path is used;
  * every harness session calls it right after `getOrCreate`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })

  /** graft_dot_i8(a, b) — int8 dot product (quantized ANN kernel). */
  val dotI8Function: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot_i8"),
    new ExpressionInfo(classOf[IntDotProduct].getName, "graft_dot_i8"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot_i8 takes exactly 2 arguments")
      IntDotProduct(children.head, children(1))
    })

  /** graft_top_k(col, k[, capacity]) — Space-Saving heavy hitters. */
  val topKFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_top_k"),
    new ExpressionInfo(classOf[SpaceSavingTopK].getName, "graft_top_k"),
    (children: Seq[Expression]) => {
      def intLit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(s"graft_top_k $what must be an int literal, got $other")
      }
      children match {
        case Seq(c, k) =>
          val kk = intLit(k, "k"); SpaceSavingTopK(c, kk, math.max(kk * 4, 64)).toAggregateExpression()
        case Seq(c, k, cap) =>
          SpaceSavingTopK(c, intLit(k, "k"), intLit(cap, "capacity")).toAggregateExpression()
        case _ => throw new IllegalArgumentException("graft_top_k takes (col, k[, capacity])")
      }
    })

  /** graft_capped_collect(idCol, capPlus1) — bounded-buffer id collector. */
  val cappedCollectFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_capped_collect"),
    new ExpressionInfo(classOf[CappedCollect].getName, "graft_capped_collect"),
    (children: Seq[Expression]) => children match {
      case Seq(c, Literal(cap: Int, _)) => CappedCollect(c, cap).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_capped_collect takes (col, capPlus1: int literal)")
    })

  /** graft_simhash(hvCol, bits) — single-buffer SimHash fold. */
  val simhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimhashAgg].getName, "graft_simhash"),
    (children: Seq[Expression]) => children match {
      case Seq(c, Literal(bits: Int, _)) => SimhashAgg(c, bits).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_simhash takes (hvCol, bits: int literal)")
    })

  /** graft_tdigest(col, p...) — t-digest quantile estimates. */
  val tdigestFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_tdigest"),
    new ExpressionInfo(classOf[TDigestAgg].getName, "graft_tdigest"),
    (children: Seq[Expression]) => {
      require(children.size >= 2, "graft_tdigest takes (col, p1[, p2, ...])")
      // SQL-text percentiles parse as DecimalType literals carrying
      // o.a.s.sql.types.Decimal (graft_tdigest(x, 0.5)); integer literals
      // (graft_tdigest(x, 1)) are also valid quantile spellings.
      val ps = children.tail.map {
        case Literal(p: Double, _) => p
        case Literal(p: Float, _) => p.toDouble
        case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
        case Literal(i: Int, _) => i.toDouble
        case Literal(l: Long, _) => l.toDouble
        case other => throw new IllegalArgumentException(
          s"graft_tdigest percentiles must be numeric literals, got $other")
      }
      TDigestAgg(children.head, ps).toAggregateExpression()
    })

  /** graft_bottom_k(keyCol, payloadCol, k[, desc]) — k smallest (or, with
    * desc = true, largest) (key, payload) pairs per group over any
    * orderable key/payload types: the one-shuffle coordinated-sampling
    * and grouped-top-k kernel. */
  val bottomKFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bottom_k"),
    new ExpressionInfo(classOf[BottomKAgg].getName, "graft_bottom_k"),
    (children: Seq[Expression]) => children match {
      case Seq(key, payload, Literal(k: Int, _)) =>
        BottomKAgg(key, payload, k).toAggregateExpression()
      case Seq(key, payload, Literal(k: Int, _), Literal(desc: Boolean, _)) =>
        BottomKAgg(key, payload, k, desc).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_bottom_k takes (keyCol, payloadCol, k: int literal[, desc: boolean literal])")
    })

  /** graft_bloom(hash60Col, bits, k) — deterministic Bloom filter word
    * array (bits/64 longs, elementwise-OR mergeable). */
  val bloomFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom"),
    new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom"),
    (children: Seq[Expression]) => children match {
      case Seq(c, Literal(bits: Int, _), Literal(k: Int, _)) =>
        BloomAgg(c, bits, k).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "graft_bloom takes (hash60Col, bits: int literal, k: int literal)")
    })

  /** graft_hll(hash60Col) — HyperLogLog register array (64 ints). */
  val hllFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hll"),
    new ExpressionInfo(classOf[HllRegisters].getName, "graft_hll"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_hll takes exactly 1 argument (a 60-bit hash column)")
      HllRegisters(children.head).toAggregateExpression()
    })

  /** Every native function, optimizer rule and planner strategy, listed
    * once in registration order. */
  private val functions = Seq(dotFunction, dotI8Function, topKFunction, hllFunction,
    cappedCollectFunction, simhashFunction, tdigestFunction, bottomKFunction, bloomFunction)
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(RewriteDotProduct, RewriteIntersectOverlap, PushAggThroughJoin)
  private val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy)

  /** Generated-class cache entries: one pass of the whole registry
    * compiles ~2900 distinct classes (at sf0.01 and at sf0.1), plus
    * headroom for the ~200-350 classes per pass whose code embeds a
    * per-run literal and never hits. */
  private val CodegenCacheEntries = 4096

  /** Idempotent late registration into an already-built session, via the
    * public `experimental` hooks for the rules and the strategy (since
    * extensions can only be installed at session build time), plus the
    * generated-class cache sizing and the `file:` FileSystem binding. */
  def ensureRegistered(spark: SparkSession): Unit = {
    // First: the sessionState access below qualifies the warehouse path,
    // which caches the JVM's `file:` FileSystem.
    val hadoop = spark.sparkContext.hadoopConfiguration
    if (hadoop.get("fs.file.impl") == null)
      hadoop.set("fs.file.impl", classOf[graft.sinks.ForklessLocalFileSystem].getName)
    val cacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    // a static key set in the SparkContext conf is copied into every session conf
    if (!spark.sessionState.conf.contains(cacheKey))
      spark.sessionState.conf.setConfString(cacheKey, CodegenCacheEntries.toString)
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    val exp = spark.experimental
    rules.foreach(r => if (!exp.extraOptimizations.contains(r)) exp.extraOptimizations :+= r)
    strategies.foreach(s => if (!exp.extraStrategies.contains(s)) exp.extraStrategies :+= s)
  }
}
