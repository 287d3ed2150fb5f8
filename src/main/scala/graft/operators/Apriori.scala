package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Bounded level-wise frequent-itemset mining (Apriori: Agrawal &
  * Srikant, VLDB 1994) — which item SETS recur across baskets,
  * order-free. The set-shaped sibling of [[PrefixSpan]]: sequential
  * patterns ask "in what order", itemsets ask "together at all" — the
  * association-rule substrate (market baskets, co-failing checks,
  * co-occurring quality flags).
  *
  * Semantics: a basket `bid` supports itemset {i1 < … < ik} iff it
  * contains every element; support = number of distinct baskets.
  * minsup = ceil(minSupportPct% of baskets), held as a ONE-ROW
  * broadcast (never a driver scalar). Itemsets are canonical
  * ascending-sorted comma strings, so each basket generates each
  * itemset exactly once by construction (extension items are strictly
  * greater than the last element — the lexicographic tree walk).
  *
  * Shape per level (fixed `maxLen` rounds — the BPE/PageRank posture):
  * occ_{k-1} (one row per (bid, frequent (k-1)-itemset) carrying its
  * LAST element) equi-joins the item-filtered basket rows on `bid`
  * with an `item > last` residual — so per-basket fanout is bounded by
  * basket size, never vocabulary — then prunes against minsup.
  * count(*) IS the basket count (occ is distinct-by-construction).
  * Every join keys on bid: one partitioning serves all levels. Apriori
  * soundness: a candidate extends only a SUPPORTED (k-1)-occurrence, so
  * every subset-infrequent branch dies before it fans out.
  *
  * Exactness: pure integer counting and string concatenation — a SQL
  * oracle unrolls the levels as CTEs verbatim (q251).
  *
  * Input `rows` needs (bid, item) with item a string; duplicates are
  * collapsed (set semantics). Returns (itemset, len, support),
  * unordered — callers apply the total order.
  */
object Apriori {

  /** Size-guarded routing bound (the PageRank.runLocal / PrefixSpan
    * posture): a deduped basket frame inside the bound mines in memory
    * at zero per-level job cost — each distributed level is ~4
    * fixed-cost jobs whatever the data volume. The local tier computes
    * the identical integer/string recurrence (AprioriSpec pins local ≡
    * distributed on random baskets); past the bound the level-wise join
    * plan runs unchanged — at 100 TB that is the only tier. */
  private val LocalRowLimit = 2L << 20

  def frequentItemsets(rows: DataFrame, minSupportPct: Int, maxLen: Int): DataFrame = {
    require(minSupportPct >= 1 && minSupportPct <= 100,
      s"Apriori wants minSupportPct in [1, 100], got $minSupportPct")
    require(maxLen >= 1 && maxLen <= 6,
      s"Apriori wants maxLen in [1, 6] (the itemset grid is O(|items|^maxLen)), got $maxLen")
    val gate = new LocalTier(LocalRowLimit, Seq(rows.schema("bid").dataType))
    val b = gate.cache(
      rows.select(col("bid"), col("item").cast("string").as("item")).distinct())
    gate.collect(b).foreach { case Seq(arr) =>
      return runLocal(rows.sparkSession,
        arr.map(r => (r.get(0), r.getString(1))), minSupportPct, maxLen)
    }
    val minsup = graft.Q.persistOnce(b.agg(
      expr(s"(count(distinct bid) * $minSupportPct + 99) div 100").as("minsup")))
    val f1 = b.groupBy("item").agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(minsup)).filter(col("n1") >= col("minsup")).select("item")
    val bf = graft.Q.persistOnce(b.join(broadcast(f1), "item")
      .select(col("bid"), col("item")))
    def support(occ: DataFrame, k: Int): DataFrame =
      occ.groupBy("iset").agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(minsup)).filter(col("support") >= col("minsup"))
        .select(col("iset"), lit(k).as("len"), col("support"))
    var occ = graft.Q.persistOnce(
      bf.select(col("bid"), col("item").as("iset"), col("item").as("last")))
    var out = support(occ, 1)
    for (k <- 2 to maxLen) {
      val cand = graft.Q.persistOnce(
        occ.join(bf, Seq("bid"))
          .filter(col("item") > col("last"))
          .select(col("bid"), concat(col("iset"), lit(","), col("item")).as("iset"),
            col("item").as("last")))
      val sup = support(cand, k)
      occ = graft.Q.persistOnce(cand.join(sup.select("iset"), "iset")
        .select(col("bid"), col("iset"), col("last")))
      out = out.unionAll(sup)
    }
    out.select(col("iset").as("itemset"), col("len"), col("support"))
  }

  /** Spark's string ordering is unsigned UTF-8 byte order
    * (UTF8String.compareTo); the local tier's `item > last` walk must
    * sort by exactly that, not Java's UTF-16 code-unit order. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver tier: the identical level-wise recurrence on the collected
    * distinct (bid, item) rows — exact integer counting and string
    * concatenation, row-for-row the distributed frame (candidates are
    * row bags, never re-deduped, exactly like the join), so the two
    * tiers are bit-identical (AprioriSpec pins them on random baskets). */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      rowsArr: Array[(Any, String)], minSupportPct: Int, maxLen: Int): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val byBid = mutable.HashMap.empty[Any, mutable.ArrayBuffer[String]]
    rowsArr.foreach { case (bid, item) =>
      byBid.getOrElseUpdate(bid, mutable.ArrayBuffer.empty) += item
    }
    val nBid = byBid.size.toLong
    val minsup = (nBid * minSupportPct + 99L) / 100L
    val itemN = mutable.HashMap.empty[String, Long]
    byBid.valuesIterator.foreach(_.foreach(it =>
      itemN.update(it, itemN.getOrElse(it, 0L) + 1L)))
    val f1 = itemN.iterator.filter(_._2 >= minsup).map(_._1).toSet
    val out = mutable.ArrayBuffer.empty[Row]
    f1.foreach(it => out += Row(it, 1, itemN(it)))
    // per-basket f1 items in ascending UTF-8 order (the `item > last`
    // lexicographic tree walk becomes an index walk)
    val baskets: Array[Array[String]] = byBid.valuesIterator
      .map(_.filter(f1.contains).sortWith(utf8Lt).toArray)
      .filter(_.nonEmpty).toArray
    var occ: Array[mutable.ArrayBuffer[(String, Int)]] = baskets.map { items =>
      val buf = mutable.ArrayBuffer.empty[(String, Int)]
      items.indices.foreach(i => buf += ((items(i), i)))
      buf
    }
    var k = 2
    var drained = false
    while (k <= maxLen && !drained) {
      val supportN = mutable.HashMap.empty[String, Long]
      val cands = baskets.indices.map { bi =>
        val items = baskets(bi)
        val buf = mutable.ArrayBuffer.empty[(String, Int)]
        occ(bi).foreach { case (iset, li) =>
          var j = li + 1
          while (j < items.length) {
            val iset2 = iset + "," + items(j)
            buf += ((iset2, j))
            supportN.update(iset2, supportN.getOrElse(iset2, 0L) + 1L)
            j += 1
          }
        }
        buf
      }
      val freq = supportN.filter(_._2 >= minsup)
      freq.foreach { case (iset2, n) => out += Row(iset2, k, n) }
      if (freq.isEmpty) drained = true // further levels extend nothing
      else occ = cands.map(_.filter(c => freq.contains(c._1))).toArray
      k += 1
    }
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("itemset", StringType, nullable = true),
      StructField("len", IntegerType, nullable = false),
      StructField("support", LongType, nullable = false))))
  }
}
