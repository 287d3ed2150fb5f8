package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev measurement for the engine's two residual float channels, run at
  * sf0.01 and sf0.1 and cited in the scaladocs that own each posture:
  *
  *  1. the −ln micronat floors (q120 unigram / q243 Kneser–Ney grids) —
  *     minimum distance of the scaled log to its floor boundary, and
  *     that distance as a multiple of Guards.lnMicronatFloor's refusal
  *     threshold (|s|·4e-15 + 1e-12). A margin ≫ 1 means the in-plan
  *     guard is pure insurance on the real corpora;
  *  2. the Efraimidis–Spirakis order keys (q147/q151/q245) — two
  *     statistics per ranking: (a) the LEGACY minimum relative gap
  *     between ADJACENT raw keys (the trend whose ~3-orders-per-10×
  *     shrink motivated the r14 quantization — kept as the record, no
  *     longer a safety margin), and (b) the QUANTIZED channel that
  *     replaced it (Sampling.esKeyMicro): min distance of s = ky·10⁶
  *     to its floor boundary, over all keys and over the top-k
  *     membership-relevant region — a cross-engine cell flip needs a
  *     key within ~|s|·1e-15 of a boundary, so top-k distances ≫ that
  *     certify the sample, and the all-rows minimum records the 1/n
  *     trend honestly.
  *
  * Prints one JSON line per sf dir. Not a driver surface — a committed,
  * reproducible measurement (the r12 verdict's "pinned measurement"
  * alternative for the ordering keys, where an in-plan boundary guard
  * has no single column to ride: the boundary is BETWEEN rows).
  */
object FloatMargin {
  private val RelEps = 4e-15
  private val AbsEps = 1e-12

  /** (min boundary distance, min distance/threshold) over num/den rows. */
  private def boundary(nd: DataFrame): (Double, Double) = {
    val s = -log(col("num").cast("double") / col("den").cast("double")) * lit(1e6)
    val dist = abs(s - rint(s))
    val thr = abs(s) * lit(RelEps) + lit(AbsEps)
    val r = nd.filter(col("num") =!= col("den"))
      .select(min(dist).as("d"), min(dist / thr).as("m")).head
    (r.getDouble(0), r.getDouble(1))
  }

  /** Min relative gap between rank-adjacent keys (columns: grp?, ky).
    * The LEGACY raw-double-order channel: its measured shrink (~3 orders
    * per 10× of data) is what motivated the r14 quantization — kept as
    * the trend record, not a safety margin. */
  private def minGap(keyed: DataFrame, grouped: Boolean): Double = {
    val w = if (grouped) Window.partitionBy("grp").orderBy("ky")
            else Window.partitionBy(lit(1)).orderBy("ky")
    keyed.withColumn("prev", lag("ky", 1).over(w))
      .filter(col("prev").isNotNull && col("ky") =!= col("prev"))
      .select(min((col("ky") - col("prev")) /
        greatest(abs(col("ky")), abs(col("prev")))).as("g"))
      .head.getDouble(0)
  }

  /** The r14 QUANTIZED-key channel (Sampling.esKeyMicro): min distance
    * of s = ky·10⁶ to its floor boundary, (a) over every key and (b)
    * over the top `topN` keys per ranking — the membership-relevant
    * region (a cell flip elsewhere cannot change the sample). Distances
    * are in CELLS: a flip needs ~|s|·1e-15 ≈ 1e-8..1e-6 of a cell, so
    * any top-k distance ≫ that is engine-safe; the all-rows minimum
    * shrinks like 1/n by uniformity and is reported for the trend. */
  private def cellBoundary(keyed: DataFrame, grouped: Boolean, topN: Int): (Double, Double) = {
    val s = col("ky") * lit(1e6)
    val dist = abs(s - rint(s))
    val all = keyed.select(min(dist).as("d")).head.getDouble(0)
    val w = if (grouped) Window.partitionBy("grp").orderBy("ky")
            else Window.partitionBy(lit(1)).orderBy("ky")
    val top = keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select(min(dist).as("d")).head.getDouble(0)
    (all, top)
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
               else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Session.harness()
    import graft.functions.GraftFunctions.tokens

    for (dir <- dirs) {
      val docs = graft.Tables.documents(spark, dir)

      // q120 grid: one (cf, total) ratio per distinct term
      val vocab = docs.select(explode(tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("num"))
      val total = vocab.agg(sum("num").as("den"))
      val (d120, m120) = boundary(vocab.crossJoin(broadcast(total)))

      // q243 grid: one KN num/den per distinct bigram type (the same
      // count algebra as operators.KneserNey.bigramScore)
      val big = docs.select(explode(graft.operators.KneserNey.bigramsFromTokens(
          tokens(lower(col("text"))))).as("bg"))
        .select(col("bg.v").as("v"), col("bg.w").as("w"))
      val bc = big.groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
      val ctx = bc.groupBy("v").agg(sum("c_vw").as("c_v"), count(lit(1)).as("n1p_v"))
      val cont = bc.groupBy("w").agg(count(lit(1)).as("n1p_w"))
      val bt = bc.agg(count(lit(1)).as("b"))
      val knGrid = bc.join(ctx, "v").join(cont, "w").crossJoin(broadcast(bt))
        .select(
          (col("b") * (lit(4L) * col("c_vw") - 3L) +
            lit(3L) * col("n1p_v") * col("n1p_w")).as("num"),
          (lit(4L) * col("b") * col("c_v")).as("den"))
      val (d243, m243) = boundary(knGrid)

      // q147 keys: global ES ranking with the ppm source weights
      val perSrc = docs
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("source").agg(sum("n_tokens").as("src_tokens"))
      val nSrc = perSrc.select(count(lit(1)).as("n_src"), sum("src_tokens").as("total_tokens"))
      val wppm = perSrc.crossJoin(broadcast(nSrc))
        .select(col("source"),
          expr("(total_tokens * 1000000) DIV (n_src * src_tokens)").as("weight_ppm"))
      val k147 = docs.select(col("doc_id"), col("source"))
        .join(broadcast(wppm), "source")
        .filter(col("weight_ppm") > 0)
        .select(graft.operators.Sampling.esKey("s147", col("doc_id"),
          col("weight_ppm").cast("double") / 1000000.0).as("ky"))
      val g147 = minGap(k147, grouped = false)
      val (cb147, cbTop147) = cellBoundary(k147, grouped = false, topN = 30)

      // q151 keys: per-language ES ranking weighted by doc length
      val k151 = docs
        .filter(col("n_chars").cast("double") / 1000.0 > 0)
        .select(col("lang").as("grp"),
          graft.operators.Sampling.esKey("s151", col("doc_id"),
            col("n_chars").cast("double") / 1000.0).as("ky"))
      val g151 = minGap(k151, grouped = true)
      val (cb151, cbTop151) = cellBoundary(k151, grouped = true, topN = 8)

      // q245 grids + keys: the DSIR bucket LMs take 2·K lnMicronatFloor
      // floors (both smoothed ratios per bucket), and the draw ranks by
      // ln(−ln u) − lw/10⁶ — measure both channels like q120/q147
      val dsirBig = docs.select(col("doc_id"), col("lang"),
          explode(graft.operators.KneserNey.bigramsFromTokens(
            tokens(lower(col("text"))))).as("bg"))
        .select(col("doc_id"), col("lang"),
          (graft.functions.GraftFunctions.hash60("dsir",
            concat(col("bg.v"), lit(" "), col("bg.w"))) % 4096L).as("b"))
      val ddb = dsirBig.groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c_doc"))
      val draw = ddb.groupBy("b").agg(sum("c_doc").as("c_r"))
      val dtgt = ddb.filter(col("lang") === "en").groupBy("b").agg(sum("c_doc").as("c_t"))
      val dnr = draw.agg(sum("c_r").as("n_r"))
      val dnt = dtgt.agg(coalesce(sum("c_t"), lit(0L)).as("n_t"))
      val grids = draw.crossJoin(broadcast(dnr))
        .select((col("c_r") + 1L).as("num"), (col("n_r") + 4096L).as("den"))
        .unionAll(dtgt.crossJoin(broadcast(dnt))
          .select((col("c_t") + 1L).as("num"), (col("n_t") + 4096L).as("den")))
      val (d245, m245) = boundary(grids)
      val model = draw.join(dtgt, Seq("b"), "left")
        .crossJoin(broadcast(dnr)).crossJoin(broadcast(dnt))
        .select(col("b"),
          (graft.operators.Guards.lnMicronatFloor(
              col("c_r") + 1L, col("n_r") + 4096L, "fm") -
            graft.operators.Guards.lnMicronatFloor(
              coalesce(col("c_t"), lit(0L)) + 1L, col("n_t") + 4096L, "fm")).as("dlt"))
      val k245 = ddb.join(broadcast(model), "b")
        .groupBy("doc_id").agg(sum(col("c_doc") * col("dlt")).as("lw"))
        .select((log(-log((graft.functions.GraftFunctions.hash60("s245", col("doc_id"))
            + lit(1L)).cast("double") / lit((1L << 60).toDouble)))
          - col("lw").cast("double") / lit(1e6)).as("ky"))
      val g245 = minGap(k245, grouped = false)
      val (cb245, cbTop245) = cellBoundary(k245, grouped = false, topN = 30)

      // q256 grid: per event-type category, both JSD mixture ratios
      // (mden, 2·p·n2) and (mden, 2·q·n1) — the jsDivergence algebra
      val ev = graft.Tables.events(spark, dir)
        .select((col("user_id") % 2 === 0).as("s1"), col("event_type").as("v"))
        .groupBy("v")
        .agg(sum(when(col("s1"), 1L).otherwise(0L)).as("p"),
          sum(when(col("s1"), 0L).otherwise(1L)).as("q"))
      val evTot = ev.agg(sum("p").as("n1"), sum("q").as("n2"))
      val jsGrid = ev.crossJoin(broadcast(evTot))
        .withColumn("mden", col("p") * col("n2") + col("q") * col("n1"))
        .select(col("mden"), col("p"), col("q"), col("n1"), col("n2"))
      val jsNd = jsGrid.filter(col("p") > 0)
        .select(col("mden").as("num"), (lit(2L) * col("p") * col("n2")).as("den"))
        .unionAll(jsGrid.filter(col("q") > 0)
          .select(col("mden").as("num"), (lit(2L) * col("q") * col("n1")).as("den")))
      val (d256, m256) = boundary(jsNd)

      // q257 grid: one PMI ratio (c_v·c_w, N·c_vw) per bigram above the
      // evidence floor — the q257 algebra over the same bc/ctx counts
      val pmiCv = bc.groupBy("v").agg(sum("c_vw").as("c_v"))
      val pmiCw = bc.groupBy("w").agg(sum("c_vw").as("c_w"))
      val pmiN = bc.agg(sum("c_vw").as("nn"))
      val pmiNd = bc.filter(col("c_vw") >= 5L)
        .join(pmiCv, "v").join(pmiCw, "w").crossJoin(broadcast(pmiN))
        .select((col("c_v") * col("c_w")).as("num"), (col("nn") * col("c_vw")).as("den"))
      val (d257, m257) = boundary(pmiNd)

      println(s"""{"dir":"$dir","q120_min_boundary_dist":$d120,"q120_margin_x":$m120,""" +
        s""""q243_min_boundary_dist":$d243,"q243_margin_x":$m243,""" +
        s""""q245_min_boundary_dist":$d245,"q245_margin_x":$m245,""" +
        s""""q256_min_boundary_dist":$d256,"q256_margin_x":$m256,""" +
        s""""q257_min_boundary_dist":$d257,"q257_margin_x":$m257,""" +
        s""""q147_min_rel_key_gap":$g147,"q151_min_rel_key_gap":$g151,""" +
        s""""q147_min_cell_dist":$cb147,"q147_topk_cell_dist":$cbTop147,""" +
        s""""q151_min_cell_dist":$cb151,"q151_topk_cell_dist":$cbTop151,""" +
        s""""q245_min_cell_dist":$cb245,"q245_topk_cell_dist":$cbTop245,""" +
        s""""q245_min_rel_key_gap":$g245}""")
    }
    spark.stop()
  }
}
