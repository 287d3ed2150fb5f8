package graft.queries

import graft.{Q, Tables}
import graft.functions.GraftFunctions._
import graft.operators.{CandidateJoin, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Verifiable-sketch surface: deterministic Bloom-filter decontamination
  * and KMV (bottom-k) sketch set algebra. Everything here is a pure
  * function of (seed, data) — built on [[hash60]] and integer arithmetic
  * only — so DuckDB replays registers, probe outcomes (including false
  * positives) and estimator values EXACTLY, not just within a tolerance.
  *
  * Scale framing: both sketches are the "bounded metadata" tier of
  * corpus curation. A Bloom filter of every eval-set shingle fits in MBs
  * and broadcasts to 1000 executors, turning decontamination of a 100 TB
  * train corpus into a scan-stage probe with zero shuffle; KMV sketches
  * of two corpora's token sets are k longs each and answer
  * Jaccard/overlap questions without ever joining the corpora.
  */
object SketchQueries {

  private val BloomBits = 16384
  private val BloomK = 3

  /** DuckDB fragment: tokenized documents (shared tokenizer contract). */
  private val OTOKS =
    """toks AS (SELECT doc_id, source,
      |  list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
      |  FROM documents)""".stripMargin

  /** DuckDB fragment: distinct 3-word shingles per doc with source. */
  private val OSH =
    """sh AS (SELECT DISTINCT doc_id, source, sh FROM (
      |    SELECT doc_id, source, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
      |                          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
      |    FROM toks))""".stripMargin

  private def oh60(seed: String, e: String): String =
    s"('0x' || substr(md5('$seed:' || $e), 1, 15))::BIGINT"

  /** DuckDB fragment: the BloomAgg probe positions for hash column h —
    * Kirsch–Mitzenmacher double hashing, identical integer ops. */
  private def oposes(h: String): String =
    s"(($h % $BloomBits) + r.range * (($h >> 30) | 1)) % $BloomBits"

  /** The three probe positions of a shingle hash, Spark side — must stay
    * in lockstep with BloomAgg.update and [[oposes]]. */
  private def positions(h: Column): Seq[Column] = {
    val h1 = h % BloomBits.toLong
    val h2 = shiftrightunsigned(h, 30).bitwiseOR(lit(1L))
    (0 until BloomK).map(i => (h1 + lit(i.toLong) * h2) % BloomBits.toLong)
  }

  /** Eval-corpus shingles (the contamination member set). */
  private def evalShingles(docs: DataFrame): DataFrame =
    docs.filter(col("source") === "src1")
      .select(explode(
        TextAnalysis.shinglesFromTokens(tokens(col("text")), 3)).as("sh"))

  val qs: Seq[Q] = Seq(
    // Deterministic Bloom registers, exact-verified: the oracle rebuilds
    // the identical word array from the same md5-derived positions (OR of
    // distinct one-bit values == their sum, with bit 63 spelled as the
    // signed long constant since DuckDB's << refuses to overflow).
    // Mergeability (elementwise OR) makes this one partial-agg'd scan —
    // each map task ships bits/64 longs.
    Q(
      "q156_bloom_registers",
      (s, dir) => {
        evalShingles(Tables.documents(s, dir))
          .agg(call_function("graft_bloom",
            hash60("bl", col("sh")), lit(BloomBits), lit(BloomK)).as("regs"))
          .select(
            array_join(transform(col("regs"), _.cast("string")), ",").as("registers"),
            expr("aggregate(transform(regs, w -> CAST(bit_count(w) AS BIGINT)), 0L, (a, x) -> a + x)")
              .as("n_set_bits"))
      },
      Some(s"""
        WITH $OTOKS,
        $OSH,
        hv AS (SELECT DISTINCT ${oh60("bl", "sh")} AS h FROM sh WHERE source = 'src1'),
        pos AS (SELECT DISTINCT ${oposes("h")} AS p FROM hv CROSS JOIN range($BloomK) r),
        wb AS (SELECT DISTINCT p // 64 AS w, CAST(p % 64 AS INT) AS b FROM pos),
        words AS (SELECT w, CAST(SUM(CASE WHEN b = 63 THEN -9223372036854775808
                                          ELSE (1::BIGINT << b) END) AS BIGINT) AS word
                  FROM wb GROUP BY w),
        allw AS (SELECT r.range AS w, COALESCE(word, 0) AS word
                 FROM range(${BloomBits / 64}) r LEFT JOIN words ON words.w = r.range)
        SELECT string_agg(CAST(word AS VARCHAR), ',' ORDER BY w) AS registers,
               CAST(SUM(bit_count(word)) AS BIGINT) AS n_set_bits
        FROM allw""")),

    // Bloom-filter decontamination: flag every train doc sharing (or
    // colliding with) an eval-set 3-gram. The filter is built by ONE
    // partial-agg'd pass over eval shingles, collected as bounded driver
    // metadata (bits/8 bytes — the PQ-codebook justification), and
    // re-broadcast as a literal bit array; the probe is then scan-stage
    // column arithmetic over each train doc's shingle array — ZERO
    // shuffle on the 100 TB side, unlike the q98/q111 band-join tiers
    // which shuffle candidates. The trade: a deterministic, boundable
    // false-positive rate (~(n_set_bits/bits)^k), which the oracle
    // reproduces bit-for-bit rather than approximates.
    Q(
      "q157_bloom_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val words = evalShingles(docs)
          .agg(call_function("graft_bloom",
            hash60("bl", col("sh")), lit(BloomBits), lit(BloomK)))
          .head().getSeq[Long](0).toArray
        val bitsLit = typedLit(graft.plans.BloomAgg.toBits(words, BloomBits).toSeq)
        def inBloom(x: Column): Column =
          positions(hash60("bl", x))
            .map(p => element_at(bitsLit, (p + 1).cast("int")))
            .reduce(_ && _)
        docs.filter(col("source") =!= "src1")
          .select(col("doc_id"),
            array_distinct(TextAnalysis.shinglesFromTokens(tokens(col("text")), 3)).as("shs"))
          .select(
            col("doc_id"),
            size(col("shs")).as("n_shingles"),
            size(filter(col("shs"), sh => inBloom(sh))).as("n_hits"))
          .withColumn("flagged", col("n_hits") > 0)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $OTOKS,
        $OSH,
        epos AS (SELECT DISTINCT ${oposes("h")} AS p
                 FROM (SELECT ${oh60("bl", "sh")} AS h FROM sh WHERE source = 'src1')
                 CROSS JOIN range($BloomK) r),
        tpos AS (SELECT doc_id, sh, ${oposes("h")} AS p
                 FROM (SELECT doc_id, sh, ${oh60("bl", "sh")} AS h
                       FROM sh WHERE source <> 'src1')
                 CROSS JOIN range($BloomK) r),
        hits AS (SELECT doc_id, sh, bool_and(epos.p IS NOT NULL) AS all_set
                 FROM tpos LEFT JOIN epos ON tpos.p = epos.p
                 GROUP BY doc_id, sh),
        agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shingles,
                       CAST(count(*) FILTER (WHERE all_set) AS INT) AS n_hits
                FROM hits GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(a.n_shingles, 0) AS n_shingles,
               COALESCE(a.n_hits, 0) AS n_hits,
               COALESCE(a.n_hits, 0) > 0 AS flagged
        FROM (SELECT doc_id FROM documents WHERE source <> 'src1') d
        LEFT JOIN agg a ON a.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // KMV (bottom-k) sketch set algebra: estimate the token-set Jaccard
    // of two corpora from their 128-hash sketches alone. The union
    // sketch is computed FROM THE TWO SKETCHES (k smallest of the merged
    // hash lists — bottom-k composes, the property q134 samples build
    // on), so after the two corpus scans every set question is answered
    // on 2x128 longs with no corpus join. The exact intersection/union
    // counts ride along as the verification anchor; at 100 TB only the
    // sketch path runs.
    Q(
      "q158_kmv_jaccard",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def corpus(pred: Column): DataFrame =
          docs.filter(pred)
            .select(explode(tokens(lower(col("text")))).as("t"))
            .distinct()
        val a = corpus(col("lang") === "en")
        val b = corpus(col("lang") =!= "en")
        // Rank DISTINCT hash values, not (hash, token) pairs: a 60-bit
        // collision between distinct tokens would otherwise keep a
        // duplicate hash in the sketch and shrink the effective k, while
        // the oracle dedups hashes before ranking — deduping here makes
        // both engines rank the same multiset at any corpus size.
        def sketch(df: DataFrame, as: String): DataFrame =
          df.select(hash60("kmv", col("t")).as("h")).distinct()
            .agg(call_function("graft_bottom_k", col("h"), col("h"), lit(128)).as("sk"))
            .select(transform(col("sk"), p => p.getField("k")).as(as))
        val est = sketch(a, "ha").crossJoin(sketch(b, "hb"))
          .withColumn("hu",
            slice(array_sort(array_distinct(concat(col("ha"), col("hb")))), 1, 128))
          .select(size(array_intersect(array_intersect(col("hu"), col("ha")), col("hb")))
            .as("n_common"))
        val exact = a.join(b, "t")
          .select(count(lit(1)).as("n_exact_common"))
          .crossJoin(a.union(b).distinct().select(count(lit(1)).as("n_exact_union")))
        est.crossJoin(exact).select(
          col("n_common"), lit(128).as("k"),
          col("n_exact_common"), col("n_exact_union"))
      },
      Some(s"""
        WITH at AS (SELECT DISTINCT unnest(list_filter(
                      string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS t
                    FROM documents WHERE lang = 'en'),
        bt AS (SELECT DISTINCT unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS t
               FROM documents WHERE lang <> 'en'),
        ah AS (SELECT DISTINCT ${oh60("kmv", "t")} AS h FROM at),
        bh AS (SELECT DISTINCT ${oh60("kmv", "t")} AS h FROM bt),
        ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ah)
                WHERE rn <= 128),
        skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM bh)
                WHERE rn <= 128),
        sku AS (SELECT h FROM (
                  SELECT h, row_number() OVER (ORDER BY h) AS rn
                  FROM (SELECT h FROM ah UNION SELECT h FROM bh))
                WHERE rn <= 128)
        SELECT CAST((SELECT count(*) FROM sku
                     WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)) AS INT)
                 AS n_common,
               128 AS k,
               (SELECT count(*) FROM (SELECT t FROM at INTERSECT SELECT t FROM bt))
                 AS n_exact_common,
               (SELECT count(*) FROM (SELECT t FROM at UNION SELECT t FROM bt))
                 AS n_exact_union""")),

    // Perceptual-hash (dHash) near-dup join — the image-dedup tier of a
    // multimodal pipeline (Multimodal.dhash56; payload "pixels" are the
    // deterministic stub, the join machinery is production-shaped). The
    // 56-bit hash splits into 8 bands of 7 bits; candidate pairs meet on
    // a band equi-join, so by pigeonhole every pair within hamming
    // distance 7 shares at least one clean band — FULL recall at the
    // d <= 4 threshold used here, no all-pairs comparison anywhere. The
    // exact hamming verify (bit_count of xor) runs only on candidates.
    // At 100 TB: banding bounds the shuffle exactly like the q58/q95
    // simhash tiers; hot bands (constant-gradient payloads) would get
    // the same stop-band cap q56 applies to shingles.
    Q(
      "q161_dhash_neardup",
      (s, dir) => {
        val hashed = Tables.documents(s, dir)
          // ASCII payloads: code points replay in SQL. Empty payloads are
          // excluded — pixel offsets are mod len, and len 0 has no pixels.
          .filter(col("lang") === "en" && length(col("text")) > 0)
          .select(col("doc_id"),
            graft.multimodal.Multimodal.dhash56(col("text")).as("h"))
        CandidateJoin.sketchPairs(hashed, "doc_id", "h", bands = 8, width = 7)
          .withColumn("hamming", CandidateJoin.hamming(col("ha"), col("hb")))
          .filter(col("hamming") <= 4)
          .select(col("a"), col("b"), col("hamming"))
          .orderBy("a", "b")
      },
      Some("""
        WITH hashed AS (
          SELECT doc_id,
                 (SELECT CAST(SUM(CASE WHEN
                    ascii(substr(text, ((g.r * 8 + g.c) % len(text)) + 1, 1)) >
                    ascii(substr(text, ((g.r * 8 + g.c + 1) % len(text)) + 1, 1))
                    THEN (1::BIGINT << CAST(g.r * 7 + g.c AS INT)) ELSE 0 END) AS BIGINT)
                  FROM (SELECT r.range AS r, c.range AS c
                        FROM range(8) r CROSS JOIN range(7) c) g) AS h
          FROM documents WHERE lang = 'en' AND len(text) > 0),
        bands AS (
          SELECT doc_id, h, r.range AS bi, (h >> CAST(7 * r.range AS INT)) & 127 AS bv
          FROM hashed CROSS JOIN range(8) r),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, x.h AS ha, y.doc_id AS b, y.h AS hb
          FROM bands x JOIN bands y
            ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
        SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= 4
        ORDER BY a, b""")),

    // B125: AMS sign-sketch join-size estimate — the cardinality-planner
    // sketch that completes the family (HLL distinct, KMV Jaccard, Bloom
    // membership, space-saving heavy hitters, t-digest quantiles):
    // E[s_j(A)·s_j(B)] = |A ⋈ B| from ONE pass per side, sketches
    // mergeable by addition. 64 estimators, median of 8 group means
    // (integer floor-div means, order-statistic median), so estimate AND
    // measured error are exact integers the oracle replays — the
    // accuracy claim itself is oracle-checked, not asserted. Demo:
    // |lineitem ⋈ 1995-shipped lineitem on partkey| — est within a few
    // percent of exact, at sketch cost instead of a join.
    Q(
      "q231_ams_joinsize", {
        (s, dir) => {
          val li = Tables.lineitem(s, dir)
          val a = li.groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))
          val b = li.filter(year(to_date(col("l_shipdate"))) === 1995)
            .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))
          val est = graft.operators.AmsSketch.joinSizeEstimate(
            graft.operators.AmsSketch.sketch(a, "k", "c", 64),
            graft.operators.AmsSketch.sketch(b, "k", "c", 64), 64, 8)
          val exact = a.join(b.withColumnRenamed("c", "cb"), "k")
            .agg(sum(col("c") * col("cb")).as("exact_sz"))
          est.crossJoin(broadcast(exact))
            .select(col("n_a"), col("n_b"), col("exact_sz"), col("est"),
              expr("abs(1000000 * (est - exact_sz)) div exact_sz").as("err_ppm"))
        }
      }, {
        val terms = (0 until 64).map(i =>
          s"CAST(SUM(c * (1 - 2*(CAST(('0x' || substring(md5('ams$i:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 2))) AS BIGINT) AS s$i")
          .mkString(",\n               ")
        val means = (0 until 8).map(grp =>
          "(" + (grp * 8 until (grp + 1) * 8).map(i => s"sa.s$i * sb.s$i").mkString(" + ") + ") // 8")
          .mkString(",\n               ")
        Some(s"""
        WITH a AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        b AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
              WHERE year(CAST(l_shipdate AS DATE)) = 1995 GROUP BY 1),
        sa AS (SELECT CAST(SUM(c) AS BIGINT) AS n_a,
               $terms FROM a),
        sb AS (SELECT CAST(SUM(c) AS BIGINT) AS n_b,
               $terms FROM b),
        est AS (SELECT n_a, n_b, unnest([
               $means]) AS e FROM sa, sb),
        med AS (SELECT n_a, n_b, e AS est FROM
                  (SELECT n_a, n_b, e, ROW_NUMBER() OVER (ORDER BY e) AS rn FROM est)
                WHERE rn = 4),
        exact AS (SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS exact_sz FROM a JOIN b ON a.k = b.k)
        SELECT n_a, n_b, exact_sz, CAST(est AS BIGINT) AS est,
               CAST(abs(1000000 * (est - exact_sz)) // exact_sz AS BIGINT) AS err_ppm
        FROM med, exact""")
      }),

    // B127: count-min sketch — the fixed-memory FREQUENCY summary
    // completing the sketch family (HLL counts distinct, KMV does set
    // algebra, AMS sizes joins, Bloom answers membership, SpaceSaving
    // tracks the top-k; count-min answers "how often does THIS key
    // occur" for any key, one-sided): depth 4 × width 512 counters over
    // the document token stream, point-queried for the 8 most frequent
    // tokens. Estimates never undercount (each counter sums a superset)
    // — the demo emits est − exact so the one-sided guarantee is VISIBLE
    // in the oracle-checked output. Build = one scan exploded ×4 + one
    // partial-agg'd shuffle to ≤ 2048 rows; the probe join is bounded.
    Q(
      "q235_countmin_freq",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("t"))
        val sketch = graft.operators.CountMin.build(tok, "t", 4, 512)
        val probes = tok.groupBy("t").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("t")).limit(8)
        probes
          .join(graft.operators.CountMin.estimate(sketch, probes, "t", 4, 512),
            col("t") === col("key"))
          .select(col("t").as("token"), col("exact_n"), col("est"),
            (col("est") - col("exact_n")).as("overcount"))
          .orderBy(col("exact_n").desc, col("token"))
      },
      Some("""
        WITH tok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS t FROM documents),
        cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY 1),
        probes AS (SELECT t, exact_n FROM cnt ORDER BY exact_n DESC, t LIMIT 8),
        sk AS (SELECT j, CAST(('0x' || substring(md5('cm' || j || ':' || t), 1, 15)) AS BIGINT) % 512 AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM tok, unnest([0, 1, 2, 3]) AS u(j) GROUP BY 1, 2),
        pc AS (SELECT t, j, CAST(('0x' || substring(md5('cm' || j || ':' || t), 1, 15)) AS BIGINT) % 512 AS bucket
               FROM probes, unnest([0, 1, 2, 3]) AS u(j)),
        est AS (SELECT pc.t, MIN(COALESCE(sk.c, 0)) AS est
                FROM pc LEFT JOIN sk ON sk.j = pc.j AND sk.bucket = pc.bucket
                GROUP BY 1)
        SELECT p.t AS token, p.exact_n, e.est, e.est - p.exact_n AS overcount
        FROM probes p JOIN est e ON e.t = p.t
        ORDER BY p.exact_n DESC, token""")),

    // B143: sliding-window sketch rollup — trailing-7-day distinct users
    // per day via MERGEABLE daily HLL sketches (q97's graft_hll): sketch
    // the raw events ONCE per day (the only corpus-scale pass), then
    // every window is a register-wise max over ≤ 7 tiny sketch rows —
    // the rollup pattern that answers "distinct in any trailing window"
    // at 100 TB without rescanning 7 days of raw events per window
    // (union-mergeability is THE reason HLL beats exact sets here:
    // exact per-day distinct sets don't merge without re-deduplicating).
    // The window is a RANGE frame over the day number partitioned by
    // register, so absent days neither pad nor break the frame. All
    // register math is integer-exact; the oracle rebuilds every daily
    // register, every window max, and the estimate verbatim.
    Q(
      "q252_sliding_hll",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(expr("datediff(to_date(ts), date'1970-01-01')")
            .cast("long").as("d"))
          .agg(call_function("graft_hll", hash60("hll", col("user_id"))).as("regs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy("d").rangeBetween(-6, 0)
        daily
          .select(col("d"), posexplode(col("regs")).as(Seq("bucket", "m")))
          .withColumn("mw", max("m").over(w))
          .groupBy("d")
          .agg(expr(
            "transform(array_sort(collect_list(struct(bucket, mw))), x -> x.mw)")
            .as("regs"))
          .select(col("d"),
            array_join(col("regs"), ",").as("registers"),
            expr("aggregate(transform(regs, m -> shiftleft(1L, 54 - m)), 0L, (a, x) -> a + x)")
              .as("s_int"))
          .withColumn("hll_est",
            round(expr("0.709 * 4096 * pow(2, 54)") /
              expr("CAST(s_int AS DOUBLE)"), 6))
          .orderBy("d")
      },
      Some("""
        WITH h AS (SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
                          ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
                   FROM events),
        r AS (SELECT d, hv & 63 AS bucket,
                     CASE WHEN (hv >> 6) = 0 THEN 54
                          ELSE 55 - length(bin(hv >> 6)) END AS rho
              FROM h),
        dregs AS (SELECT d, bucket, CAST(MAX(rho) AS INT) AS m FROM r GROUP BY 1, 2),
        days AS (SELECT DISTINCT d FROM dregs),
        win AS (SELECT dy.d, g.bucket, MAX(g.m) AS m
                FROM days dy JOIN dregs g ON g.d BETWEEN dy.d - 6 AND dy.d
                GROUP BY 1, 2),
        fullregs AS (SELECT dy.d, j.j AS bucket, COALESCE(w.m, 0) AS m
                     FROM days dy CROSS JOIN (SELECT unnest(range(64)) AS j) j
                     LEFT JOIN win w ON w.d = dy.d AND w.bucket = j.j),
        agg AS (SELECT d, array_to_string(list(m ORDER BY bucket), ',') AS registers,
                       CAST(SUM(1::BIGINT << (54 - m)) AS BIGINT) AS s_int
                FROM fullregs GROUP BY d)
        SELECT CAST(d AS BIGINT) AS d, registers, s_int,
               round(0.709 * 4096 * pow(2, 54) / CAST(s_int AS DOUBLE), 6) AS hll_est
        FROM agg ORDER BY d"""))
  )
}
