package graft.queries

import graft.{Q, Tables}
import graft.functions.GraftFunctions._
import graft.operators.{ConnectedComponents, Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + deduplication surface over the documents table
  * (SURVEY.md B7, B42): token stats, term frequency, language ID, quality
  * scoring, fingerprinting, exact/minhash/simhash/jaccard dedup.
  *
  * The oracles rebuild the same pipelines in DuckDB SQL; both engines
  * share one tokenizer definition and the portable [[hash60]], so results
  * (including every minhash band and simhash bit) compare exactly.
  */
object TextQueries {

  /** Shared DuckDB fragments mirroring GraftFunctions.tokens and the
    * 3-word shingle index of Dedup.shingleIndex. */
  private val OTOKS =
    """toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts FROM documents)"""
  private val OSHINGLES =
    """sh AS (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
      |                          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
      |    FROM toks))""".stripMargin
  private def ohash(seed: String, e: String) =
    s"('0x' || substr(md5('$seed:' || $e), 1, 15))::BIGINT"

  /** q159 (train) and q169 (encode) share ONE training run: the BPE
    * local tier (`Bpe.train`) returns driver-resident merges + dict, so
    * the result is memoized per (corpus dir, iters) and each query
    * rebuilds a cheap local frame from it — the registry never trains
    * twice, and the q169 dictionary join broadcasts a LocalRelation.
    * Deterministic training makes the memo an observable no-op. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, String, String, Long)], Seq[(String, Long, Vector[String])])]()

  private def trainedBpe(s: org.apache.spark.sql.SparkSession, dir: String, iters: Int)
      : (Seq[(Int, String, String, Long)], Seq[(String, Long, Vector[String])]) =
    bpeMemo.computeIfAbsent(s"$dir#$iters", _ => {
      val v = graft.operators.Bpe
        .initVocab(Tables.documents(s, dir).filter(col("lang") === "en"))
        .persist()
      val rows = v.select("word", "freq", "toks").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toVector))
      v.unpersist()
      graft.operators.Bpe.trainLocalRows(rows.toSeq, iters)
    })

  val qs: Seq[Q] = Seq(
    // B42: token counting + per-doc length stats.
    Q(
      "q50_token_stats",
      (s, dir) => {
        val ts = tokens(col("text"))
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(ts).as("n_tokens"),
            aggregate(transform(ts, t => length(t).cast(LongType)), lit(0L), (a, x) => a + x)
              .as("total_token_chars"),
            round(
              aggregate(transform(ts, t => length(t).cast(LongType)), lit(0L), (a, x) => a + x)
                .cast(DoubleType) / size(ts), 6).as("avg_token_len"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $OTOKS
        SELECT doc_id,
               CAST(len(ts) AS INT) AS n_tokens,
               CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS total_token_chars,
               round(CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts), 6) AS avg_token_len
        FROM toks
        ORDER BY doc_id""")),

    // B42: corpus term frequency (explode -> count), top 30.
    Q(
      "q51_term_frequency",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(30),
      Some(s"""
        WITH $OTOKS
        SELECT t AS term, COUNT(*) AS cnt
        FROM (SELECT unnest(ts) AS t FROM toks)
        GROUP BY 1
        ORDER BY cnt DESC, term
        LIMIT 30""")),

    // B42: marker-based language ID vs the labeled lang column.
    Q(
      "q52_lang_id",
      (s, dir) => {
        val ts = tokens(col("text"))
        val scores = TextAnalysis.markers.map { case (l, ws) =>
          l -> TextAnalysis.markerCount(ts, ws)
        }.toMap
        Tables.documents(s, dir)
          .select(col("lang"), TextAnalysis.predictLang(scores).as("predicted"))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "predicted")
      },
      Some {
        def sc(ws: Seq[String]) =
          s"len(list_filter(ts, t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
        val m = TextAnalysis.markers.toMap
        s"""
        WITH $OTOKS,
        scored AS (SELECT doc_id,
                          ${sc(m("en"))} AS s_en, ${sc(m("de"))} AS s_de,
                          ${sc(m("es"))} AS s_es, ${sc(m("fr"))} AS s_fr,
                          ${sc(m("zh"))} AS s_zh
                   FROM toks)
        SELECT d.lang,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS predicted,
               COUNT(*) AS cnt
        FROM scored JOIN documents d USING (doc_id)
        GROUP BY 1, 2
        ORDER BY lang, predicted"""
      }),

    // B42: quality scoring (length/punctuation/stopword features).
    Q(
      "q53_quality_score",
      (s, dir) => {
        val ts = tokens(col("text"))
        val stop = TextAnalysis.markerCount(ts, TextAnalysis.markers.toMap.apply("en"))
        Tables.documents(s, dir)
          .select(
            col("doc_id"), col("n_chars"),
            size(ts).as("n_tokens"),
            TextAnalysis.punctCount(col("text")).as("punct_cnt"),
            round(stop.cast(DoubleType) / size(ts), 6).as("stop_ratio"),
            round(
              least(size(ts).cast(DoubleType) / 200.0, lit(1.0)) * 0.5 +
                (stop.cast(DoubleType) / size(ts)) * 0.5, 6).as("quality"))
          .orderBy("doc_id")
      },
      Some {
        val en = TextAnalysis.markers.toMap.apply("en").map(w => s"'$w'").mkString(",")
        s"""
        WITH $OTOKS
        SELECT d.doc_id, d.n_chars,
               CAST(len(ts) AS INT) AS n_tokens,
               CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS INT) AS punct_cnt,
               round(CAST(len(list_filter(ts, t -> t IN ($en))) AS DOUBLE) / len(ts), 6) AS stop_ratio,
               round(least(CAST(len(ts) AS DOUBLE) / 200.0, 1.0) * 0.5 +
                     (CAST(len(list_filter(ts, t -> t IN ($en))) AS DOUBLE) / len(ts)) * 0.5, 6) AS quality
        FROM toks JOIN documents d USING (doc_id)
        ORDER BY doc_id"""
      }),

    // B42: suffix-stripping normalizer (stemming-lite) before term
    // counting — vocabulary compression ahead of dedup/tf.
    Q(
      "q88_stemmed_terms",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(explode(tokens(lower(col("text")))).as("t"))
          .select(regexp_replace(col("t"), "(ing|edly|ed|es|s)$", "").as("stem"))
          .filter(length(col("stem")) >= 2)
          .groupBy("stem")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("stem"))
          .limit(25),
      Some("""
        SELECT stem, COUNT(*) AS cnt FROM (
          SELECT regexp_replace(t, '(ing|edly|ed|es|s)$', '') AS stem
          FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS t
                FROM documents))
        WHERE length(stem) >= 2
        GROUP BY stem
        ORDER BY cnt DESC, stem
        LIMIT 25""")),

    // B42: the corpus-cleaning filter funnel — every document classified
    // by its first failing rule (too short, low stopword signal, low
    // alpha ratio) or kept; the counts-by-reason report every
    // training-data pipeline emits.
    Q(
      "q89_filter_funnel",
      (s, dir) => {
        val ts = tokens(col("text"))
        val stop = TextAnalysis.markerCount(ts, TextAnalysis.markers.toMap.apply("en"))
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            when(size(ts) < 30, "too_short")
              .when(stop.cast(DoubleType) / size(ts) < 0.01, "no_stopwords")
              .when(TextAnalysis.punctCount(col("text")).cast(DoubleType) / length(col("text")) > 0.1,
                "too_much_punct")
              .otherwise("kept").as("verdict"))
          .groupBy("verdict")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("verdict")
      },
      Some {
        val en = TextAnalysis.markers.toMap.apply("en").map(w => s"'$w'").mkString(",")
        s"""
        WITH $OTOKS
        SELECT verdict, COUNT(*) AS cnt FROM (
          SELECT CASE
            WHEN len(ts) < 30 THEN 'too_short'
            WHEN CAST(len(list_filter(ts, t -> t IN ($en))) AS DOUBLE) / len(ts) < 0.01 THEN 'no_stopwords'
            WHEN CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                 / length(d.text) > 0.1 THEN 'too_much_punct'
            ELSE 'kept' END AS verdict
          FROM toks JOIN documents d USING (doc_id))
        GROUP BY verdict
        ORDER BY verdict"""
      }),

    // B6/B42: exact content dedup via normalized md5 fingerprint.
    Q(
      "q54_exact_dedup_stats",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(md5(concat_ws(" ", tokens(lower(col("text"))))).as("fp"))
          .groupBy("fp").agg(count(lit(1)).as("cnt"))
          .agg(
            sum(col("cnt")).as("n_docs"),
            count(lit(1)).as("n_unique"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
            max(col("cnt")).as("max_group")),
      Some("""
        WITH fp AS (
          SELECT md5(array_to_string(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> ''), ' ')) AS fp
          FROM documents),
        g AS (SELECT fp, COUNT(*) AS cnt FROM fp GROUP BY fp)
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs, COUNT(*) AS n_unique,
               CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
               MAX(cnt) AS max_group
        FROM g""")),

    // B42: winnowing fingerprints (rolling k-gram hash, window-min).
    Q(
      "q55_winnowing",
      (s, dir) =>
        Tables.documents(s, dir)
          // two projections: gram hashes and fingerprints each land in a
          // real column before being referenced repeatedly (interpreted
          // HOFs have no CSE — see TextAnalysis.charGramHashes)
          .select(col("doc_id"), TextAnalysis.charGramHashes("text", 8).as("__hs"))
          .select(col("doc_id"), TextAnalysis.winnowMins(col("__hs"), 4).as("__fps"))
          .select(
            col("doc_id"),
            size(col("__fps")).as("n_fp"),
            array_min(col("__fps")).as("fp_min"),
            array_max(col("__fps")).as("fp_max"))
          .orderBy("doc_id"),
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                                i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT) AS hs
          FROM documents),
        w AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                               j -> list_min(hs[j:j+3]))) AS fps
          FROM h)
        SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
               list_min(fps) AS fp_min, list_max(fps) AS fp_max
        FROM w
        ORDER BY doc_id""")),

    // B42: BPE-ish regex tokenization (letter runs / digit runs / symbol
    // runs — the GPT-2-style pre-tokenizer shape) for token counting;
    // regexp_extract_all exists in both engines with identical semantics
    // for this ASCII pattern.
    Q(
      "q67_bpe_tokens",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]+', 0)").as("toks"))
          .select(
            col("doc_id"),
            size(col("toks")).as("n_bpe_tokens"),
            size(array_distinct(col("toks"))).as("n_unique"),
            element_at(array_sort(col("toks")), 1).as("first_tok"))
          .orderBy("doc_id"),
      Some("""
        WITH t AS (SELECT doc_id,
                          regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+', 0) AS toks
                   FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_bpe_tokens,
               CAST(len(list_distinct(toks)) AS INT) AS n_unique,
               list_sort(toks)[1] AS first_tok
        FROM t
        ORDER BY doc_id""")),

    // B7: n-gram Jaccard near-dup pairs via the shared-shingle inverted
    // index (docs with no common shingle never meet the comparator).
    Q(
      "q56_dedup_ngram_jaccard",
      (s, dir) => {
        // the index feeds both join sides and the size counts — persist it
        // once instead of re-exploding the corpus three times
        val idx = graft.Q.persistOnce(
          Dedup.shingleIndex(Tables.documents(s, dir), "doc_id", "text", 3))
        // maxDf=100: stop-shingle cap (no shingle reaches it in this
        // corpus — max df is 7 at sf0.01, 25 at sf0.1 — so the result is
        // bit-identical to uncapped, while a pathological stop-phrase at
        // scale is bounded). The oracle applies the identical cap.
        Dedup.jaccardPairs(idx, "doc_id", maxDf = 100)
          .select(col("a"), col("b"), round(col("jacc"), 6).as("jacc_r"))
          .orderBy(col("jacc_r").desc, col("a"), col("b"))
          .limit(30)
      },
      Some(s"""
        WITH $OTOKS,
        $OSHINGLES,
        keep AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) WHERE df <= 100),
        shk AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
        cnt AS (SELECT doc_id, COUNT(*) AS c FROM shk GROUP BY 1),
        pair AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                 FROM shk x JOIN shk y ON x.sh = y.sh AND x.doc_id < y.doc_id
                 GROUP BY 1, 2)
        SELECT a, b,
               round(CAST(inter AS DOUBLE) / (ca.c + cb.c - inter), 6) AS jacc_r
        FROM pair JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
        ORDER BY jacc_r DESC, a, b
        LIMIT 30""")),

    // B7: MinHash + LSH banding (12 hashes = 4 bands x 3 rows); output is
    // the candidate-pair set with band-collision counts — every minhash
    // value goes through the portable hash so the whole sketch is
    // oracle-checked, not just the final pair list.
    Q(
      "q57_dedup_minhash_lsh",
      (s, dir) => {
        val idx = Dedup.shingleIndex(Tables.documents(s, dir), "doc_id", "text", 3)
        val sig = Dedup.minhashSignatures(idx, "doc_id", 12)
        // bands feed both sides of the candidate self-join — persist so the
        // signature aggregation runs once
        val bands = graft.Q.persistOnce(Dedup.lshBands(sig, "doc_id", 4, 3))
        Dedup.lshCandidates(bands, "doc_id")
          .orderBy("a", "b")
      },
      Some {
        val baseHash = "(('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647)"
        val mins = Dedup.minhashParams(12).zipWithIndex.map { case ((a, b), i) =>
          s"min(($baseHash * $a + $b) % 2147483647) AS mh_$i"
        }.mkString(", ")
        val bandArms = (0 until 4).map { b =>
          val key = (0 until 3).map(j => s"CAST(mh_${b * 3 + j} AS VARCHAR)").mkString(" || '_' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""
        WITH $OTOKS,
        $OSHINGLES,
        sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
        bands AS ($bandArms)
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(DISTINCT x.band) AS n_shared_bands
        FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
        GROUP BY 1, 2
        ORDER BY a, b"""
      }),

    // B7 terminal step: near-dup candidate PAIRS -> duplicate CLUSTERS
    // via distributed connected components (min-label propagation +
    // pointer jumping; see ConnectedComponents scaladoc), with one
    // representative (min doc_id) per cluster — what a 100 TB dedup
    // actually keeps. The oracle computes the same components with a
    // recursive transitive-closure CTE over the identical minhash-band
    // edge set, so every cluster assignment is hash-compared.
    Q(
      "q117_dedup_clusters",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val sig = Dedup.minhashSignatures(
          Dedup.shingleIndex(docs, "doc_id", "text", 3), "doc_id", 12)
        val bands = graft.Q.persistOnce(Dedup.lshBands(sig, "doc_id", 4, 3))
        // caller-level persistOnce (the q274 posture): the candidate
        // self-join over the cached bands is the expensive derivation
        // here, reused by every repeat evaluation; since r16 the operator
        // releases the caches IT creates on exit, so the shared pair
        // frame is the caller's to pin
        val edges = graft.Q.persistOnce(
          Dedup.lshCandidates(bands, "doc_id").select("a", "b"))
        ConnectedComponents.components(docs.select("doc_id"), edges, "doc_id")
          .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("comp")))
          .select(
            col("doc_id"), col("comp").as("cluster"), col("cluster_size"),
            (col("doc_id") === col("comp")).as("is_rep"))
          .orderBy("doc_id")
      },
      Some {
        val baseHash = "(('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647)"
        val mins = Dedup.minhashParams(12).zipWithIndex.map { case ((a, b), i) =>
          s"min(($baseHash * $a + $b) % 2147483647) AS mh_$i"
        }.mkString(", ")
        val bandArms = (0 until 4).map { b =>
          val key = (0 until 3).map(j => s"CAST(mh_${b * 3 + j} AS VARCHAR)").mkString(" || '_' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""
        WITH RECURSIVE $OTOKS,
        $OSHINGLES,
        sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
        bands AS ($bandArms),
        edges AS (SELECT x.doc_id AS a, y.doc_id AS b
                  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
                                           AND x.doc_id < y.doc_id
                  GROUP BY 1, 2),
        sym AS (SELECT a AS src, b AS dst FROM edges
                UNION ALL SELECT b, a FROM edges),
        reach(id, l) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT s.dst, r.l FROM reach r JOIN sym s ON s.src = r.id),
        comp AS (SELECT id, MIN(l) AS cluster FROM reach GROUP BY id)
        SELECT id AS doc_id, cluster,
               COUNT(*) OVER (PARTITION BY cluster) AS cluster_size,
               id = cluster AS is_rep
        FROM comp
        ORDER BY doc_id"""
      }),

    // B7: cross-corpus decontamination — training-side documents (even
    // doc_id) whose minhash bands collide with any evaluation-side
    // document (odd doc_id). The band join is across two corpora, so no
    // self-pairs and no |A|x|B| blowup; at scale the benchmark band table
    // broadcasts. Oracle rebuilds both band sets bit-exactly.
    Q(
      "q98_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def bands(side: org.apache.spark.sql.DataFrame) =
          Dedup.lshBands(
            Dedup.minhashSignatures(
              Dedup.shingleIndex(side, "doc_id", "text", 3), "doc_id", 12),
            "doc_id", 4, 3)
        Dedup.lshCrossCandidates(
            bands(docs.filter(col("doc_id") % 2 === 0)),
            bands(docs.filter(col("doc_id") % 2 === 1)),
            "doc_id")
          .orderBy("a", "b")
      },
      Some {
        val baseHash = "(('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647)"
        val mins = Dedup.minhashParams(12).zipWithIndex.map { case ((a, b), i) =>
          s"min(($baseHash * $a + $b) % 2147483647) AS mh_$i"
        }.mkString(", ")
        def bandArms(sig: String) = (0 until 4).map { b =>
          val key = (0 until 3).map(j => s"CAST(mh_${b * 3 + j} AS VARCHAR)").mkString(" || '_' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM $sig"
        }.mkString(" UNION ALL ")
        s"""
        WITH $OTOKS,
        $OSHINGLES,
        siga AS (SELECT doc_id, $mins FROM sh WHERE doc_id % 2 = 0 GROUP BY doc_id),
        sigb AS (SELECT doc_id, $mins FROM sh WHERE doc_id % 2 = 1 GROUP BY doc_id),
        bandsa AS (${bandArms("siga")}),
        bandsb AS (${bandArms("sigb")})
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(DISTINCT x.band) AS n_shared_bands
        FROM bandsa x JOIN bandsb y ON x.band = y.band AND x.key = y.key
        GROUP BY 1, 2
        ORDER BY a, b"""
      }),

    // B7 decontamination, precision path: EXACT shared n-grams across the
    // corpora (the standard eval-set decontamination method) — the
    // complement of q98's minhash-band recall path. Benchmark shingles
    // broadcast; training corpus streams through one equi-join.
    Q(
      "q111_ngram_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.ngramContamination(
            Dedup.shingleIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3),
            Dedup.shingleIndex(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 3),
            "doc_id",
            minShared = 3)
          .orderBy("a", "b")
      },
      Some(s"""
        WITH $OTOKS,
        $OSHINGLES
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
        FROM (SELECT * FROM sh WHERE doc_id % 2 = 0) x
        JOIN (SELECT * FROM sh WHERE doc_id % 2 = 1) y ON x.sh = y.sh
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
        ORDER BY a, b""")),

    // B42 pipeline hygiene: PII redaction. The synthetic corpus carries no
    // PII, so each doc gets deterministic planted PII (email + phone +
    // IPv4 derived from doc_id, built identically in the oracle); the
    // patterns are RE2/Java-agreeing subsets, so the REDACTED TEXT ITSELF
    // is md5-verified cross-engine, not just the counts. Pure
    // regexp_replace chain — codegen-resident, scan-stage, no shuffle.
    Q(
      "q112_redact_pii",
      (s, dir) => {
        val planted = concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 200).cast("string"))
        Tables.documents(s, dir)
          .select(col("doc_id"), planted.as("planted"))
          .select(
            col("doc_id"),
            TextAnalysis.piiCount(col("planted")).as("n_pii"),
            md5(TextAnalysis.redactPii(col("planted"))).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some {
        val em = TextAnalysis.EmailPattern
        val ph = TextAnalysis.PhonePattern
        val ip = TextAnalysis.Ipv4Pattern
        s"""
        WITH p AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@mail.example.org or 555-' ||
                 lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                 ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                 CAST(doc_id % 200 AS VARCHAR) AS planted
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(planted, '$em', 0)) +
                    len(regexp_extract_all(planted, '$ph', 0)) +
                    len(regexp_extract_all(planted, '$ip', 0)) AS INT) AS n_pii,
               md5(regexp_replace(
                     regexp_replace(
                       regexp_replace(planted, '$em', '[EMAIL]', 'g'),
                       '$ph', '[PHONE]', 'g'),
                     '$ip', '[IP]', 'g')) AS redacted_md5
        FROM p
        ORDER BY doc_id"""
      }),

    // B42 quality filtering, Gopher-style repetition signals (Rae et al.
    // 2021 §A1.1): the occurrence count of the most frequent 2-gram and
    // the number of 3-gram positions covered by duplicated 3-grams. Shape
    // is explode -> partial-agg count -> per-doc max/sum: two hash
    // aggregates keyed by (doc_id, gram), map-side combined, no window
    // over an unpartitioned frame — linear at 100 TB. Counts stay
    // integers so the compare is exact.
    Q(
      "q113_repetition_filter",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
        def grams(n: Int) = transform(
          sequence(lit(1), greatest(size(col("ts")) - (n - 1), lit(1))),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("ts"), i + k)): _*))
        val top2 = base
          .select(col("doc_id"), explode(grams(2)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max(col("c")).as("top_2gram_occ"))
        val dup3 = base
          .select(col("doc_id"), explode(grams(3)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_3gram_pos"))
        base.select(col("doc_id"), size(col("ts")).as("n_tokens"))
          .join(top2, "doc_id").join(dup3, "doc_id")
          // Gopher thresholds (integer algebra: occ*2 tokens > 20% of doc).
          .withColumn(
            "is_repetitive",
            col("top_2gram_occ") * 2 * 5 > col("n_tokens") ||
              col("dup_3gram_pos") * 2 > col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $OTOKS,
        g2 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 1, 1) + 1),
                                     i -> ts[i] || ' ' || ts[i+1])) AS g FROM toks),
        c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        t2 AS (SELECT doc_id, MAX(c) AS top_2gram_occ FROM c2 GROUP BY 1),
        g3 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g FROM toks),
        c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
        d3 AS (SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_3gram_pos
               FROM c3 GROUP BY 1)
        SELECT t.doc_id, CAST(len(t.ts) AS INT) AS n_tokens,
               t2.top_2gram_occ, d3.dup_3gram_pos,
               (t2.top_2gram_occ * 2 * 5 > len(t.ts) OR d3.dup_3gram_pos * 2 > len(t.ts)) AS is_repetitive
        FROM toks t JOIN t2 USING (doc_id) JOIN d3 USING (doc_id)
        ORDER BY doc_id""")),

    // LLM pretraining sequence packing (concatenate-and-chunk): within
    // each source shard, documents are laid end-to-end in doc_id order
    // and cut into fixed 256-token training sequences; a doc belongs to
    // the sequence its first token lands in. The window is PARTITIONED BY
    // source, so at 100 TB each shard packs independently in parallel —
    // the global-order variant (one partition) is the anti-pattern this
    // deliberately avoids. Output: per (source, seq) doc/token totals.
    Q(
      "q114_sequence_packing",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
          .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
          .withColumn("seq", expr("start_off DIV 256"))
          .groupBy("source", "seq")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("seq_tokens"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("source", "seq")
      },
      Some(s"""
        WITH $OTOKS,
        sized AS (SELECT d.doc_id, d.source, CAST(len(t.ts) AS BIGINT) AS n_tokens
                  FROM documents d JOIN toks t USING (doc_id)),
        off AS (SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                                ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
                FROM sized)
        SELECT source, start_off // 256 AS seq, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens, MIN(doc_id) AS first_doc
        FROM off
        GROUP BY 1, 2
        ORDER BY source, seq""")),

    // Domain-mix rebalancing: given a target uniform token share across
    // source shards, derive each shard's sampling weight (parts-per-
    // million, integer algebra end-to-end so the compare is exact).
    // One partial-agg groupBy + a broadcast of the single total row —
    // the pattern scales to any shard count.
    Q(
      "q115_domain_mix",
      (s, dir) => {
        val perSrc = Tables.documents(s, dir)
          .select(col("source"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("src_tokens"))
        val nSrc = perSrc.select(count(lit(1)).as("n_src"), sum("src_tokens").as("total_tokens"))
        perSrc.crossJoin(broadcast(nSrc))
          .select(
            col("source"), col("n_docs"), col("src_tokens"),
            expr("(total_tokens * 1000000) DIV (n_src * src_tokens)").as("weight_ppm"),
            expr("(src_tokens * 1000000) DIV total_tokens").as("share_ppm"))
          .orderBy("source")
      },
      Some(s"""
        WITH $OTOKS,
        per_src AS (SELECT d.source, COUNT(*) AS n_docs,
                           CAST(SUM(len(t.ts)) AS BIGINT) AS src_tokens
                    FROM documents d JOIN toks t USING (doc_id)
                    GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_src, CAST(SUM(src_tokens) AS BIGINT) AS total_tokens FROM per_src)
        SELECT source, n_docs, src_tokens,
               (total_tokens * 1000000) // (n_src * src_tokens) AS weight_ppm,
               (src_tokens * 1000000) // total_tokens AS share_ppm
        FROM per_src, tot
        ORDER BY source""")),

    // Domain-mix subset draw — q115's ppm weights CONSUMED: an exact
    // Efraimidis–Spirakis one-ticket-per-row weighted sample of documents
    // with fractional weight = weight_ppm / 1e6 (over-sampled sources get
    // weight < 1, which ticket replication cannot express). Ranking key =
    // the QUANTIZED race key (Sampling.esKeyMicro): cell floor((-ln(u)/w)
    // ·1e6), hash-desc in-cell tie-break, doc_id on exact ties — near-tied
    // raw keys collapse into one micro-cell and resolve identically on
    // both engines (the r14 closure of the measured gap-shrink channel).
    // The oracle replays the identical arithmetic (integer hash + 1 →
    // double → exact 2^60 scale → ln → ·1e6 → floor) verbatim.
    Q(
      "q147_weighted_subset_es",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val perSrc = docs
          .select(col("source"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
          .groupBy("source")
          .agg(sum("n_tokens").as("src_tokens"))
        val nSrc = perSrc.select(count(lit(1)).as("n_src"), sum("src_tokens").as("total_tokens"))
        val w = perSrc.crossJoin(broadcast(nSrc))
          .select(col("source"),
            expr("(total_tokens * 1000000) DIV (n_src * src_tokens)").as("weight_ppm"))
        val weighted = docs.select(col("doc_id"), col("source"))
          .join(broadcast(w), "source")
        val sampled = graft.operators.Sampling.weightedBottomK(
          weighted, Nil, "doc_id",
          col("weight_ppm").cast("double") / 1000000.0, 25, "s147")
        sampled
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy("rk")
      },
      Some(s"""
        WITH $OTOKS,
        per_src AS (SELECT d.source, CAST(SUM(len(t.ts)) AS BIGINT) AS src_tokens
                    FROM documents d JOIN toks t USING (doc_id)
                    GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_src, CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
                FROM per_src),
        w AS (SELECT source, (total_tokens * 1000000) // (n_src * src_tokens) AS weight_ppm
              FROM per_src, tot),
        hs AS (
          SELECT d.doc_id, d.source, w.weight_ppm,
                 ${ohash("s147", "CAST(d.doc_id AS VARCHAR)")} AS h
          FROM documents d JOIN w USING (source)
          WHERE w.weight_ppm > 0),
        keyed AS (
          SELECT doc_id, source,
                 CAST(floor(-ln(CAST(h + 1 AS DOUBLE) / 1152921504606846976.0)
                            / (weight_ppm / 1000000.0) * 1000000.0) AS BIGINT) AS kq,
                 -h AS tb
          FROM hs),
        r AS (SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER (ORDER BY kq, tb, doc_id) AS INT) AS rk
              FROM keyed)
        SELECT doc_id, source, rk FROM r WHERE rk <= 25
        ORDER BY rk""")),

    // B42 retrieval: BM25 (k1=1.2, b=0.75) for a fixed 3-term query.
    // tf comes from one explode -> filter(term set, pushed to the scan) ->
    // partial-agg count; df and the corpus stats are two tiny aggregates
    // broadcast back. No all-pairs, no UDF; scores are rounded to 6dp on
    // both engines (double sum-order wobble is ~1 ulp, far below 1e-6)
    // with doc_id tie-breaks, so the top-20 compares exactly.
    Q(
      "q118_bm25",
      (s, dir) => {
        val terms = Seq("spark", "filter", "join")
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
        val dl = toks.select(col("doc_id"), size(col("ts")).cast(DoubleType).as("dl"))
        val tf = toks.select(col("doc_id"), explode(col("ts")).as("t"))
          .filter(col("t").isin(terms: _*))
          .groupBy("doc_id", "t").agg(count(lit(1)).cast(DoubleType).as("tf"))
        val dfreq = tf.groupBy("t").agg(count(lit(1)).cast(DoubleType).as("df"))
        val stats = dl.agg(count(lit(1)).cast(DoubleType).as("n"), avg("dl").as("avgdl"))
        tf.join(broadcast(dfreq), "t")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf", log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
          .withColumn(
            "w",
            col("idf") * ((col("tf") * 2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
          .groupBy("doc_id")
          .agg(round(sum("w"), 6).as("score_r"), count(lit(1)).as("n_terms_hit"))
          .orderBy(col("score_r").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""
        WITH $OTOKS,
        dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM toks),
        tf AS (SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
               WHERE t IN ('spark', 'filter', 'join')
               GROUP BY 1, 2),
        dfreq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl)
        SELECT doc_id,
               round(SUM(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
                         ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6) AS score_r,
               COUNT(*) AS n_terms_hit
        FROM tf JOIN dfreq USING (t) JOIN dl USING (doc_id), stats
        GROUP BY doc_id
        ORDER BY score_r DESC, doc_id
        LIMIT 20""")),

    // B42 RAG-style chunking: fixed 32-token windows at stride 24 (8-token
    // overlap), one output row per chunk with the chunk text md5'd so the
    // exact chunk CONTENT is cross-engine-verified. Pure per-row HOF
    // explode in the scan stage — chunk count per doc is data-driven, no
    // shuffle before the final sort.
    Q(
      "q119_token_chunks",
      (s, dir) => {
        val n = size(col("ts"))
        Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .select(col("doc_id"), col("ts"), n.as("n_tokens"),
            explode(sequence(lit(1), n, lit(24))).as("st"))
          .select(
            col("doc_id"),
            expr("CAST((st - 1) DIV 24 AS INT)").as("chunk_idx"),
            least(lit(32), col("n_tokens") - col("st") + 1).as("chunk_tokens"),
            md5(array_join(slice(col("ts"), col("st"), lit(32)), " ")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""
        WITH $OTOKS,
        st AS (SELECT doc_id, len(ts) AS n, unnest(range(1, len(ts) + 1, 24)) AS st, ts FROM toks)
        SELECT doc_id,
               CAST((st - 1) // 24 AS INT) AS chunk_idx,
               CAST(least(32, n - st + 1) AS INT) AS chunk_tokens,
               md5(array_to_string(list_slice(ts, st, st + 31), ' ')) AS chunk_md5
        FROM st
        ORDER BY doc_id, chunk_idx""")),

    // B26/B42: regexp function family over document text — extract-all
    // cardinality, word-boundary counting, group extraction, global
    // replace. Patterns are ASCII-only so Java (Spark) and RE2 (DuckDB)
    // agree; Spark's regexp_replace is global by default, DuckDB needs
    // the explicit 'g' flag.
    Q(
      "q99_regexp_family",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(expr("regexp_extract_all(text, '[a-z]+ing', 0)")).as("n_ing"),
            expr("regexp_count(text, '\\\\bthe\\\\b')").as("n_the"),
            length(regexp_replace(col("text"), "[aeiou]", "")).as("len_novowel"),
            expr("regexp_extract(text, '([a-z]+)ing', 1)").as("first_ing_stem"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]+ing')) AS INT) AS n_ing,
               CAST(len(regexp_extract_all(text, '\bthe\b')) AS INT) AS n_the,
               CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS len_novowel,
               regexp_extract(text, '([a-z]+)ing', 1) AS first_ing_stem
        FROM documents
        ORDER BY doc_id""")),

    // B7: 32-bit SimHash per document (exact integer compare).
    Q(
      "q58_dedup_simhash",
      (s, dir) =>
        Dedup.simhash32(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some {
        val bitSums = (0 until 32).map(b => s"SUM((((hv >> $b) & 1) * 2) - 1) AS s_$b").mkString(", ")
        val assemble = (0 until 32)
          .map(b => s"CASE WHEN s_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
          .mkString(" + ")
        s"""
        WITH $OTOKS,
        tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        h AS (SELECT doc_id, ${ohash("sim", "t")} AS hv FROM tok),
        bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
        SELECT doc_id, $assemble AS simhash
        FROM bits
        ORDER BY doc_id"""
      }),

    // B7: SimHash near-dup candidates by Hamming distance.
    Q(
      "q59_simhash_pairs",
      (s, dir) => {
        val sh = Dedup.simhash32(Tables.documents(s, dir), "doc_id", "text")
        Dedup.simhashTopPairs(sh, "doc_id", "simhash", 50)
      },
      Some {
        val bitSums = (0 until 32).map(b => s"SUM((((hv >> $b) & 1) * 2) - 1) AS s_$b").mkString(", ")
        val assemble = (0 until 32)
          .map(b => s"CASE WHEN s_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
          .mkString(" + ")
        s"""
        WITH $OTOKS,
        tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        h AS (SELECT doc_id, ${ohash("sim", "t")} AS hv FROM tok),
        bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, $assemble AS simhash FROM bits)
        SELECT x.doc_id AS a, y.doc_id AS b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS dist
        FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        ORDER BY dist, a, b
        LIMIT 50"""
      }),

    // B7: distributed banded simhash pairs — the scale route for simhash
    // near-dup detection. A WIDE sketch (simhash60) with 4 bands x 15 bits
    // gives 2^15 keys per band: by pigeonhole any pair at Hamming distance
    // < 4 shares a band, and band buckets only collide for genuinely
    // similar documents, so the equi-join stays linear — no collect, no
    // cross join. The oracle replicates sketch and banding bit-exactly.
    Q(
      "q95_simhash_banded",
      (s, dir) => {
        val sh = Dedup.simhash60(Tables.documents(s, dir), "doc_id", "text")
        Dedup.simhashBandedTopPairs(sh, "doc_id", "simhash", 50, bands = 4, bitsPerBand = 15)
      },
      Some {
        val bitSums = (0 until 60).map(b => s"SUM((((hv >> $b) & 1) * 2) - 1) AS s_$b").mkString(", ")
        val assemble = (0 until 60)
          .map(b => s"CASE WHEN s_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
          .mkString(" + ")
        s"""
        WITH $OTOKS,
        tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        h AS (SELECT doc_id, ${ohash("sim", "t")} AS hv FROM tok),
        bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, $assemble AS simhash FROM bits),
        banded AS (SELECT doc_id, simhash, band,
                          (simhash >> (band * 15)) & 32767 AS key
                   FROM sh CROSS JOIN (SELECT unnest(range(4)) AS band)),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                        CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS dist
                 FROM banded x
                 JOIN banded y ON x.band = y.band AND x.key = y.key
                              AND x.doc_id < y.doc_id)
        SELECT a, b, dist FROM cand
        ORDER BY dist, a, b
        LIMIT 50"""
      }),

    // B42 quality scoring, corpus-LM flavor: per-document cross-entropy
    // under the corpus's own unigram distribution — the cheap stand-in
    // for KenLM-style perplexity filtering. Shape: one (doc, term)
    // partial-agg'd count, a vocab aggregate joined back BY TERM (build
    // side is 1 row per term, so a hot stop-word cannot blow up the
    // join), and a final per-doc sum. Each term's nats are floored to
    // integer micronats BEFORE the per-doc sum, so the total is an
    // order-independent integer — immune to float sum-order wobble —
    // and the floor itself is certified in-plan (Guards.lnMicronatFloor
    // refuses loudly on boundary-adjacent values, where the 1-ulp ln()
    // disagreement between the engines' libm could flip it).
    Q(
      "q120_unigram_xent",
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        val vocab = tf.groupBy("t").agg(sum("c").as("cf"))
        val total = vocab.agg(sum("cf").as("total"))
        tf.join(vocab, "t")
          .crossJoin(broadcast(total))
          .withColumn(
            "nll_micro",
            graft.operators.Guards.lnMicronatFloor(col("cf"), col("total"), "q120") * col("c"))
          .groupBy("doc_id")
          .agg(sum("c").as("n_tokens"), sum("nll_micro").as("sum_micronats"))
          .withColumn("xent_micronats", expr("sum_micronats DIV n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $OTOKS,
        tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT doc_id, unnest(ts) AS t FROM toks) GROUP BY 1, 2),
        vocab AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cf FROM tf GROUP BY 1),
        tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS total FROM vocab),
        nll AS (SELECT doc_id, c,
                       CAST(floor(-ln(CAST(cf AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6) AS BIGINT) * c AS nll_micro
                FROM tf JOIN vocab USING (t), tot)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(nll_micro) AS BIGINT) AS sum_micronats,
               CAST(SUM(nll_micro) AS BIGINT) // CAST(SUM(c) AS BIGINT) AS xent_micronats
        FROM nll
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // Deterministic train/val/test split assignment: bucket =
    // md5-derived hash of the doc id, mod 1000; 90/5/5 by threshold.
    // Pure scan-stage hashing — no shuffle, no RNG state — and STABLE:
    // a document keeps its split when the corpus grows or is
    // repartitioned, the property that keeps eval sets leak-free across
    // pipeline re-runs. The oracle re-derives the identical hash.
    Q(
      "q121_split_assign",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            (hash60("split", col("doc_id")) % 1000).as("bucket"))
          .withColumn(
            "split",
            when(col("bucket") < 900, "train")
              .when(col("bucket") < 950, "valid")
              .otherwise("test"))
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id,
               ${ohash("split", "CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
               CASE WHEN ${ohash("split", "CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'train'
                    WHEN ${ohash("split", "CAST(doc_id AS VARCHAR)")} % 1000 < 950 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id""")),

    // B42 tokenizer training, step one of BPE: the adjacent-symbol-pair
    // counts that pick the first merge. Counting is done over the UNIQUE
    // word table weighted by word frequency (the classic BPE trick), so
    // the pair explode runs over |vocab| rows, not |corpus| tokens —
    // at 100 TB the vocab aggregate is the only corpus-scale shuffle.
    Q(
      "q122_bpe_pairs",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(explode(tokens(lower(col("text")))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wf"))
        words
          .filter(length(col("w")) >= 2)
          .select(col("wf"), explode(transform(
            sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(sum("wf").as("freq"))
          .orderBy(col("freq").desc, col("pair"))
          .limit(30)
      },
      Some("""
        WITH w AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS wf
                   FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS t
                         FROM documents)
                   GROUP BY 1),
        p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, wf
              FROM (SELECT w, wf, unnest(range(1, length(w))) AS i FROM w WHERE length(w) >= 2))
        SELECT pair, CAST(SUM(wf) AS BIGINT) AS freq
        FROM p
        GROUP BY pair
        ORDER BY freq DESC, pair
        LIMIT 30""")),

    // Corpus-wide repeated-substring removal (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better"): every token position
    // covered by an 8-token span occurring in >= 2 DISTINCT documents is
    // cut, and the cleaned text itself is md5-verified cross-engine
    // (within-doc repetition is q113's filter; this is the cross-doc
    // span cut). Plan shape at 100 TB: one gram aggregate (partial-agg'd,
    // distinct-doc count), one equi-join back to occurrences, one
    // position anti-join, one per-doc rebuild — all linear, no pairwise
    // doc comparison anywhere.
    Q(
      "q125_substring_dedup",
      (s, dir) =>
        Dedup.removeRepeatedSpans(Tables.documents(s, dir), "doc_id", "text", w = 8)
          .select(
            col("doc_id"), col("n_tokens"), col("n_removed"),
            md5(col("cleaned")).as("clean_md5"))
          .orderBy("doc_id"),
      Some(s"""
        WITH $OTOKS,
        occ AS (
          SELECT doc_id, p, array_to_string(list_slice(ts, p, p + 7), ' ') AS gram
          FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS p
                FROM toks WHERE len(ts) >= 8)),
        dup AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        cov AS (
          SELECT DISTINCT doc_id, tp
          FROM (SELECT doc_id, unnest(range(p, p + 8)) AS tp
                FROM occ WHERE gram IN (SELECT gram FROM dup))),
        tokpos AS (
          SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS tp
          FROM toks),
        kept AS (
          SELECT t.doc_id, t.tp, t.tok
          FROM tokpos t
          WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.tp = t.tp)),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS cleaned
          FROM kept GROUP BY doc_id),
        nrem AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed FROM cov GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(len(t.ts) AS INT) AS n_tokens,
               COALESCE(n.n_removed, 0) AS n_removed,
               md5(COALESCE(r.cleaned, '')) AS clean_md5
        FROM toks t
        LEFT JOIN nrem n USING (doc_id)
        LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY t.doc_id""")),

    // Distributed BPE vocabulary induction (operators.Bpe): 6 merge
    // rounds over the en-corpus word-frequency dictionary. The oracle
    // unrolls every round as CTEs with the IDENTICAL pair-count /
    // argmax / greedy-parity-merge formulation, so the learned merge
    // table (including tie-breaks and exact pair counts) matches
    // cross-engine. See Bpe.scala for why each round is shuffle-bounded
    // by the distinct-pair count, not the corpus.
    Q(
      "q159_bpe_merges",
      (s, dir) => {
        import s.implicits._
        val (merges, _) = trainedBpe(s, dir, 6)
        merges.toDF("it", "left_sym", "right_sym", "pair_count").orderBy("it")
      },
      Some(bpeOracle(6))),

    // T5-style span corruption: deterministically mask ~20% of token
    // positions (hash-derived, so the SAME spans regenerate on every
    // run/engine), collapse each maskedrun into one numbered sentinel in
    // the input, and emit the masked tokens behind their sentinels as
    // the target — the (input, target) pair generator for denoising
    // pretraining. All gaps-and-islands window algebra partitioned per
    // doc (tiny partitions), reassembled with an ordered collect;
    // outputs compare as md5 so the whole string construction is pinned
    // cross-engine. At 100 TB this is scan + per-doc windows — no joins,
    // no global state, shuffle bounded by the doc partition.
    Q(
      "q167_span_corruption",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("p")
        val ex = Tables.documents(s, dir)
          .filter(col("lang") === "en")
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tok")))
          .withColumn("masked",
            hash60("mask", concat(col("doc_id"), lit(":"), col("p"))) % 5 === 0)
          .withColumn("start",
            col("masked") && !coalesce(lag(col("masked"), 1).over(w), lit(false)))
          .withColumn("span_id",
            sum(when(col("start"), 1L).otherwise(0L)).over(
              w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
        val withPieces = ex
          .withColumn("in_tok",
            when(!col("masked"), col("tok"))
              .when(col("start"), concat(lit("<extra_id_"), col("span_id") - 1, lit(">"))))
          .withColumn("tgt_tok",
            when(col("masked") && col("start"),
              concat(lit("<extra_id_"), col("span_id") - 1, lit("> "), col("tok")))
              .when(col("masked"), col("tok")))
        withPieces.groupBy("doc_id")
          .agg(
            md5(array_join(transform(array_sort(collect_list(
              when(col("in_tok").isNotNull, struct(col("p"), col("in_tok"))))),
              x => x.getField("in_tok")), " ")).as("input_md5"),
            md5(array_join(transform(array_sort(collect_list(
              when(col("tgt_tok").isNotNull, struct(col("p"), col("tgt_tok"))))),
              x => x.getField("tgt_tok")), " ")).as("target_md5"),
            max(col("span_id")).cast("int").as("n_spans"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS ts
             FROM documents WHERE lang = 'en'),
        ex AS (SELECT doc_id, u.p, u.tok FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
                   i -> struct_pack(p := CAST(i - 1 AS INT), tok := ts[i]))) AS u
          FROM toks)),
        mk AS (SELECT doc_id, p, tok,
                      (${ohash("mask", "doc_id || ':' || p")}) % 5 = 0 AS masked
               FROM ex),
        st AS (SELECT *, masked AND NOT COALESCE(
                 lag(masked) OVER (PARTITION BY doc_id ORDER BY p), FALSE) AS start
               FROM mk),
        sp AS (SELECT *, SUM(CASE WHEN start THEN 1 ELSE 0 END) OVER (
                 PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS span_id
               FROM st),
        pc AS (SELECT doc_id, p, span_id, masked,
                      CASE WHEN NOT masked THEN tok
                           WHEN start THEN '<extra_id_' || (span_id - 1) || '>' END AS in_tok,
                      CASE WHEN masked AND start
                             THEN '<extra_id_' || (span_id - 1) || '> ' || tok
                           WHEN masked THEN tok END AS tgt_tok
               FROM sp)
        SELECT doc_id,
               md5(COALESCE(string_agg(in_tok, ' ' ORDER BY p) FILTER (WHERE in_tok IS NOT NULL), '')) AS input_md5,
               md5(COALESCE(string_agg(tgt_tok, ' ' ORDER BY p) FILTER (WHERE tgt_tok IS NOT NULL), '')) AS target_md5,
               CAST(max(span_id) AS INT) AS n_spans
        FROM pc
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // BPE ENCODE — the apply half of q159's train: reuse q159's
    // memoized 6-merge vocab (deterministic training, so sharing is
    // observable-result-neutral), then
    // tokenize the corpus BY DICTIONARY JOIN: per-doc words equi-join
    // the word→symbols vocab and token counts are one partial-agg'd
    // sum. This is the production shape: the corpus is never re-walked
    // per merge — encoding cost is one join against a broadcastable
    // vocab whatever the merge count. The oracle replays training AND
    // the join.
    Q(
      "q169_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).filter(col("lang") === "en")
        val vocab = trainedBpe(s, dir, 6)._2.toDF("word", "freq", "toks")
        docs
          .select(col("doc_id"), explode(tokens(lower(col("text")))).as("word"))
          .join(vocab.select(col("word"), size(col("toks")).as("n_sym")), "word")
          .groupBy("doc_id")
          .agg(
            sum(col("n_sym")).cast("long").as("n_bpe_tokens"),
            count(lit(1)).as("n_words"))
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracle(6))),

    // B158 (r15): BPE corpus encode TO TOKEN IDS — the missing step
    // between "tokenizer trained" (q159) and "training shards written":
    // q169 counts learned-vocabulary tokens, this emits the encoded
    // SEQUENCE. Symbol ids are dense 1-based under UTF-8 BINARY order
    // (driver-side sort via Bpe.utf8Ordering == DuckDB's default ORDER
    // BY — collation-proof by construction); each dict word pre-encodes
    // DRIVER-SIDE to its id string (the dict is Heaps-law bounded, see
    // Bpe.train), so the corpus-scale plan is ONE broadcast dictionary
    // join + one per-doc ordered aggregate — the corpus is never
    // re-walked per merge, and no per-symbol explode happens at corpus
    // scale. The per-doc id stream is pinned as md5 of the space-joined
    // ids in word order (the q167 posture: the exact string both
    // engines built), beside the token count.
    Q(
      "q269_bpe_token_ids",
      (s, dir) => {
        import s.implicits._
        val (_, dict) = trainedBpe(s, dir, 6)
        val symId = dict.iterator.flatMap(_._3).toSet.toSeq
          .sorted(graft.operators.Bpe.utf8Ordering)
          .zipWithIndex.map { case (sym, i) => sym -> (i + 1) }.toMap
        val wordEnc = dict.map { case (w, _, toks) =>
          (w, toks.length.toLong, toks.map(symId).mkString(" "))
        }.toDF("word", "n_sym", "ids")
        Tables.documents(s, dir).filter(col("lang") === "en")
          .select(col("doc_id"),
            posexplode(tokens(lower(col("text")))).as(Seq("wp", "word")))
          .join(wordEnc, "word")
          .groupBy("doc_id")
          .agg(
            sum("n_sym").as("n_bpe_tokens"),
            count(lit(1)).as("n_words"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("wp"), col("ids")))),
              x => x.getField("ids")), " ")).as("ids_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH ${bpeCtes(6)},
        syms AS (SELECT DISTINCT unnest(toks) AS sym FROM it6),
        symids AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) AS BIGINT) AS id
                   FROM syms),
        wsym AS (SELECT word, u.p, u.sym FROM (
                   SELECT word, unnest(list_transform(range(1, len(toks) + 1),
                            i -> struct_pack(p := CAST(i AS INT), sym := toks[i]))) AS u
                   FROM it6)),
        wenc AS (SELECT w.word, CAST(COUNT(*) AS BIGINT) AS n_sym,
                        string_agg(CAST(si.id AS VARCHAR), ' ' ORDER BY w.p) AS ids
                 FROM wsym w JOIN symids si USING (sym) GROUP BY w.word),
        dw AS (SELECT doc_id, u.wp, u.word FROM (
                 SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
                          i -> struct_pack(wp := CAST(i - 1 AS INT), word := ws[i]))) AS u
                 FROM (SELECT doc_id, list_filter(
                         string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS ws
                       FROM documents WHERE lang = 'en')))
        SELECT doc_id,
               CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe_tokens,
               COUNT(*) AS n_words,
               md5(string_agg(v.ids, ' ' ORDER BY dw.wp)) AS ids_md5
        FROM dw JOIN wenc v USING (word)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // B158 (r15): token-budget shard packing over the LEARNED
    // vocabulary — q217 packs on whitespace-regex counts, which is the
    // wrong budget once a tokenizer exists: shard budgets are BPE-token
    // budgets. Same algebra (deterministic doc order, PrefixSum
    // range-exchange running sum, START-aligned greedy 4096-token
    // shards, audit columns), with the per-doc count coming from the
    // q169 dictionary join — closing the train-tokenizer -> encode ->
    // write-shards arc end to end.
    Q(
      "q270_bpe_packing",
      (s, dir) => {
        import s.implicits._
        val vocab = trainedBpe(s, dir, 6)._2.toDF("word", "freq", "toks")
        val toks = Tables.documents(s, dir).filter(col("lang") === "en")
          .select(col("doc_id"), explode(tokens(lower(col("text")))).as("word"))
          .join(vocab.select(col("word"), size(col("toks")).cast(LongType).as("n_sym")),
            "word")
          .groupBy("doc_id").agg(sum("n_sym").as("tok"))
        val cum = graft.operators.PrefixSum
          .runningSums(toks, Seq(col("doc_id")), Seq("tok"))
        cum.select(expr("(c_tok - tok) div 4096").as("shard"), col("tok"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("tok").as("tok_sum"))
          .select(col("shard"), col("n_docs"), col("tok_sum"),
            (col("tok_sum") > 4096L).as("over_budget"),
            expr("(1000000 * tok_sum) div 4096").as("utilization_ppm"))
          .orderBy("shard")
      },
      Some(s"""
        WITH ${bpeCtes(6)},
        dw AS (SELECT doc_id, unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS word
               FROM documents WHERE lang = 'en'),
        dt AS (SELECT doc_id, CAST(SUM(len(v.toks)) AS BIGINT) AS tok
               FROM dw JOIN it6 v USING (word) GROUP BY doc_id),
        cum AS (SELECT doc_id, tok, CAST(SUM(tok) OVER (ORDER BY doc_id) AS BIGINT) AS c
                FROM dt),
        sh AS (SELECT (c - tok) // 4096 AS shard, tok FROM cum)
        SELECT CAST(shard AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS tok_sum,
               SUM(tok) > 4096 AS over_budget,
               CAST((1000000 * SUM(tok)) // 4096 AS BIGINT) AS utilization_ppm
        FROM sh GROUP BY 1 ORDER BY 1""")),

    // B122: winnowing (MOSS) fingerprint overlap — the guaranteed-recall
    // substring-overlap sketch beside the probabilistic minhash/simhash
    // tiers: any shared run of >= w+k-1 = 20 tokens yields an identical
    // selected fingerprint in both documents (Schleimer et al. 2003),
    // at ~2/(w+1) of the gram storage (w=16 measures ~10% fingerprint
    // density on this corpus; the r10 demo ran w=4 at ~40% density,
    // which defeated the storage claim and made this the slowest bench
    // entry — the operator was fine, the parameters weren't). Selection
    // is one GROUPED sliding MIN over the order-embedding key
    // h40·2^20 + (2^20 − pos) (min key = min hash, rightmost tie —
    // engine-portable); the pair join is bucket-bounded with a
    // doc-frequency cap of 50 (the LSH band-join posture). Each pair
    // carries the exact-rational containment score (shared div
    // min(|FP_a|, |FP_b|), floored ppm) so thresholds are comparable
    // across document lengths. Top-12 under a total order -> TakeOrdered.
    Q(
      "q228_winnow_overlap",
      (s, dir) => {
        val fps = graft.operators.Winnowing.fingerprints(
          Tables.documents(s, dir), "doc_id", "text", k = 5, w = 16)
        graft.operators.Winnowing.overlapPairs(fps, maxDocFreq = 50)
          .orderBy(col("shared_fps").desc, col("id_a"), col("id_b"))
          .limit(12)
      },
      Some("""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts FROM documents),
        grams AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                         CAST(('0x' || substring(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]), 1, 15)) AS BIGINT) % 1099511627776 AS h40
                  FROM toks, unnest(range(1, greatest(len(ts) - 4, 0) + 1)) AS u(i)),
        keyed AS (SELECT doc_id, pos, h40 * 1048576 + (1048576 - pos) AS key FROM grams),
        mk AS (SELECT doc_id, pos,
                      MIN(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS mkey
               FROM keyed),
        fps AS (SELECT DISTINCT doc_id AS id,
                       CAST(mkey // 1048576 AS BIGINT) AS fp_hash
                FROM mk WHERE pos >= 16),
        dfreq AS (SELECT fp_hash FROM fps GROUP BY 1 HAVING COUNT(*) <= 50),
        kept AS (SELECT b.id, b.fp_hash FROM fps b JOIN dfreq d ON d.fp_hash = b.fp_hash),
        per_doc AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_fps FROM kept GROUP BY 1),
        pairs AS (SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared_fps
                  FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.id < b.id
                  GROUP BY 1, 2)
        SELECT p.id_a, p.id_b, p.shared_fps,
               least(da.n_fps, db.n_fps) AS min_fps,
               (1000000 * p.shared_fps) // least(da.n_fps, db.n_fps) AS containment_ppm
        FROM pairs p
        JOIN per_doc da ON da.id = p.id_a
        JOIN per_doc db ON db.id = p.id_b
        ORDER BY shared_fps DESC, id_a, id_b
        LIMIT 12""")),

    // B126: EXACT set-similarity join via prefix filtering (Chaudhuri
    // 2006 / Bayardo all-pairs 2007 / PPJoin) — the zero-false-negative
    // tier of the near-dup family: where minhash-LSH (q57) trades recall
    // probabilistically, the prefix filter prunes exactly (sets are
    // ordered rarest-element-first; J >= t forces the prefixes to share
    // an element, pigeonhole). Candidates pass a length filter, then
    // exact intersection counts verify. The oracle is the brute-force
    // all-pairs Jaccard — equality IS the losslessness proof on this
    // corpus. 3-shingle sets at t = 0.7 (the planted near-dup band —
    // the same ~25 pairs per SF survive at any t in [0.3, 0.7], and the
    // higher threshold keeps prefixes at ~30% of each set, an ~10×
    // smaller candidate join than t = 0.4 measured on this corpus;
    // all-pairs would be ~12M at sf0.1).
    Q(
      "q234_ppjoin_exact",
      (s, dir) => {
        val sh = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array_distinct(graft.operators.TextAnalysis
              .shinglesFromTokens(graft.functions.GraftFunctions.tokens(col("text")), 3)))
              .as("sh"))
        graft.operators.PrefixFilterJoin.jaccardJoin(sh, "doc_id", "sh", 700000L)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS ss FROM toks),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
                         CAST(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS BIGINT) AS union_sz
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(a.ss) > 0 AND len(b.ss) > 0)
        SELECT id_a, id_b, inter, union_sz,
               (1000000 * inter) // union_sz AS jaccard_ppm
        FROM pairs
        WHERE 1000000 * inter >= 700000 * union_sz
        ORDER BY id_a, id_b""")),

    // B134: interpolated Kneser-Ney bigram cross-entropy — the
    // word-order-aware fluency gate beside q120's unigram tier: shuffled
    // or boilerplate-stitched text has common WORDS in uncommon ORDER,
    // which a unigram LM cannot see. Corpus-as-own-model (every scored
    // bigram has count >= 1), absolute discount D = 3/4 exact-rational,
    // so P(w|v) = (B·(4c(v,w)−3) + 3·N1+(v,·)·N1+(·,w)) / (4·B·c(v)) is
    // a ratio of guarded int64 products; the one float step is q120's
    // per-bigram floor(−ln·10^6) onto the micronat grid BEFORE the doc
    // sum (order-independent, 1-ulp-immune totals). One corpus-scale
    // (doc,v,w) count; model tables join back BY TYPE; B broadcasts.
    Q(
      "q243_kn_bigram_xent",
      (s, dir) => graft.operators.KneserNey
        .bigramScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        idx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks),
        big AS (SELECT doc_id, ts[i] AS v, ts[i + 1] AS w FROM idx),
        tfb AS (SELECT doc_id, v, w, CAST(COUNT(*) AS BIGINT) AS c_doc FROM big GROUP BY 1, 2, 3),
        bc AS (SELECT v, w, CAST(SUM(c_doc) AS BIGINT) AS c_vw FROM tfb GROUP BY 1, 2),
        ctx AS (SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v, CAST(COUNT(*) AS BIGINT) AS n1p_v FROM bc GROUP BY 1),
        cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w FROM bc GROUP BY 1),
        bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bc),
        nll AS (SELECT tfb.doc_id, tfb.c_doc,
                       CAST(floor(-ln(CAST(b * (4 * c_vw - 3) + 3 * n1p_v * n1p_w AS DOUBLE)
                                       / CAST(4 * b * c_v AS DOUBLE)) * 1e6) AS BIGINT) * c_doc AS nll_micro
                FROM tfb JOIN bc USING (v, w) JOIN ctx USING (v) JOIN cont USING (w), bt)
        SELECT doc_id, CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
               CAST(SUM(nll_micro) AS BIGINT) AS sum_micronats,
               CAST(SUM(nll_micro) AS BIGINT) // CAST(SUM(c_doc) AS BIGINT) AS xent_micronats
        FROM nll GROUP BY doc_id ORDER BY doc_id""")),

    // B140: content-defined chunking (operators/Cdc) — the storage-dedup
    // read of the corpus: cut every token stream where a 4-token
    // windowed hash60 ≡ 0 (mod 32) (boundaries move WITH the content, so
    // a paragraph shared at different offsets chunks identically — what
    // fixed-size chunking cannot do), fingerprint the chunks, and report
    // per-source how much of the corpus is removable duplicate chunk
    // mass on the ppm grid. Complements winnowing (q228 DETECTS overlap
    // by sampled fingerprints; this PARTITIONS the corpus so the
    // duplicate share is directly removable). Per-doc windows + one
    // (doc,chunk) groupBy + one per-source agg — no pair generation
    // anywhere; the oracle replays tokenizer, window hash, running-sum
    // chunk ids and fingerprints verbatim.
    Q(
      "q249_cdc_chunk_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val chunks = graft.operators.Cdc
          .chunkFingerprints(docs, "doc_id", "text", window = 4, stride = 32)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        graft.operators.Cdc.dedupSummary(chunks, Seq(col("source")))
          .orderBy("source")
      },
      Some("""
        WITH toks AS (SELECT doc_id, source,
                             list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        p AS (SELECT doc_id, source, ts, unnest(range(1, len(ts) + 1)) AS i FROM toks),
        tk AS (SELECT doc_id, source, i, ts[i] AS tok,
                      CASE WHEN i >= 4 THEN ts[i-3] || ' ' || ts[i-2] || ' ' || ts[i-1] || ' ' || ts[i] END AS ctx
               FROM p),
        ct AS (SELECT doc_id, source, i, tok,
                      CASE WHEN ctx IS NOT NULL
                            AND ('0x' || substr(md5('cdc:' || ctx), 1, 15))::BIGINT % 32 = 0
                           THEN 1 ELSE 0 END AS cut
               FROM tk),
        ch AS (SELECT doc_id, source, i, tok,
                      COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
               FROM ct),
        fp AS (SELECT doc_id, MIN(source) AS source, chunk_no,
                      ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY i)), 1, 15))::BIGINT AS fp
               FROM ch GROUP BY doc_id, chunk_no),
        s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total_chunks,
                     CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_chunks
              FROM fp GROUP BY 1)
        SELECT source, total_chunks, distinct_chunks,
               (total_chunks - distinct_chunks) * 1000000 // total_chunks AS dup_ppm
        FROM s ORDER BY source""")),

    // B148: PMI collocation mining — the phrase-extraction read beside
    // q136's raw pair counts and q243's KN fluency model: PMI(v,w) =
    // ln(N·c_vw/(c_v·c_w)) ranks bigrams by how much MORE than chance
    // their words co-occur (the standard collocation statistic; raw
    // counts just surface stopword pairs). The one float step is the
    // certified micronat floor — PMI_micro = floor(ln(num/den)·10⁶) via
    // Guards.lnMicronatFloor(den, num) with both int64 products
    // division-guarded in-plan (N² wraps at ~3·10⁹ bigrams; the refusal
    // says to downscale counts). Evidence floor c_vw ≥ 5 (PMI is
    // notoriously noisy on hapax pairs), top-20 via ONE desc bottom-k
    // aggregate (ties to (v, w) asc) — never a corpus window sort.
    // Measured margins (graft.tools.FloatMargin): the PMI grid's minimum
    // boundary distance is 5.3e-4 at sf0.01 / 4.9e-4 at sf0.1, >= 1.1e6x
    // the lnMicronatFloor refusal threshold — the guard is insurance.
    Q(
      "q257_pmi_collocations",
      (s, dir) => {
        import graft.operators.{Guards, KneserNey}
        val bc = Tables.documents(s, dir)
          .select(explode(KneserNey.bigramsFromTokens(
            tokens(lower(col("text"))))).as("bg"))
          .groupBy(col("bg.v").as("v"), col("bg.w").as("w"))
          .agg(count(lit(1)).as("c_vw"))
        val cv = bc.groupBy("v").agg(sum("c_vw").as("c_v"))
        val cw = bc.groupBy("w").agg(sum("c_vw").as("c_w"))
        val nn = bc.agg(sum("c_vw").as("nn"))
        val pmi = bc.filter(col("c_vw") >= 5L)
          .join(cv, "v").join(cw, "w")
          .crossJoin(broadcast(nn))
          .select(col("v"), col("w"), col("c_vw"),
            Guards.lnMicronatFloor(
              Guards(col("c_v") <= expr(s"${Long.MaxValue}L div c_w"),
                col("c_v") * col("c_w"),
                Guards.msg("pmi", lit("c_v*c_w = "), col("c_v").cast("string"),
                  lit("*"), col("c_w").cast("string"),
                  lit(" wraps int64 - downscale the marginal counts"))),
              Guards(col("nn") <= expr(s"${Long.MaxValue}L div c_vw"),
                col("nn") * col("c_vw"),
                Guards.msg("pmi", lit("N*c_vw = "), col("nn").cast("string"),
                  lit("*"), col("c_vw").cast("string"),
                  lit(" wraps int64 - downscale the pair counts"))),
              "pmi").as("pmi_micro"))
        pmi.agg(call_function("graft_bottom_k",
            col("pmi_micro"), struct(col("v"), col("w"), col("c_vw")),
            lit(20), lit(true)).as("bk"))
          .select(posexplode(col("bk")).as(Seq("pos", "kv")))
          .select(col("kv.v.v").as("v"), col("kv.v.w").as("w"),
            col("kv.v.c_vw").as("c_vw"), col("kv.k").as("pmi_micro"),
            (col("pos") + 1).cast("int").as("rk"))
          .orderBy("rk")
      },
      Some(raw"""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        idx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks),
        bc AS (SELECT ts[i] AS v, ts[i + 1] AS w, CAST(COUNT(*) AS BIGINT) AS c_vw
               FROM idx GROUP BY 1, 2),
        cv AS (SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v FROM bc GROUP BY 1),
        cw AS (SELECT w, CAST(SUM(c_vw) AS BIGINT) AS c_w FROM bc GROUP BY 1),
        n AS (SELECT CAST(SUM(c_vw) AS BIGINT) AS nn FROM bc),
        p AS (SELECT bc.v, bc.w, c_vw,
                     CAST(floor(-ln(CAST(c_v * c_w AS DOUBLE) / CAST(nn * c_vw AS DOUBLE)) * 1e6) AS BIGINT) AS pmi_micro
              FROM bc JOIN cv USING (v) JOIN cw USING (w) CROSS JOIN n
              WHERE c_vw >= 5),
        r AS (SELECT *, CAST(row_number() OVER (ORDER BY pmi_micro DESC, v, w) AS INT) AS rk FROM p)
        SELECT v, w, c_vw, pmi_micro, rk FROM r WHERE rk <= 20 ORDER BY rk""")),

    // B149: TextRank keyword extraction (Mihalcea & Tarau 2004, public
    // method) — corpus keywords as the stationary mass of a random walk
    // over the word co-occurrence graph: adjacency-window-2 edges
    // (adjacent token pairs), evidence floor c >= 5, symmetrized, then
    // the EXACT integer PageRank B52 already ships (4 rounds, x10^12
    // grid, 85/100 damping — bit-identical across engines, zero new
    // float surface). Pure OPERATOR COMPOSITION: the bigram scan is
    // q257's, the fixpoint is q137's — the graph wing consuming the
    // text wing. Node ids are hash60(word) (the oracle replays the same
    // hash, so even a collision is computed identically both sides);
    // the evidence-floored co-occurrence graph is vocabulary-bounded,
    // far under PageRank's in-memory routing budget, so the rounds cost
    // zero distributed jobs after the one corpus-scale bigram count.
    Q(
      "q259_textrank_keywords",
      (s, dir) => {
        import graft.operators.KneserNey
        val bg = Tables.documents(s, dir)
          .select(explode(KneserNey.bigramsFromTokens(
            tokens(lower(col("text"))))).as("bg"))
          .select(col("bg.v").as("v"), col("bg.w").as("w"))
          .filter(col("v") =!= col("w"))
          .groupBy("v", "w").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 5L)
        val und = bg.select(col("v"), col("w"))
          .union(bg.select(col("w").as("v"), col("v").as("w")))
          .distinct()
        val edges = und.select(
          hash60("trk", col("v")).as("src"), hash60("trk", col("w")).as("dst"))
          .distinct()
        val dict = und.select(col("v").as("word")).distinct()
          .select(col("word"), hash60("trk", col("word")).as("node"))
        val pr = graft.operators.PageRank.run(edges, "src", "dst", iters = 4)
        pr.join(dict, "node")
          .select(col("word"), col("score"))
          .orderBy(col("score").desc, col("word"))
          .limit(20)
      },
      Some {
        val (scale, dampNum, dampDen) = (1000000000000L, 85L, 100L)
        val base = s"(SELECT (($scale * ${dampDen - dampNum}) // $dampDen) // COUNT(*) FROM nodes)"
        val iterCtes = (1 to 4).map { i =>
          s"""it$i AS (
            SELECT n.node, $base + COALESCE(m.mass, 0) AS score
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS node,
                     SUM(((p.score * $dampNum) // $dampDen) // d.outdeg) AS mass
              FROM edges e JOIN it${i - 1} p ON e.src = p.node
                           JOIN deg d ON d.src = e.src
              GROUP BY e.dst) m ON m.node = n.node)"""
        }.mkString(",\n")
        raw"""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        idx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks),
        bc AS (SELECT ts[i] AS v, ts[i + 1] AS w, COUNT(*) AS c
               FROM idx WHERE ts[i] <> ts[i + 1] GROUP BY 1, 2),
        fl AS (SELECT v, w FROM bc WHERE c >= 5),
        und AS (SELECT DISTINCT v, w FROM (SELECT v, w FROM fl UNION ALL SELECT w, v FROM fl)),
        edges AS (SELECT DISTINCT
                    ('0x' || substr(md5('trk:' || v), 1, 15))::BIGINT AS src,
                    ('0x' || substr(md5('trk:' || w), 1, 15))::BIGINT AS dst
                  FROM und),
        dict AS (SELECT word, ('0x' || substr(md5('trk:' || word), 1, 15))::BIGINT AS node
                 FROM (SELECT DISTINCT v AS word FROM und)),
        nodes AS (SELECT DISTINCT src AS node FROM edges
                  UNION SELECT DISTINCT dst FROM edges),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        it0 AS (SELECT node, $scale // (SELECT COUNT(*) FROM nodes) AS score FROM nodes),
        $iterCtes
        SELECT d.word, CAST(p.score AS BIGINT) AS score
        FROM it4 p JOIN dict d ON d.node = p.node
        ORDER BY score DESC, word
        LIMIT 20"""
      }),

    // B153: cross-source duplication matrix — EXACT pairwise Jaccard
    // over each source's distinct 3-shingle set: the corpus-level
    // "which SOURCES republish each other" read that the doc-level dedup
    // tiers (q56/q57/q234) can't give directly. The pair frame is
    // bounded by construction: per shingle the sources sharing it are
    // collected once (≤ |sources| = 20) and combinations explode to
    // ≤ C(20,2) = 190 rows — never a doc×doc or shingle×shingle join;
    // marginals are |sources|-row aggregates. Pure int64 with the ·10⁶
    // grid wrap-guarded in-plan.
    Q(
      "q263_source_overlap",
      (s, dir) => {
        import graft.operators.Guards
        val docs = Tables.documents(s, dir)
        val sh = graft.operators.Dedup.shingleIndex(docs, "doc_id", "text", 3)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), col("shingle")).distinct()
        val ns = sh.groupBy("source").agg(count(lit(1)).as("n"))
        val pairs = sh.groupBy("shingle")
          .agg(sort_array(collect_set("source")).as("ss"))
          .select(explode(flatten(transform(col("ss"), (a, i) =>
            transform(slice(col("ss"), i + 2, size(col("ss"))),
              b => struct(a.as("s1"), b.as("s2"))))))
            .as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(count(lit(1)).as("c"))
        pairs
          .join(ns.select(col("source").as("s1"), col("n").as("n1")), "s1")
          .join(ns.select(col("source").as("s2"), col("n").as("n2")), "s2")
          .select(col("s1"), col("s2"), col("c"), col("n1"), col("n2"),
            Guards(col("c") <= lit(Long.MaxValue / 1000000L),
              expr("(c * 1000000) div (n1 + n2 - c)"),
              Guards.msg("source-overlap",
                lit("shared-shingle count "), col("c"),
                lit(" wraps the x10^6 grid; coarsen"))).as("jac_ppm"))
          .orderBy("s1", "s2")
      },
      Some(raw"""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        sh0 AS (SELECT DISTINCT doc_id, sh FROM (
                  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
                  FROM toks)),
        sh AS (SELECT DISTINCT d.source, sh0.sh
               FROM sh0 JOIN documents d USING (doc_id)),
        ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        p AS (SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS c
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
              GROUP BY 1, 2)
        SELECT s1, s2, c, n1.n AS n1, n2.n AS n2,
               (c * 1000000) // (n1.n + n2.n - c) AS jac_ppm
        FROM p JOIN ns n1 ON n1.source = p.s1 JOIN ns n2 ON n2.source = p.s2
        ORDER BY s1, s2""")),

    // B154: EXACT containment decontamination — the asymmetric question
    // q234's Jaccard tier understates: "how much of test document x is
    // INSIDE training document y" (a 50-shingle benchmark fully inside a
    // 5000-shingle doc has J ≈ 0.01 but C = 1.0). zh-language docs play
    // the test set, the rest the training corpus, threshold 80% of the
    // probe's 3-shingles. The prefix filter needs only the PROBE side
    // (overlap ≥ ⌈t·|x|⌉ cannot hide past x's prefix — see
    // operators/PrefixFilterJoin.containmentJoin); the oracle is the
    // brute-force all-pairs join, the standing no-false-negative proof.
    Q(
      "q264_containment_decon",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sh = graft.operators.Dedup.shingleIndex(docs, "doc_id", "text", 3)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        graft.operators.PrefixFilterJoin.containmentJoin(
            probes = sh.filter(col("lang") === "zh"),
            corpus = sh.filter(col("lang") =!= "zh"),
            idCol = "doc_id", elemCol = "shingle", tPpm = 800000L)
          .orderBy("xid", "yid")
      },
      Some(raw"""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        sh0 AS (SELECT DISTINCT doc_id, sh FROM (
                  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
                  FROM toks)),
        shl AS (SELECT sh0.doc_id, d.lang, sh0.sh
                FROM sh0 JOIN documents d USING (doc_id)),
        px AS (SELECT doc_id AS xid, sh FROM shl WHERE lang = 'zh'),
        py AS (SELECT doc_id AS yid, sh FROM shl WHERE lang <> 'zh'),
        nx AS (SELECT xid, CAST(COUNT(*) AS BIGINT) AS szx FROM px GROUP BY 1),
        ov AS (SELECT xid, yid, CAST(COUNT(*) AS BIGINT) AS inter
               FROM px JOIN py USING (sh) GROUP BY 1, 2)
        SELECT xid, yid, inter, szx, (1000000 * inter) // szx AS containment_ppm
        FROM ov JOIN nx USING (xid)
        WHERE 1000000 * inter >= 800000 * szx
        ORDER BY xid, yid""")),

    // B163: TRIGRAM-INDEX substring search — the pg_trgm route: a
    // substring probe over a 100-TB corpus cannot be LIKE '%p%' (a full
    // scan per query); the index route materializes (trigram, doc)
    // posting lists ONCE (write-side, linear), and each probe is an
    // equi-join on the pattern's trigrams + a having-all count + an
    // exact contains() verify on the candidates only. Zero false
    // negatives BY CONSTRUCTION (a doc containing p contains every
    // trigram of p), so index-route results = scan results — which is
    // exactly what the oracle (the brute-force contains scan, with the
    // patterns re-derived identically) hash-checks. Patterns are
    // data-derived, never literals: the top-3 document-frequency ASCII
    // words of length >= 6 (the [a-z]{6,} gate keeps the Scala
    // char-sliding and both engines' char semantics trivially aligned;
    // ties alphabetical). Driver touchpoint: 3 pattern strings.
    Q(
      "q275_trigram_search",
      (s, dir) => {
        import s.implicits._
        val docs = graft.Q.persistOnce(Tables.documents(s, dir)
          .select(col("doc_id"), lower(col("text")).as("t")))
        val pats = docs
          .select(explode(array_distinct(tokens(col("t")))).as("w"))
          .filter(col("w").rlike("^[a-z]{6,}$"))
          .groupBy("w").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("w")).limit(3)
          .collect().map(_.getString(0))
        // posting lists: distinct trigrams per doc (the write-side index)
        val posting = docs.select(col("doc_id"), explode(array_distinct(
            expr("transform(sequence(1, greatest(length(t) - 2, 1)), i -> substring(t, i, 3))")))
          .as("tg"))
        val probe = pats.toSeq
          .flatMap(p => p.sliding(3).toSeq.distinct.map(tg => (p, tg)))
          .toDF("pattern", "tg")
        val sizes = pats.toSeq.map(p => (p, p.sliding(3).toSeq.distinct.size.toLong))
          .toDF("pattern", "n_tg")
        val cand = posting.join(broadcast(probe), "tg")
          .groupBy("pattern", "doc_id").agg(count(lit(1)).as("hit"))
          .join(broadcast(sizes), "pattern")
          .filter(col("hit") === col("n_tg"))
        cand.join(docs, "doc_id")
          .filter(expr("contains(t, pattern)"))
          .select(col("pattern"), col("doc_id"))
          .orderBy("pattern", "doc_id")
      },
      Some("""
        WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
        wd AS (SELECT doc_id, unnest(list_distinct(list_filter(
                 string_split_regex(trim(t), '\s+'), x -> x <> ''))) AS w
               FROM docs),
        pats AS (SELECT w FROM (
                   SELECT w, COUNT(*) AS df FROM wd
                   WHERE regexp_matches(w, '^[a-z]{6,}$') GROUP BY w)
                 ORDER BY df DESC, w LIMIT 3)
        SELECT p.w AS pattern, d.doc_id
        FROM docs d JOIN pats p ON contains(d.t, p.w)
        ORDER BY pattern, doc_id"""))
  )

  /** The q159 oracle: BPE rounds unrolled as CTEs — per round, pair
    * counts (pr), deterministic argmax (b), then the window-algebra
    * greedy merge (is/pm/mg/cs -> it) replaying operators.Bpe exactly.
    * [[bpeEncodeOracle]] reuses the same rounds and joins the final
    * vocab back onto per-doc words (the q169 apply step). */
  private def bpeCtes(iters: Int): String = {
    val init = """
      words AS MATERIALIZED (SELECT t AS word, count(*) AS freq FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS t
        FROM documents WHERE lang = 'en') GROUP BY 1),
      it0 AS MATERIALIZED (SELECT word, freq,
        list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)) AS toks FROM words)"""
    val rounds = (1 to iters).map { i =>
      s"""
      ex$i AS MATERIALIZED (SELECT word, freq, u.p, u.tok FROM (
        SELECT word, freq, unnest(list_transform(range(1, len(toks) + 1),
                 i -> struct_pack(p := CAST(i - 1 AS INT), tok := toks[i]))) AS u
        FROM it${i - 1})),
      st$i AS MATERIALIZED (SELECT word, freq, p, tok,
                      lead(tok) OVER (PARTITION BY word ORDER BY p) AS nxt
               FROM ex$i),
      pr$i AS MATERIALIZED (SELECT tok AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
               FROM st$i WHERE nxt IS NOT NULL GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT a, b, cnt FROM pr$i ORDER BY cnt DESC, a, b LIMIT 1),
      is$i AS MATERIALIZED (SELECT *, COALESCE(tok = (SELECT a FROM b$i) AND nxt = (SELECT b FROM b$i), FALSE) AS isStart FROM st$i),
      pm$i AS MATERIALIZED (SELECT *, COALESCE(max(CASE WHEN NOT isStart THEN p END) OVER (
                 PARTITION BY word ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS pns FROM is$i),
      mg$i AS MATERIALIZED (SELECT *, (isStart AND ((p - pns - 1) % 2 = 0)) AS mergeAt FROM pm$i),
      cs$i AS MATERIALIZED (SELECT *, COALESCE(lag(mergeAt) OVER (PARTITION BY word ORDER BY p), FALSE) AS consumed,
                      CASE WHEN mergeAt THEN tok || nxt ELSE tok END AS tok2 FROM mg$i),
      it$i AS MATERIALIZED (SELECT word, freq, list(tok2 ORDER BY p) AS toks FROM cs$i WHERE NOT consumed GROUP BY word, freq)"""
    }.mkString(",")
    s"$init,$rounds"
  }

  private def bpeOracle(iters: Int): String = {
    val finalSel = (1 to iters).map { i =>
      s"SELECT $i AS it, a AS left_sym, b AS right_sym, cnt AS pair_count FROM b$i"
    }.mkString(" UNION ALL ")
    s"WITH ${bpeCtes(iters)} SELECT * FROM ($finalSel) ORDER BY it"
  }

  /** q169: the learned vocab applied back to the corpus — token counts
    * per doc from the final symbol arrays. */
  private def bpeEncodeOracle(iters: Int): String =
    s"""WITH ${bpeCtes(iters)},
      dw AS (SELECT doc_id, unnest(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS word
             FROM documents WHERE lang = 'en')
      SELECT doc_id,
             CAST(SUM(len(v.toks)) AS BIGINT) AS n_bpe_tokens,
             COUNT(*) AS n_words
      FROM dw JOIN it$iters v USING (word)
      GROUP BY doc_id
      ORDER BY doc_id"""
}
