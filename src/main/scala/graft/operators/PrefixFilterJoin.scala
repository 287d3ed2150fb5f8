package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity join via prefix filtering (Chaudhuri, Ganti &
  * Kaushik ICDE 2006; Bayardo, Ma & Srikant WWW 2007's all-pairs;
  * Xiao, Wang, Lin & Yu WWW 2008's PPJoin): all pairs of sets whose
  * Jaccard similarity reaches a threshold t, with NO false negatives —
  * the deterministic complement of the minhash-LSH tier (q57), the same
  * relationship q228's winnowing has to simhash. Where LSH trades recall
  * for speed probabilistically, the prefix filter prunes EXACTLY: order
  * every element by global rarity (document frequency asc, element asc —
  * one canonical total order), keep each set's first
  * p = |x| − ⌈t·|x|⌉ + 1 elements as its prefix, and only pairs whose
  * PREFIXES share an element can reach J ≥ t (pigeonhole: J(x,y) ≥ t
  * forces |x∩y| ≥ ⌈t·|x|⌉, which cannot hide entirely in the ⌈t·|x|⌉−1
  * elements past the prefix of either side). Candidates additionally
  * pass the length filter t·|x| ≤ |y| ≤ |x|/t and PPJoin's POSITIONAL
  * filter before exact verification: sorting a pair's shared prefix
  * elements into the canonical order, the k-th at (1-based) positions
  * i_k in x, j_k in y is preceded by EXACTLY k−1 common elements (a
  * common element earlier in the canonical order ranks inside BOTH
  * prefixes, so it is itself a shared prefix element), hence the true
  * overlap obeys o ≤ k + min(|x|−i_k, |y|−j_k) for every k — and
  * J ≥ t needs o ≥ ⌈t·(|x|+|y|)/(1+t)⌉, so any pair whose tightest
  * ceiling misses that is pruned before the array verification. Every
  * ceiling is valid, so the filter keeps the zero-false-negative
  * contract (the oracle — the brute-force all-pairs join — is the
  * standing proof, plus the 9-trial property fuzz).
  *
  * Rarity ordering is what makes the prefixes selective: the prefix
  * holds each set's RAREST elements, so candidate buckets are the small
  * df ones — the frequent-element buckets that would explode a naive
  * element join never enter a prefix (they sort last).
  *
  * NULL elements are dropped at intake: a NULL would be counted by the
  * size aggregate but silently skipped by the df equi-join and by
  * collect_list, inflating union sizes and deflating similarities — a
  * false-negative path. Dropping it everywhere keeps sizes, prefixes
  * and verification consistent (a NULL set member is not a member).
  *
  * Scale shape: one partial-agg'd df count, one GROUPED (per-set,
  * partition-parallel) row_number to find prefixes, one equi-join of
  * prefixes on element (bucket-bounded by prefix df) reduced per pair
  * to the tightest positional bound, and a verification pass that
  * equi-joins each side's sorted element ARRAY onto the surviving
  * candidates — one row per candidate, intersection counted hash-based
  * in O(|a|+|b|) per pair (exploding candidates against full element
  * sets re-shuffles |cand|·|set| rows and measured 4× slower at sf0.1).
  * All exact-integer arithmetic: the threshold compare is the
  * cross-multiply 10^6·inter ≥ tPpm·union, never a float.
  *
  * Returns `(id_a, id_b, inter, union_sz, jaccard_ppm)` for all pairs
  * with id_a < id_b and J ≥ tPpm/10^6, jaccard_ppm floored.
  */
object PrefixFilterJoin {
  def jaccardJoin(items: DataFrame, idCol: String, elemCol: String, tPpm: Long): DataFrame = {
    require(tPpm >= 1L && tPpm <= 1000000L,
      s"PrefixFilterJoin wants tPpm in [1, 10^6], got $tPpm")
    val it0 = graft.Q.persistOnce(
      items.select(col(idCol).as("id"), col(elemCol).as("elem"))
        .filter(col("elem").isNotNull).distinct())
    // Dictionary-encoding the shingles was TRIED here (r16) and reverted
    // on measurement: the symmetric join's every set is probe AND index,
    // so the dictionary materializations (vocab checkpoint + encoded-
    // frame cache write) outweigh the narrower downstream exchanges —
    // cold 1x 3.1s -> 5.4s, 10x 9.9s -> 17.3s (ScaleBench, min of 2).
    // The asymmetric containmentJoin keeps its encoding, where the
    // corpus-side array payloads dominate and the same trade WINS.
    val cand = candidates(it0, tPpm, positional = true)
    // exact verification: attach each side's (sorted, distinct) element
    // array by id — one row per CANDIDATE, not one per candidate×element
    // (exploding candidates against full sets re-shuffled |cand|·|set|
    // rows and dominated the measured cost at 10×) — and count the true
    // intersection with a hash-based array_intersect, O(|a|+|b|) per pair.
    val setArr = graft.Q.persistOnce(
      it0.groupBy("id").agg(
        sort_array(collect_list("elem")).as("arr"),
        count(lit(1)).as("sz")))
    cand
      .join(setArr.select(col("id").as("id_a"), col("arr").as("arr_a"),
        col("sz").as("sza")), "id_a")
      .join(setArr.select(col("id").as("id_b"), col("arr").as("arr_b"),
        col("sz").as("szb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("inter"),
        col("sza"), col("szb"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("sza") + col("szb") - col("inter")).as("union_sz"),
        expr("(1000000 * inter) div (sza + szb - inter)").as("jaccard_ppm"))
      .filter(lit(1000000L) * col("inter") >=
        lit(tPpm) * col("union_sz"))
  }

  /** EXACT containment join — the ASYMMETRIC tier of the family: all
    * (probe x, corpus y) pairs with C(x→y) = |x∩y| / |x| ≥ t, no false
    * negatives. This is the decontamination question proper ("is this
    * TEST SET inside that training document"), which Jaccard understates
    * whenever |y| ≫ |x|: a 50-shingle benchmark fully contained in a
    * 5000-shingle document has J ≈ 0.01 but C = 1.0.
    *
    * Prefix filter, containment form: C ≥ t forces the overlap
    * o ≥ ⌈t·|x|⌉, which cannot hide entirely in the ⌈t·|x|⌉ − 1
    * elements past x's prefix of p = |x| − ⌈t·|x|⌉ + 1 elements — the
    * pigeonhole needs ONLY x's prefix, so y indexes its FULL element
    * list (the overlap may sit anywhere in y; a y-side prefix would
    * break the no-false-negative contract). The canonical order ranks
    * x's elements by CORPUS document frequency asc (rarest first, the
    * selectivity argument); probe elements absent from the corpus get
    * df = 0 and sort first — they match nothing, and the pigeonhole
    * holds for ANY total order, so correctness is unaffected. Length
    * filter: |y| ≥ ⌈t·|x|⌉. Verification is the jaccardJoin idiom —
    * per-candidate sorted-array attach + hash array_intersect, never a
    * candidate×element explode. All exact-integer arithmetic
    * (cross-multiplied threshold compare).
    *
    * Returns `(xid, yid, inter, szx, containment_ppm)` for all pairs
    * with C ≥ tPpm/10⁶, containment_ppm floored. Callers wanting
    * probe-side self-exclusion filter ids themselves.
    */
  def containmentJoin(probes: DataFrame, corpus: DataFrame, idCol: String,
      elemCol: String, tPpm: Long): DataFrame = {
    require(tPpm >= 1L && tPpm <= 1000000L,
      s"PrefixFilterJoin wants tPpm in [1, 10^6], got $tPpm")
    val px0 = graft.Q.persistOnce(
      probes.select(col(idCol).as("xid"), col(elemCol).as("elem"))
        .filter(col("elem").isNotNull).distinct())
    val py0 = graft.Q.persistOnce(
      corpus.select(col(idCol).as("yid"), col(elemCol).as("elem"))
        .filter(col("elem").isNotNull).distinct())
    // Dictionary-encode string elements to dense int64 ids (guide §2.3 —
    // shuffle fewer bytes): the prefix probe join, the candidate distinct
    // and above all the CORPUS-side sorted-array verification payloads
    // then carry 8-byte longs instead of multi-word shingle strings.
    // Exactness untouched: the dictionary is an exact per-run equi-join
    // (never a hash), ids are collision-free by construction, and the
    // prefix filter is lossless under ANY total element order (the
    // pigeonhole needs only a consistent order; rarity still drives
    // selectivity since the rank stays (df, elem)); outputs carry only
    // set ids and counts. The dict is cut eagerly ([[Rounds.cut]]) so
    // monotonically_increasing_id assigns ids exactly once. ONE shared
    // dictionary over probe ∪ corpus: probe-only elements must still get
    // an id — they carry szx weight and simply intersect nothing,
    // exactly as their strings did. (Measured r16: IsoBench 3.3s -> 2.2s
    // at sf0.1; 10x neutral. The symmetric jaccardJoin measured the same
    // trade LOSING — see the note there.)
    val st = org.apache.spark.sql.types.StringType
    val (px, py) =
      if (px0.schema("elem").dataType == st && py0.schema("elem").dataType == st) {
        val dict = Rounds.cut(px0.select(col("elem")).unionByName(py0.select(col("elem")))
          .distinct()
          .withColumn("eid", monotonically_increasing_id()))
        (graft.Q.persistOnce(px0.join(dict, "elem")
            .select(col("xid"), col("eid").as("elem"))),
          graft.Q.persistOnce(py0.join(dict, "elem")
            .select(col("yid"), col("eid").as("elem"))))
      } else (px0, py0)
    val sx = px.groupBy("xid").agg(count(lit(1)).as("szx"))
    val dfreq = py.groupBy("elem").agg(count(lit(1)).as("df"))
    val ranked = px.join(dfreq, Seq("elem"), "left")
      .withColumn("dfc", coalesce(col("df"), lit(0L)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("xid").orderBy(col("dfc"), col("elem"))))
      .join(sx, "xid")
    // x prefix p = szx − ⌈t·szx⌉ + 1; the y side is the full index
    val pref = ranked.filter(
      col("pos") <= col("szx") - expr(s"($tPpm * szx + 999999) div 1000000") + 1L)
      .select(col("elem"), col("xid"), col("szx"))
    val sy = py.groupBy("yid").agg(count(lit(1)).as("szy"))
    // the ·10⁶ ppm products are wrap-guarded in-plan (the q263 jac_ppm
    // posture). BOTH factors of each cross-multiplied compare pass the
    // same Long.MaxValue/10⁶ bound: tPpm ≤ 10⁶, so bounding a count c by
    // that constant covers 10⁶·c on the left AND tPpm·c on the right —
    // an oversized probe set refuses with the containment-join message,
    // never an opaque ANSI overflow (r15: szx previously rode unbounded).
    def bounded(c: Column, what: String): Column = Guards(
      c <= lit(Long.MaxValue / 1000000L), c,
      Guards.msg("containment-join",
        lit(s"$what = "), c.cast("string"),
        lit(" wraps the x10^6 ppm grid; shard the element sets")))
    def ppm(c: Column, what: String): Column = lit(1000000L) * bounded(c, what)
    val cand = pref.join(py, "elem")
      .join(sy, "yid")
      .filter(ppm(col("szy"), "corpus-set size szy") >=
        lit(tPpm) * bounded(col("szx"), "probe-set size szx"))
      .select(col("xid"), col("yid"), col("szx"))
      .distinct()
    val xa = px.groupBy("xid").agg(sort_array(collect_list("elem")).as("arr_x"))
    val ya = py.groupBy("yid").agg(sort_array(collect_list("elem")).as("arr_y"))
    cand.join(xa, "xid").join(ya, "yid")
      .select(col("xid"), col("yid"), col("szx"),
        size(array_intersect(col("arr_x"), col("arr_y"))).cast("long").as("inter"))
      .filter(ppm(col("inter"), "overlap count inter") >=
        lit(tPpm) * bounded(col("szx"), "probe-set size szx"))
      .select(col("xid"), col("yid"), col("inter"), col("szx"),
        // the filter above already consumed the guarded product for this
        // exact inter; the re-multiply here is ANSI-loud besides
        expr("(1000000 * inter) div szx").as("containment_ppm"))
  }

  /** Candidate pairs `(id_a, id_b)` surviving the prefix + length (+
    * positional, when enabled) filters over a deduped non-null
    * `(id, elem)` frame. Package-private with the `positional` toggle so
    * the spec can pin the positional filter LOSSLESS (same verified
    * output) and count how many candidates it prunes. */
  private[graft] def candidates(it: DataFrame, tPpm: Long, positional: Boolean): DataFrame = {
    val sizes = it.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfreq = it.groupBy("elem").agg(count(lit(1)).as("df"))
    // per-set rank under the canonical global order (rarest first); the
    // window is GROUPED by set id — partition-parallel, bounded frames
    val ranked = it.join(dfreq, "elem")
      .withColumn("pos",
        row_number().over(Window.partitionBy("id").orderBy(col("df"), col("elem"))))
      .join(sizes, "id")
    // prefix length p = sz − ⌈t·sz⌉ + 1, ceil as (tPpm·sz + 10^6 − 1) div 10^6
    val pref = ranked.filter(
      col("pos") <= col("sz") - expr(s"($tPpm * sz + 999999) div 1000000") + 1L)
      .select(col("elem"), col("id"), col("sz"), col("pos"))
    val b = pref.select(col("elem"), col("id").as("id_b"),
      col("sz").as("sz_b"), col("pos").as("pos_b"))
    val matched = pref.join(b, "elem").filter(col("id") < col("id_b"))
      .filter(lit(1000000L) * least(col("sz"), col("sz_b")) >=
        lit(tPpm) * greatest(col("sz"), col("sz_b")))
    if (!positional) {
      matched.select(col("id").as("id_a"), col("id_b")).distinct()
    } else {
      // positional filter: sort each pair's shared prefix elements into
      // canonical order (pos_x and pos_y are co-monotone in it); the
      // k-th shared element at positions (i_k, j_k) has EXACTLY k−1
      // common elements before it — any common element earlier in the
      // canonical order ranks inside BOTH prefixes and is itself a
      // shared prefix element — so o ≤ k + min(|x|−i_k, |y|−j_k).
      // Reduce to the tightest ceiling over k (the per-pair array is
      // bounded by the prefix overlap, a handful of entries; same
      // groupBy exchange the plain distinct would pay) and demand it
      // reaches the J ≥ t overlap requirement o ≥ ⌈t·(|x|+|y|)/(1+t)⌉,
      // compared cross-multiplied.
      matched
        .select(col("id").as("id_a"), col("id_b"), col("sz"), col("sz_b"),
          struct(col("pos").as("i"), col("pos_b").as("j")).as("ij"))
        .groupBy("id_a", "id_b")
        .agg(sort_array(collect_list("ij")).as("ijs"),
          first("sz").as("sza0"), first("sz_b").as("szb0"))
        .withColumn("ub", array_min(transform(
          sequence(lit(1), size(col("ijs"))),
          k => k.cast("long") + least(
            col("sza0") - element_at(col("ijs"), k).getField("i"),
            col("szb0") - element_at(col("ijs"), k).getField("j")))))
        .filter(col("ub") * (lit(1000000L) + lit(tPpm)) >=
          lit(tPpm) * (col("sza0") + col("szb0")))
        .select(col("id_a"), col("id_b"))
    }
  }
}
