package graft.operators

import graft.functions.GraftFunctions.cosinePre
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The filter-then-verify pair join behind dedup, decontamination and
  * similarity search: expand rows into keys, equi-join on the keys, fold
  * the collisions into one row per pair, re-attach payloads by id, score
  * exactly. [[Dedup]], [[Similarity]] and the registry queries pick only
  * the keys and the score. Side frames name their id `a` (left) and `b`
  * (right); candidate volume is the number of key collisions, never
  * |left| × |right|.
  */
private[graft] object CandidateJoin {

  /** How the key collisions of one pair fold into one row: (a, b, the
    * number of distinct `key` values), (a, b, the number of key rows), or
    * the distinct pair with every non-key column the sides carry. */
  sealed trait Collisions
  final case class DistinctKeys(key: String, as: String) extends Collisions
  final case class AllKeys(as: String) extends Collisions
  case object Distinct extends Collisions

  /** The one candidate equi-join of `left` and `right` on `keys`. A self
    * join (both sides drawn from one frame) keeps each unordered pair once,
    * as a < b; a cross join keeps every pair. */
  def pairs(left: DataFrame, right: DataFrame, keys: Seq[String], self: Boolean,
      collisions: Collisions): DataFrame = {
    val joined = left.join(right, keys)
    val kept = if (self) joined.filter(col("a") < col("b")) else joined
    collisions match {
      case DistinctKeys(key, as) => kept.groupBy(col("a"), col("b")).agg(countDistinct(col(key)).as(as))
      case AllKeys(as) => kept.groupBy(col("a"), col("b")).agg(count(lit(1)).as(as))
      case Distinct => kept.drop(keys: _*).distinct()
    }
  }

  /** Self-join candidates of 64-bit sketches, as distinct (a, ha, b, hb):
    * pairs agreeing on one of `bands` bit-slice keys, bits
    * [band·width, (band+1)·width). By pigeonhole every pair at Hamming
    * distance < bands shares a key. */
  def sketchPairs(sketches: DataFrame, idCol: String, hashCol: String, bands: Int,
      width: Int): DataFrame = {
    require(bands * width <= 64, "bands*width must fit 64 bits")
    val mask = (1L << width) - 1
    val keys = (0 until bands).map { b =>
      struct(lit(b).as("band"), shiftright(col(hashCol), b * width).bitwiseAND(lit(mask)).as("key"))
    }
    val banded = sketches
      .select(col(idCol), col(hashCol), explode(array(keys: _*)).as("bk"))
      .select(col(idCol), col(hashCol), col("bk.band").as("band"), col("bk.key").as("key"))
    pairs(
      banded.select(col(idCol).as("a"), col(hashCol).as("ha"), col("band"), col("key")),
      banded.select(col(idCol).as("b"), col(hashCol).as("hb"), col("band"), col("key")),
      Seq("band", "key"), self = true, Distinct)
  }

  /** Hamming-1 multi-probe: the LSH bucket and the `planes` buckets one
    * sign flip away, one exploded row each. */
  def probes(bucket: Column, planes: Int): Column =
    explode(array((0 +: (0 until planes).map(1 << _)).map(m => bucket.bitwiseXOR(lit(m))): _*))

  /** Id-only candidates (see [[pairs]]) with per-id payloads re-attached.
    * Past the broadcast threshold (`hashReattach`, from
    * [[Similarity.reattachPastBroadcast]]) the right side and both payload
    * sides are hinted to shuffled-hash joins: the sort-merge default sorts
    * the candidate frame, (p+1)·occupancy·n rows, once per re-attach (the
    * hints cut the 30× wall 57.6 s → 16.6 s and the 100× wall 314 s →
    * 72.6 s). Below it the hint would override the broadcast Spark picks
    * (+1 s at 2000 vectors). */
  def reattached(left: DataFrame, right: DataFrame, keys: Seq[String], self: Boolean,
      leftPayload: DataFrame, rightPayload: DataFrame, hashReattach: Boolean): DataFrame = {
    def side(d: DataFrame): DataFrame = if (hashReattach) d.hint("shuffle_hash") else d
    pairs(left, side(right), keys, self, Distinct)
      .join(side(leftPayload), "a")
      .join(side(rightPayload), "b")
  }

  /** The exact cosine verify over precomputed norms, rounded to 6 dp (the
    * value both engines agree on bit for bit). */
  def exactCosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    round(cosinePre(call_function("graft_dot", va, vb), na, nb), 6)

  /** The exact sketch verify: Hamming distance. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The first `k` rows of each `partition` group by `order`, numbered in
    * column `rank`. */
  def firstK(df: DataFrame, partition: String, order: Seq[Column], k: Int, rank: String): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(col(partition)).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Top-k neighbours of each qid in a scored (qid, vec_id, cos_r) frame,
    * ties on vec_id: (qid, rank, neighbor, cos_r). */
  def topKNeighbors(scored: DataFrame, k: Int): DataFrame =
    firstK(scored, "qid", Seq(col("cos_r").desc, col("vec_id")), k, "rank")
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"), col("cos_r"))
}
