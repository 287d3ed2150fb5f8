package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType,
  IntegerType, LongType, MapType, ShortType, StructType}
import org.apache.spark.storage.StorageLevel

/** The driver-local tier gate shared by every size-gated operator (the
  * "native loop inside Spark" trade: an input that fits the driver
  * iterates in memory at zero per-round job cost, anything larger runs
  * the distributed plan unchanged). One instance per operator call; it
  * owns the four rules every gate follows:
  *
  *  - key rule: the local loop keys boxed values by Scala equality, which
  *    agrees with Spark's grouping/join equality only when the key
  *    columns share ONE type (boxed Integer never equals boxed Long,
  *    where a join coerces) that is not floating (a map keeps two NaNs
  *    apart and may keep -0.0 and 0.0 apart, where Spark normalizes them)
  *    and not binary (arrays compare by reference);
  *  - gate: count each gate frame against the operator's bound, collect
  *    it, refuse any null (null semantics stay with the distributed
  *    plan's joins). Gate frames are cached ([[cache]]) or already
  *    materialized (an eager checkpoint), and the distributed route reads
  *    the same frames, so the gate adds no pass over the input;
  *  - ownership: [[release]] unpersists only the caches [[cache]] created
  *    — a frame the caller already persisted is reused, never dropped;
  *  - release rule: owned caches stay pinned when the local route
  *    returns (bounded by the bound, and repeat evaluations re-read them
  *    for free); the distributed route calls [[release]] once its state
  *    has materialized.
  *
  * `supported` carries whatever else the operator's local loop needs
  * (a Long-specialized loop, string items, a Long label).
  * [[LocalTier.forcingDistributed]] is the one test hook: the gate still
  * counts, but routes distributed, exactly as past the bound. */
private[graft] final class LocalTier(bound: Long, keys: Seq[DataType] = Nil,
    supported: Boolean = true) {
  private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** `df` persisted for this call unless the caller already cached it. */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      owned += df.persist()
      df
    }

  /** The collected rows of every gate frame, or None when the call must
    * run distributed (key rule, `supported`, the bound, a null, or the
    * test hook). */
  def collect(frames: DataFrame*): Option[Seq[Array[Row]]] = {
    if (!supported || !LocalTier.keysLocal(keys)) return None
    if (!frames.forall(_.count() <= bound) || LocalTier.forced.get) return None
    val rows = frames.map(_.collect())
    if (rows.exists(_.exists(_.anyNull))) None else Some(rows)
  }

  /** Unpersist the caches this call created. */
  def release(): Unit = {
    owned.foreach(_.unpersist())
    owned.clear()
  }
}

private[graft] object LocalTier {
  private val forced = ThreadLocal.withInitial[Boolean](() => false)

  /** Run `body` with every gate on this thread routing distributed. */
  def forcingDistributed[T](body: => T): T = {
    val prev = forced.get
    forced.set(true)
    try body finally forced.set(prev)
  }

  private def unsafe(t: DataType): Boolean = t match {
    case FloatType | DoubleType | BinaryType => true
    case ArrayType(e, _) => unsafe(e)
    case MapType(k, v, _) => unsafe(k) || unsafe(v)
    case s: StructType => s.fields.exists(f => unsafe(f.dataType))
    case _ => false
  }

  /** The key rule: one shared type, safe to key by Scala equality. */
  private def keysLocal(keys: Seq[DataType]): Boolean =
    keys.forall(_ == keys.head) && !keys.exists(unsafe)

  /** Key types a Long-widening driver loop supports. */
  def integral(t: DataType): Boolean = t == LongType || t == IntegerType || t == ShortType
}
