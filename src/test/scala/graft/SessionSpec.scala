package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins how the harness session reads its environment: the defaults,
  * then `SPARK_GRAFT_EXTRA_CONF` last, so an A/B override of a default
  * takes effect. */
class SessionSpec extends AnyFunSuite {

  /** The conf value that wins: the last one applied for the key. */
  private def effective(env: (String, String)*): Map[String, String] =
    Session.settings(env.toMap)._2.toMap

  test("an empty environment gives local[4] with the harness defaults") {
    val (master, confs) = Session.settings(Map.empty)
    assert(master === "local[4]")
    assert(confs.toMap === Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"))
  }

  test("SPARK_GRAFT_CPUS sets the master and the shuffle partitions") {
    val (master, confs) = Session.settings(Map("SPARK_GRAFT_CPUS" -> "8"))
    assert(master === "local[8]")
    assert(confs.toMap.apply("spark.sql.shuffle.partitions") === "8")
  }

  test("an extra conf overrides a default") {
    val confs = effective(
      "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_EXTRA_CONF" -> "spark.sql.shuffle.partitions=7")
    assert(confs("spark.sql.shuffle.partitions") === "7")
  }

  test("extras: split at the first '=', trimmed, entries without '=' dropped") {
    val confs = effective("SPARK_GRAFT_EXTRA_CONF" ->
      " a=b=c , spark.graft.eagerAgg.enabled = false ,noEquals,")
    assert(confs("a") === "b=c")
    assert(confs("spark.graft.eagerAgg.enabled") === "false")
    assert(!confs.keys.exists(_.contains("noEquals")))
    assert(confs.size === 6)
  }
}
