package graft

import org.apache.spark.sql.DataFrame

/** The round-state rule of the distributed iterative loops
  * (`operators.Rounds`): a round's frame is cut by a local checkpoint,
  * so a loop's plan stays as small at round k as at round 1, and the
  * rule has one home in `operators/`. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._
  import operators.LocalTier.forcingDistributed

  private def sortedRows(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString(""))

  test("12 forced-distributed Bfs rounds finish with a flat plan") {
    // A 13-node path needs all 12 rounds, each reaching one new node.
    // Under a persist-and-swap each round read the previous persisted
    // frame twice (union + frontier filter), so its plan grew about 4x
    // per round and a 9-round call never finished.
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    def largestPlan(rounds: Int): (DataFrame, Int) = {
      val (out, actions) = ActionPlans.during(spark)(
        forcingDistributed(operators.Bfs.hops(path, 0L, rounds)))
      (out, actions.map { case (_, qe) => ActionPlans.planLines(qe) }.max)
    }
    val (_, round1) = largestPlan(1)
    val (dist, round12) = largestPlan(12)
    val local = operators.Bfs.hops(path, 0L, 12)
    assert(local.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)), "Bfs: schema diverged")
    assert(sortedRows(local) === sortedRows(dist), "Bfs: rows diverged")
    assert(dist.filter($"node" === 12L).as[(Long, Int)].collect().toSeq === Seq((12L, 12)))
    assert(round12 <= round1 + 10,
      s"a 12-round call planned $round12 lines where a 1-round call planned $round1")
  }

  test("operators/ cuts lineage only through Rounds") {
    // One rule: no other file in operators/ checkpoints or caches a
    // frame by hand (LocalTier's gate caches persist, and are released
    // by their owner).
    val dir = new java.io.File("src/main/scala/graft/operators")
    assert(dir.isDirectory, s"no $dir under ${new java.io.File(".").getAbsolutePath}")
    val bad = for {
      f <- dir.listFiles.toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && f.getName != "Rounds.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.toSeq
      if line.contains("localCheckpoint(") || line.contains(".cache()")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(bad.isEmpty,
      "cut a round's frame with Rounds.cut / Rounds.cutWith, not by hand:\n" +
        bad.mkString("\n"))
  }
}
