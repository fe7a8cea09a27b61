package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Lineage-truncation contract for the dedup-cluster primitive
  * (ops.Sketches.labelPropagation): on a deep graph the iterative loop
  * must (a) still converge to the right components and (b) keep the final
  * plan bounded via periodic localCheckpoint — without truncation each
  * round's plan embeds every previous round's joins and a large-diameter
  * dup-graph explodes optimizer time before data volume matters. */
class LabelPropagationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A 25-node chain (diameter 24: min label needs ~24 rounds to reach
    * the far end) plus a disjoint triangle. */
  private def chainPlusTriangle = {
    import spark.implicits._
    val chain = (0L until 24L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L))
    (chain ++ tri).toDF("da", "db")
  }

  test("deep chain converges and lineage stays bounded") {
    val labels = ops.Sketches.labelPropagation(chainPlusTriangle, maxIter = 40)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 24L).foreach(i => assert(got(i) == 0L, s"node $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(got(i) == 100L, s"node $i"))
    // O(log diameter) round count: plain neighbor propagation would need
    // ~24 rounds for the chain; pointer jumping (from round 3 on) doubles
    // label reach per round, so convergence must land well under that.
    // At warehouse scale each round is a full keyed shuffle — round count
    // IS the scale property this pins.
    val rounds = ops.Sketches.lastLabelPropIterations
    assert(rounds <= 9, s"24-diameter chain took $rounds rounds — pointer jumping broken")
    // Plan boundedness: with checkpointing every 5 rounds the final plan
    // holds at most ~5 rounds of joins regardless of iteration count. An
    // un-truncated 24-round loop produces hundreds of plan lines.
    val planLines = labels.queryExecution.optimizedPlan.treeString.linesIterator.size
    assert(planLines < 120, s"optimized plan has $planLines lines — lineage not truncated")
    labels.unpersist()
  }

  test("both sides of the labelprop.localBytes ceiling agree") {
    val pairs = chainPlusTriangle
    JobGroupCounter.withCounter(spark) { jobs =>
      def run(group: String): (Map[Long, Long], Int) = jobs.inGroup(group) {
        val got = ops.Sketches.labelPropagation(pairs, maxIter = 40)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        (got, ops.Sketches.lastLabelPropIterations)
      }
      // default ceiling: the kilobyte graph runs its rounds in the
      // local plan, one scheduled job per round
      val (local, localRounds) = run("local")
      // a zero ceiling keeps every round on the adaptive plan
      spark.conf.set("spark.graft.labelprop.localBytes", "0")
      val (dist, distRounds) =
        try run("adaptive")
        finally spark.conf.unset("spark.graft.labelprop.localBytes")
      assert(local.size == 28 &&
        local.forall { case (id, l) => l == (if (id >= 100) 100L else 0L) })
      assert(local == dist)
      assert(localRounds == distRounds)
      assert(localRounds <= 9, s"$localRounds rounds")
      assert(jobs("local") < jobs("adaptive"),
        s"jobs local=${jobs("local")} adaptive=${jobs("adaptive")}" +
          " — the two sides of the ceiling ran the same plan")
    }
    ops.Sketches.clearLabelPropCache()
  }
}
