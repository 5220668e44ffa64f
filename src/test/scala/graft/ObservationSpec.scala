package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Pins the Spark behaviour the one-job-per-round fast paths of
  * `Graph.kleeneDistLoop`, `Text.bpeLearnBatched` and
  * `Pipeline.qualityTrain` rely on: an Observation completes during the
  * localCheckpoint action of the frame it observes, and the one
  * checkpoint at the end of a window of lazily chained rounds completes
  * every round's Observation — on the shuffle join path and on the
  * broadcast path, where round i's CollectMetrics sits inside round
  * i+1's broadcast child. */
class ObservationSpec extends SparkSpec {
  private val n = 1000L
  private val rank = 10000L

  // a chain graph u -> u+1 and a uniform rank on every node
  private def edges = spark.range(0, n).toDF("u")
    .select(col("u"), (col("u") + 1).as("v")).localCheckpoint(true)
  private def ranks = spark.range(0, n).toDF("node")
    .select(col("node"), lit(rank).as("r"))

  // one propagation round: every node passes its rank along its edge;
  // round i keeps the n + 1 - i nodes that still have an in-edge
  private def step(e: DataFrame, cur: DataFrame, bcast: Boolean): DataFrame = {
    val rs = if (bcast) broadcast(cur) else cur
    e.join(rs, e("u") === rs("node"))
      .groupBy(col("v").as("node")).agg(sum(col("r")).as("r"))
  }

  private def mass(o: Observation): Long = {
    val row = Await.result(o.future, 10.seconds)
    row.getLong(row.fieldIndex("mass"))
  }

  // the shuffle path turns automatic broadcast off so the small frames
  // really exchange; the broadcast path hints every round
  private def onPath[A](bcast: Boolean)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    if (!bcast) spark.conf.set(key, "-1")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertPath(df: DataFrame, bcast: Boolean): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    if (bcast) assert(plan.contains("BroadcastHashJoin"), plan)
    else assert(!plan.contains("Broadcast") && plan.contains("SortMergeJoin"), plan)
  }

  for ((path, bcast) <- Seq("shuffle" -> false, "broadcast" -> true)) {
    test(s"an Observation completes during its frame's localCheckpoint ($path join)") {
      onPath(bcast) {
        val e = edges
        val o = Observation(s"one_$path")
        val observed = step(e, ranks, bcast).observe(o, sum(col("r")).as("mass"))
        assertPath(observed, bcast)
        val cp = observed.localCheckpoint(true) // the only action
        assert(mass(o) === n * rank)
        cp.unpersist(true); e.unpersist(true)
      }
    }

    test(s"chained rounds' Observations all complete in one window-end checkpoint ($path join)") {
      onPath(bcast) {
        val e = edges
        val k = 4
        val obs = (1 to k).map(i => Observation(s"window_${path}_$i"))
        val last = obs.foldLeft(ranks) { (cur, o) =>
          step(e, cur, bcast).observe(o, sum(col("r")).as("mass"))
        }
        assertPath(last, bcast)
        val cp = last.localCheckpoint(true) // ONE action for k rounds
        assert(obs.map(mass) === (1 to k).map(i => (n + 1 - i) * rank))
        cp.unpersist(true); e.unpersist(true)
      }
    }
  }
}
