package graft.snap

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Plan-shape pin for the k-core peel round (r14): the peel's scale
  * contract is ONE full-volume exchange per round (the degree hash-agg)
  * with the small dead set broadcast into two anti-joins — the r13 form
  * semi-joined the node-count-sized keep set instead and paid two extra
  * full-adjacency SMJ exchanges per round (AQE-final plans probed at a
  * 1M-node/44.6M-edge derived graph; local walls are host-variance-
  * equivalent per the same-JVM A/B `QueryAb kcore` — the exchange count
  * is the cluster-posture claim). A regression back to shuffled peel joins
  * should fail here, not in the hour-long GraphScale run. */
class GraphAnalyticsPlanSpec extends SparkSuite {

  test("k-core peel round: dead set broadcast-anti-joined, adjacency never join-shuffled") {
    import spark.implicits._
    // Path-ish synthetic graph: plenty of degree-<k nodes to peel.
    val pairs = for { i <- 0L until 200L; j <- (i + 1) to math.min(i + 3, 199L) } yield (i, j)
    val edges = pairs.toDF("src", "dst").withColumn("ego", lit("g"))
    val adj = GraphAnalytics.adjacency(edges)
      .select(col("ego"), col("v").cast("long").as("v"), col("u").cast("long").as("u"))
      .localCheckpoint()
    val (dead, nDead, next) = GraphAnalytics.peelRound(adj, k = 4)
    assert(nDead > 0, "fixture must peel something or the plan under test is empty-side trivial")
    // Execute through the Dataset's OWN QueryExecution (toRdd) so the
    // AdaptiveSparkPlan finalizes in place — a count() action plans a
    // SEPARATE execution and would leave this one's executedPlan at the
    // never-run INITIAL plan (ADVICE r14). The inspected plan is now
    // genuinely AQE-final.
    val qe = next.queryExecution
    qe.toRdd.count()
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"dead set must broadcast into anti-joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"adjacency must not be shuffled by the peel joins:\n$p")
    dead.unpersist(blocking = false)
  }
}
