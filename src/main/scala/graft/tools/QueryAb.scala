package graft.tools

import graft.Sessions
import graft.graphx.GraphxAnalytics
import org.apache.spark.graphx.{EdgeContext, Graph, PartitionStrategy, TripletFields, VertexRDD}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Same-JVM A/B for query and graph-operator reshapes. Cross-JVM walls on
  * this host swing with page-cache/heap/ambient state, so each experiment
  * times the OLD shape (inlined verbatim) and the NEW candidate back to
  * back in ONE session — same JIT, same page cache — under one protocol
  * ([[run]]): exact result identity first, one warm-up per arm, then the
  * arms alternate (old,new,old,new,...).
  *
  * Usage: QueryAb <experiment> <outJson> [roundsPerArm]
  *   experiments: q115, q93, q93p (an sf dir), kcore, pagerank (a
  *   tools.GraphScale output dir: `edges.parquet` with symmetric u, v)
  * SPARK_GRAFT_SF_DIR selects the fixture dir.
  */
object QueryAb {

  /** One arm: builds its result. Iterative arms run eager jobs while
    * building (per-round checkpoints), so the timed window covers the call
    * AND the write of the returned frame. */
  type Arm = () => DataFrame

  /** An experiment does its untimed setup (fixture reads, cached inputs)
    * and returns its (old, new) arms. */
  type Experiment = (SparkSession, String) => (Arm, Arm)

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    graft.Tables(s, d, name)

  // ---- q115_profile ----
  /** OLD (pre-r19 declared shape, inlined verbatim so the A/B stays
    * reproducible after the suite switched to the union form): one wide
    * agg with 6 countDistinct → Catalyst Expand ×7, and the string
    * min/max first() buffers force SORT aggregation over the expanded
    * rows. */
  private def q115Old(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .agg(
        count(col("o_orderkey")).as("nn1"), countDistinct(col("o_orderkey")).as("nd1"),
        min(col("o_orderkey")).cast("string").as("mn1"), max(col("o_orderkey")).cast("string").as("mx1"),
        count(col("o_custkey")).as("nn2"), countDistinct(col("o_custkey")).as("nd2"),
        min(col("o_custkey")).cast("string").as("mn2"), max(col("o_custkey")).cast("string").as("mx2"),
        count(col("o_orderstatus")).as("nn3"), countDistinct(col("o_orderstatus")).as("nd3"),
        min(col("o_orderstatus")).as("mn3"), max(col("o_orderstatus")).as("mx3"),
        count(col("o_totalprice")).as("nn4"), countDistinct(col("o_totalprice")).as("nd4"),
        min(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("mn4"),
        max(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("mx4"),
        count(col("o_orderdate")).as("nn5"), countDistinct(col("o_orderdate")).as("nd5"),
        min(col("o_orderdate")).cast("date").cast("string").as("mn5"),
        max(col("o_orderdate")).cast("date").cast("string").as("mx5"),
        count(col("o_orderpriority")).as("nn6"), countDistinct(col("o_orderpriority")).as("nd6"),
        min(col("o_orderpriority")).as("mn6"), max(col("o_orderpriority")).as("mx6"))
      .select(expr("stack(6, " +
        "'o_orderkey', nn1, nd1, mn1, mx1, " +
        "'o_custkey', nn2, nd2, mn2, mx2, " +
        "'o_orderstatus', nn3, nd3, mn3, mx3, " +
        "'o_totalprice', nn4, nd4, mn4, mx4, " +
        "'o_orderdate', nn5, nd5, mn5, mx5, " +
        "'o_orderpriority', nn6, nd6, mn6, mx6) " +
        "AS (col_name, n_nonnull, n_distinct, min_s, max_s)"))
      .orderBy("col_name")

  /** NEW: the r19 declared shape — one single-distinct aggregate per
    * column (no Expand — a single distinct group plans as
    * partial-group-by-value, not Expand), unioned. Parquet is columnar so
    * the 6 scans read the same total bytes as the old form's one 6-column
    * scan; the ×7 row blowup disappears. */
  private def q115New(s: SparkSession, d: String): DataFrame =
    graft.SparkEntry.queries("q115_profile")(s, d)

  // ---- q93_fuzzy_match ----
  /** OLD (pre-§2.2b declared shape, inlined verbatim so the A/B stays
    * reproducible after the suite gained the stream-side repartition): the
    * streamed side of the broadcast self-join is the raw filtered scan —
    * one file split, so every blocked levenshtein runs in ONE task. */
  private def q93Old(s: SparkSession, d: String): DataFrame = {
    val p = t(s, d, "part").filter(col("p_partkey") < 5000)
      .select(col("p_partkey"), col("p_name"),
        substring_index(col("p_name"), " ", 1).as("blk"))
    val a = p.select(col("blk"), col("p_partkey").as("a_id"), col("p_name").as("a_name"))
    val b = p.select(col("blk"), col("p_partkey").as("b_id"), col("p_name").as("b_name"))
    a.join(b, Seq("blk")).filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 4)
      .groupBy("dist")
      .agg(count(lit(1)).as("n_pairs"), sum(col("a_id") + col("b_id")).as("checksum"))
      .orderBy("dist")
  }

  /** NEW: threshold-bounded levenshtein (Spark 3.5+ 3-arg form): the DP is
    * banded at the cutoff, returning -1 above it — so `dist >= 0` selects
    * exactly the old `dist <= 4` rows with identical dist values.
    * MEASURED SLOWER and REJECTED in r19 (0.92×/0.89× in two same-JVM
    * sessions, bench/query_ab_r19_q93_s{1,2}.json): p_name blocks pair
    * short similar-length strings, so the banded DP's per-call threshold
    * bookkeeping exceeds the saved cells. Re-measure if the blocking key
    * ever loosens to long/dissimilar strings. */
  private def q93New(s: SparkSession, d: String): DataFrame = {
    val p = t(s, d, "part").filter(col("p_partkey") < 5000)
      .select(col("p_partkey"), col("p_name"),
        substring_index(col("p_name"), " ", 1).as("blk"))
    val a = p.select(col("blk"), col("p_partkey").as("a_id"), col("p_name").as("a_name"))
    val b = p.select(col("blk"), col("p_partkey").as("b_id"), col("p_name").as("b_name"))
    a.join(b, Seq("blk")).filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name"), 4))
      .filter(col("dist") >= 0)
      .groupBy("dist")
      .agg(count(lit(1)).as("n_pairs"), sum(col("a_id") + col("b_id")).as("checksum"))
      .orderBy("dist")
  }

  /** NEW (r19, second pass): same declared shape, but the STREAMED side of
    * the broadcast self-join is repartitioned before the join. The declared
    * plan's stream side is the filtered part scan — a single ~100 KB file
    * split at sf0.1 — so ALL ~1.56 M blocked levenshtein evaluations (8
    * blocks, max 669 rows) serialize into ONE task (the r10
    * approxSimilarityJoin lesson: quadratic per-block verify work runs at
    * the stream side's partitioning, not input-proportional). Hash
    * repartition on the high-cardinality a_id spreads the pair generation
    * evenly; the explicit numPartitions keeps AQE from coalescing the tiny
    * (5000-row) exchange back to one partition. Results identical: the
    * broadcast join has no clustering requirement on the stream side.
    * MEASURED AND APPLIED in r19 (3.63×/3.85× in two same-JVM 32-core
    * sessions, 3.40× at 8 cores — bench/query_ab_r19_q93p_*.json); this is
    * the declared shape since then. */
  private def q93Par(s: SparkSession, d: String): DataFrame =
    graft.SparkEntry.queries("q93_fuzzy_match")(s, d)

  // ---- kcore (g11 peel) ----
  /** OLD (the r13 peel, verbatim shape): degree agg + two LEFT SEMI joins
    * against the node-count-sized keep set per round, count-based early
    * exit AFTER the no-op round. NEW is the production
    * graft.snap.GraphAnalytics.kcore (broadcast anti-join of the cached
    * dead set). */
  private def kcoreOld(edges: DataFrame, k: Int, rounds: Int, parts: Int): DataFrame = {
    var adj = graft.snap.GraphAnalytics.adjacency(edges)
      .select(col("ego"), col("v").cast("long").as("v"), col("u").cast("long").as("u"))
      .coalesce(parts).localCheckpoint()
    var prev = -1L
    var cur = adj.count()
    var r = 0
    while (r < rounds && cur != prev) {
      val keep = adj.groupBy("ego", "v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("ego", "v")
      adj = adj
        .join(keep, Seq("ego", "v"), "left_semi")
        .join(keep.withColumnRenamed("v", "u"), Seq("ego", "u"), "left_semi")
        .localCheckpoint()
      prev = cur
      cur = adj.count()
      r += 1
    }
    adj.select(col("ego"), col("v").as("node")).distinct().orderBy("ego", "node")
  }

  private def kcore(s: SparkSession, dir: String): (Arm, Arm) = {
    val parts = math.max(s.sparkContext.defaultParallelism, 2)
    def pairs(): DataFrame = s.read.parquet(s"$dir/edges.parquet")
      .where(col("u") < col("v"))
      .select(col("u").as("src"), col("v").as("dst")).withColumn("ego", lit("g"))
    pairs().count() // warm the parquet footers/page cache
    (() => kcoreOld(pairs(), k = 10, rounds = 8, parts),
      () => graft.snap.GraphAnalytics.kcore(pairs(), k = 10, rounds = 8, parts))
  }

  // ---- pagerank (fixed-point PageRank at scale) ----
  /** NEW candidate (measured r17, not applied — the ordering against the
    * production loop is scale-dependent): vertex attr = the CONTRIBUTION
    * `rank div deg`, one PRIMITIVE Long, so each round's vertex ship moves
    * an 8-byte primitive array instead of boxed (deg, rank) tuples;
    * degrees live in a vertex-partitioned RDD cached once and never
    * re-shipped. Messages, and therefore ranks, are bit-identical to
    * `pagerankFixedEdges` by construction (msg = Σ rank div deg either
    * way). */
  private def pagerankContrib(s: SparkSession, directed: RDD[(Long, Long)],
      iters: Int, scale: Long): DataFrame = {
    import s.implicits._
    val reset = 15L * scale / 100L
    val g = Graph.fromEdgeTuples(directed, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val gd: Graph[Long, Int] = g.outerJoinVertices(g.outDegrees) {
      (_, _, d) => math.max(d.getOrElse(0).toLong, 1L)
    }
    // Same partitioner as every msgs VertexRDD → the per-round leftJoin
    // is a narrow zip, never shipped.
    val degs: VertexRDD[Long] = gd.vertices.cache()
    var rg: Graph[Long, Int] = gd.mapVertices((_, d) => scale / d).cache()
    val send = (ctx: EdgeContext[Long, Int, Long]) => ctx.sendToDst(ctx.srcAttr)
    var msgs = rg.aggregateMessages[Long](send, _ + _, TripletFields.Src).cache()
    msgs.count() // forces + caches rg's edge view before the first join
    var i = 0
    while (i + 1 < iters) {
      val prev = rg
      val prevMsgs = msgs
      val updated = degs.leftJoin(msgs) { (_, d, m) =>
        (reset + 85L * m.getOrElse(0L) / 100L) / d
      }
      rg = prev.outerJoinVertices(updated)((_, old, u) => u.getOrElse(old)).cache()
      msgs = rg.aggregateMessages[Long](send, _ + _, TripletFields.Src).cache()
      msgs.count() // materializes the new edge view before prev is released
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
      prevMsgs.unpersist(blocking = false)
      i += 1
    }
    // The final round reads off RANKS (not contributions) from the last msgs.
    val out = degs.leftJoin(msgs) { (_, _, m) => reset + 85L * m.getOrElse(0L) / 100L }
      .map { case (vid, r) => (vid, r) }.toDF("id", "rank_fp").cache()
    out.count()
    msgs.unpersist(blocking = false)
    rg.unpersistVertices(blocking = false)
    rg.edges.unpersist(blocking = false)
    degs.unpersist(blocking = false)
    out
  }

  /** OLD = the production `pagerankFixedEdges` barrier loop (attr = (deg,
    * rank)), NEW = [[pagerankContrib]]; both fed the dump's directed edges
    * re-shaped exactly as GraphScale feeds them (volume-sized partitions,
    * cached + counted here, outside every timed window). */
  private def pagerank(s: SparkSession, dir: String): (Arm, Arm) = {
    val iters = 10
    val directed = s.read.parquet(s"$dir/edges.parquet")
      .select(col("u"), col("v")).rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .repartition(math.max(s.sparkContext.defaultParallelism, 2)).cache()
    directed.count()
    (() => GraphxAnalytics.pagerankFixedEdges(s, directed, iters, GraphScale.ScaleAt1M),
      () => pagerankContrib(s, directed, iters, GraphScale.ScaleAt1M))
  }

  val experiments: Map[String, Experiment] = Map(
    "q115" -> ((s, d) => (() => q115Old(s, d), () => q115New(s, d))),
    "q93" -> ((s, d) => (() => q93Old(s, d), () => q93New(s, d))),
    "q93p" -> ((s, d) => (() => q93Old(s, d), () => q93Par(s, d))),
    "kcore" -> kcore,
    "pagerank" -> pagerank)

  /** The A/B protocol; returns the JSON report, which exists only if the
    * identity check passed.
    *  1. Result identity, outside any timed window: an exact two-way
    *     `exceptAll` (multiset difference, so a duplicated row counts).
    *  2. One warm-up per arm (JIT, page cache).
    *  3. `rounds` alternating (old, new) pairs, each arm timed from its
    *     call through a noop write of its result. */
  def run(spark: SparkSession, name: String, exp: Experiment, dir: String,
      rounds: Int): String = {
    val (oldArm, newArm) = exp(spark, dir)

    val (a, b) = (oldArm(), newArm())
    val onlyOld = a.exceptAll(b).count()
    val onlyNew = b.exceptAll(a).count()
    require(onlyOld == 0L && onlyNew == 0L,
      s"$name: old/new results differ: $onlyOld rows only in old, $onlyNew only in new")
    val rows = a.count()
    a.unpersist(blocking = false); b.unpersist(blocking = false)

    def timeArm(arm: Arm): Double = {
      val t0 = System.nanoTime()
      val df = arm()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      df.unpersist(blocking = false)
      wall
    }
    timeArm(oldArm); timeArm(newArm)
    val walls = (1 to rounds).map { _ => (timeArm(oldArm), timeArm(newArm)) }
    val oldW = walls.map(_._1); val newW = walls.map(_._2)

    def fmt(d: Double) = "%.3f".format(d)
    def arr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")
    s"""{"metric":"query_ab","experiment":"$name","dir":"$dir","rows":$rows,""" +
      s""""old_walls_sec":${arr(oldW)},"new_walls_sec":${arr(newW)},""" +
      s""""old_min":${fmt(oldW.min)},"new_min":${fmt(newW.min)},""" +
      s""""old_median":${fmt(oldW.sorted.apply(oldW.size / 2))},""" +
      s""""new_median":${fmt(newW.sorted.apply(newW.size / 2))},""" +
      s""""speedup_min_over_min":${fmt(oldW.min / newW.min)}}"""
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val outPath = args(1)
    val rounds = if (args.length > 2) args(2).toInt else 4
    val exp = experiments.getOrElse(name, sys.error(
      s"unknown experiment $name (known: ${experiments.keys.toSeq.sorted.mkString(", ")})"))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-query-ab", freezeTolerant = true)
    val json = try run(spark, name, exp, dir, rounds) finally spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println("GRAFT_QUERYAB_JSON")
    println(json)
  }
}
