package graft.tools

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The QueryAb protocol on a small seeded graph dump: the graph
  * experiments (kcore, pagerank) otherwise only run against a
  * tools.GraphScale output, so this is their one routine exercise — and
  * the identity check must reject arms that differ by a single row. */
class QueryAbSpec extends SparkSuite {

  /** A seeded ~500-node graph in the GraphScale dump schema: symmetric
    * (u, v) longs, both directions of every pair present. Degrees
    * straddle k = 10, so the k-core peel removes part of the graph. */
  private lazy val dumpDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (0L until 500L).flatMap { i =>
      Seq.fill(8)(rnd.nextInt(500).toLong).filter(_ != i).map(j => (i, j))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-query-ab").toString
    (pairs ++ pairs.map(_.swap)).distinct.toDF("u", "v")
      .write.parquet(s"$dir/edges.parquet")
    dir
  }

  private def report(json: String) = {
    import spark.implicits._
    spark.read.json(Seq(json).toDS()).head()
  }

  for (name <- Seq("kcore", "pagerank")) {
    test(s"$name: arms agree and each arm reports one wall per round") {
      val r = report(QueryAb.run(spark, name, QueryAb.experiments(name), dumpDir, rounds = 1))
      assert(r.getAs[String]("experiment") == name)
      assert(r.getAs[Long]("rows") > 0L)
      assert(r.getSeq[Double](r.fieldIndex("old_walls_sec")).size == 1)
      assert(r.getSeq[Double](r.fieldIndex("new_walls_sec")).size == 1)
    }
  }

  test("kcore fixture peels part of the graph: the arms compare a non-trivial core") {
    val edges = spark.read.parquet(s"$dumpDir/edges.parquet")
    val nodes = edges.select("u").distinct().count()
    val core = graft.snap.GraphAnalytics.kcore(
      edges.where(col("u") < col("v"))
        .select(col("u").as("src"), col("v").as("dst")).withColumn("ego", lit("g")),
      k = 10, rounds = 8).count()
    assert(core > 0L && core < nodes, s"10-core kept $core of $nodes nodes")
  }

  test("identity check rejects arms that differ by one row, either way") {
    val base = () => spark.read.parquet(s"$dumpDir/edges.parquet")
    val first = base().orderBy("u", "v").head()
    val missing = () => base().where(
      !(col("u") === first.getLong(0) && col("v") === first.getLong(1)))
    // exceptAll is a multiset difference: a duplicated row is a difference.
    val duplicated = () => base().unionAll(base().limit(1))
    val e1 = intercept[IllegalArgumentException] {
      QueryAb.run(spark, "drop-one", (_, _) => (base, missing), dumpDir, rounds = 1)
    }
    assert(e1.getMessage.contains("1 rows only in old, 0 only in new"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      QueryAb.run(spark, "dup-one", (_, _) => (base, duplicated), dumpDir, rounds = 1)
    }
    assert(e2.getMessage.contains("0 rows only in old, 1 only in new"), e2.getMessage)
  }
}
