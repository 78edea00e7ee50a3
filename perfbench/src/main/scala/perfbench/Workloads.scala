package perfbench

import graft.QuerySpec
import graft.golden.Golden
import graft.graphx.GraphxAnalytics
import graft.snap.{EgoGraphs, GraphAnalytics}
import graft.streaming.{StatefulSessions, Streams, TransformSessions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

object Io {
  def write(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(UTF_8)).toFile.length()
  }

  def timed(record: (String, Double) => Unit, name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    record(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-insensitive digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

/** The reference's whole job, the way GoldenMain runs it: a cold load of
  * the ten ego networks, the proofs/metrics render with centrality, and
  * the 20 output files. Each op reads the data through a fresh directory
  * alias so the `(session, dir)` load memo misses, and the previous op's
  * three cached frames are released first. The load's caches are
  * materialised inside the `snap.load` span, so ingest time is charged to
  * the ingest layer rather than to the first collect of the render. */
final class EgoGolden(data: String, work: String) extends Workload {
  private var prev: Option[EgoGraphs] = None


  def setup(spark: SparkSession): Unit = ()

  private def release(): Unit = {
    prev.foreach { g => Seq(g.edges, g.friends, g.vertices).foreach(_.unpersist(blocking = true)) }
    prev = None
  }

  def pass(spark: SparkSession, pass: Int, record: (String, Double) => Unit): Unit = {
    val tag = if (pass < 0) "warmup" else s"p$pass"
    val alias = Paths.get(work, "alias", tag)
    Files.createDirectories(alias.getParent)
    Files.deleteIfExists(alias)
    Files.createSymbolicLink(alias, Paths.get(data))
    release()
    Io.timed(record, "golden") {
      Tracer.span("op") {
        val g = Tracer.span("snap.load") {
          val g = EgoGraphs.load(spark, alias.toString)
          Seq(g.edges, g.friends, g.vertices).foreach(_.count())
          Tracer.put("cached_mb", Io.cachedMb(spark))
          g
        }
        prev = Some(g)
        val out = Tracer.span("golden.render") { Golden.render(g, withCentrality = true) }
        Tracer.span("golden.write") {
          val dir = Paths.get(work, "out", tag)
          val bytes = out.toSeq.map { case (ego, o) =>
            Io.write(dir.resolve(s"$ego.proofs"), o.proofs) +
              Io.write(dir.resolve(s"$ego.metrics"), o.metrics)
          }.sum
          Tracer.put("bytes", bytes.toDouble)
        }
      }
    }
  }

  override def teardown(spark: SparkSession): Unit = release()
}

/** Analytics on one hub-heavy ego network, loaded and cached once. An op
  * runs clustering, closed-form centrality and the k-core peel
  * (GraphAnalytics) plus star-contraction components and fixed-point
  * PageRank (GraphxAnalytics); each result is collected and dumped for
  * the checker. */
final class HubGraph(data: String, work: String, cpus: Int) extends Workload {
  private val ego = Files.list(Paths.get(data)).toArray.map(_.toString)
    .collectFirst { case f if f.endsWith(".edges") => Paths.get(f).getFileName.toString.stripSuffix(".edges") }
    .getOrElse(sys.error(s"no .edges file in $data"))
  private var graphs: EgoGraphs = _

  def setup(spark: SparkSession): Unit =
    graphs = Tracer.span("snap.load") {
      val g = EgoGraphs.load(spark, data)
      Seq(g.edges, g.friends, g.vertices).foreach(_.count())
      Tracer.put("cached_mb", Io.cachedMb(spark))
      g
    }

  def pass(spark: SparkSession, pass: Int, record: (String, Double) => Unit): Unit = {
    val sb = new StringBuilder
    Io.timed(record, "analytics") {
      Tracer.span("op") {
        val cl = Tracer.span("snap.clustering") {
          GraphAnalytics.clustering(graphs.edges).select("name", "deg", "eff").collect()
        }
        val ce = Tracer.span("snap.centrality") {
          GraphAnalytics.centralityClosedForm(graphs.edges).select("name", "centrality").collect()
        }
        val kc = Tracer.span("snap.kcore") {
          GraphAnalytics.kcore(graphs.edges, k = 10, rounds = 8, parts = cpus).select("node").collect()
        }
        val cc = Tracer.span("graphx.cc_star") {
          GraphxAnalytics.componentStatsStar(spark, data, Seq(ego)).collect()
        }
        val pr = Tracer.span("graphx.pagerank") {
          val df = GraphxAnalytics.pagerankFixed(spark, data, Seq(ego))
          try df.select("name", "rank_fp").collect() finally df.unpersist()
        }
        cl.foreach(r => sb.append(s"de\t${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\n"))
        ce.foreach(r => sb.append(s"cent\t${r.getString(0)}\t${r.getLong(1)}\n"))
        kc.foreach(r => sb.append(s"kcore\t${r.get(0)}\n"))
        cc.foreach(r => sb.append(s"cc\t${r.getAs[Any]("n_components")}\t${r.getAs[Any]("largest")}\n"))
        pr.foreach(r => sb.append(s"pr\t${r.getString(0)}\t${r.get(1)}\n"))
      }
    }
    if (pass >= 0) Io.write(Paths.get(work, "out", s"p$pass.tsv"), sb.toString)
  }
}

/** A fixed sample of declared queries (relational, ext, sources, the
  * GraphX weighted paths and the stateful streams, which replay `events`
  * through a file source inside the call), each op one query collected.
  * Every op's rows are digested; the first timed pass's rows are written
  * as parquet after the loop for the DuckDB oracle compare. */
final class QuerySuite(data: String, work: String) extends Workload {
  private val modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "relational" -> graft.relational.RelationalSuite.specs,
    "ext" -> (graft.ext.TextSuite.specs ++ graft.ext.DedupSuite.specs ++
      graft.ext.SimilaritySuite.specs ++ graft.ext.Multimodal.specs ++ graft.ext.ScaleOps.specs),
    "sources" -> (graft.sources.SourceFormats.specs ++ graft.sources.ZOrderLayout.specs),
    "graphx" -> graft.graphx.WeightedPaths.specs,
    "streaming" -> graft.streaming.Streams.specs)
  private val byName: Map[String, (String, QuerySpec)] =
    modules.flatMap { case (m, ss) => ss.map(s => s.name -> (m, s)) }.toMap
  private val queries: Seq[(String, QuerySpec)] = QuerySuite.Sample.sorted.map(n =>
    byName.getOrElse(n, sys.error(s"query $n is not declared")))

  private val digests = mutable.ArrayBuffer.empty[(Int, String, Long, String)]
  private val firstRows = mutable.LinkedHashMap.empty[String, DataFrame]

  def setup(spark: SparkSession): Unit = ()

  /** One pass of short queries is noisy: two give a steadier median. */
  override def minPasses: Int = 2

  def pass(spark: SparkSession, pass: Int, record: (String, Double) => Unit): Unit =
    queries.foreach { case (module, spec) =>
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      Io.timed(record, spec.name) {
        Tracer.span(module) {
          val df = Tracer.span("query.build") { spec.run(spark, data) }
          rows = Tracer.span("query.exec") { df.collect() }
          schema = df.schema
        }
      }
      if (pass >= 0) {
        digests += ((pass, spec.name, rows.length.toLong, Io.digest(rows)))
        if (!firstRows.contains(spec.name)) {
          val rs = java.util.Arrays.asList(rows: _*)
          firstRows(spec.name) = spark.createDataFrame(rs, schema)
        }
      }
    }

  override def teardown(spark: SparkSession): Unit = if (firstRows.nonEmpty) {
    val dir = Paths.get(work, "out")
    firstRows.foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(n).toString)
    }
    val oracle = queries.flatMap { case (_, s) => s.duckSql.map(s.name -> _) }.toMap
    Io.write(dir.resolve("oracle_sql.json"), Json(oracle))
    Io.write(dir.resolve("digests.json"), Json(digests.toSeq.map { case (p, n, c, d) =>
      Map("pass" -> p, "name" -> n, "rows" -> c, "digest" -> d) }))
    firstRows.clear()
  }
}

object QuerySuite {
  /** The timed sample: every layer of the query surface, chosen so a
    * pass fits a run. */
  val Sample: Seq[String] = Seq(
    "q01_filter_agg", "q04_join_large", "q10_agg_battery", "q16_window_frame", "q57_funnel",
    "q40_text_stats", "q43_fingerprint",
    "q60_csv_roundtrip", "q117_zorder",
    "q114_sssp_weighted",
    "s_tws_sessions")
}

/** The events table consumed incrementally: time-ordered parquet chunks
  * replayed one file per micro-batch through four stateful streams
  * (flatMapGroupsWithState and transformWithState sessionization, the
  * interval join and the windowed top-k), each into a memory sink with
  * its own checkpoint. An op is one micro-batch (its triggerExecution
  * time); a pass is the four replays. */
final class StreamReplay(data: String, work: String) extends Workload {
  private val Chunks = 8
  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private var eventsDir: String = _
  private var sessionsDir: String = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private val results = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def stampAscending(dir: String, names: Seq[String], from: Long): Long = {
    names.sorted.zipWithIndex.foreach { case (n, i) =>
      require(new java.io.File(dir, n).setLastModified(from + (i + 1) * 1000L), s"cannot stamp $n")
    }
    from + names.size * 1000L
  }

  private def parts(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith("part-"))

  def setup(spark: SparkSession): Unit = Tracer.span("streaming.replay_write") {
    import spark.implicits._
    val root = Paths.get(work, "replay")
    graft.TmpFiles.deleteRecursively(root.toString)
    val ev = graft.Tables(spark, data, "events")
    schema = ev.schema
    eventsDir = root.resolve("events").toString
    ev.repartitionByRange(Chunks, col("ts"), col("event_id"))
      .sortWithinPartitions("ts", "event_id").write.parquet(eventsDir)
    stampAscending(eventsDir, parts(eventsDir), System.currentTimeMillis())
    // Sessions: (user_id, ts) chunks plus one far-future flush event,
    // ingested last, which closes every open session.
    sessionsDir = root.resolve("sessions").toString
    val sev = ev.select("user_id", "ts")
    sev.repartitionByRange(Chunks, col("ts"), col("user_id"))
      .sortWithinPartitions("ts", "user_id").write.parquet(sessionsDir)
    val chunkNames = parts(sessionsDir)
    val last = stampAscending(sessionsDir, chunkNames, System.currentTimeMillis())
    val maxTs = sev.agg(max("ts")).head().getTimestamp(0).getTime
    Seq((-1L, new java.sql.Timestamp(maxTs + 24 * 3600 * 1000L))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(sessionsDir)
    stampAscending(sessionsDir, parts(sessionsDir).filterNot(chunkNames.toSet), last + 60000L)
  }

  private def replay(spark: SparkSession, pass: Int, name: String, mode: String,
      record: (String, Double) => Unit)(frame: => DataFrame): Unit = {
    val mem = s"pb_${name}_${if (pass < 0) "warmup" else pass.toString}"
    val ckpt = Paths.get(work, "ckpt", mem).toString
    graft.TmpFiles.deleteRecursively(ckpt)
    Tracer.span(s"streaming.$name") {
      val q = frame.writeStream.format("memory").queryName(mem)
        .option("checkpointLocation", ckpt).outputMode(mode).start()
      q.processAllAvailable()
      val prog = q.recentProgress
      q.stop()
      val out = spark.table(mem).count()
      spark.catalog.dropTempView(mem)
      val data = prog.filter(_.numInputRows > 0)
      def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      data.foreach(p => record(name, ms(p, "triggerExecution") / 1e3))
      val stateRows = if (prog.isEmpty) 0L else prog.map(_.stateOperators.map(_.numRowsTotal).sum).max
      if (pass >= 0) results += Map("pass" -> pass, "name" -> name, "out_rows" -> out,
        "state_rows_max" -> stateRows, "batches" -> data.length)
    }
  }

  def pass(spark: SparkSession, pass: Int, record: (String, Double) => Unit): Unit = {
    def events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(eventsDir)
    def sessions = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).parquet(sessionsDir)
    Tracer.span("op") {
      replay(spark, pass, "sessionize", "append", record) {
        StatefulSessions.sessionize(sessions).toDF().filter(col("user_id") >= 0)
      }
      replay(spark, pass, "interval_join", "append", record) { Streams.intervalJoinFrame(events) }
      replay(spark, pass, "windowed_topk", "complete", record) { Streams.windowedTopkFrame(events) }
      // transformWithState needs the RocksDB provider; scoped to this
      // query the way TransformSessions.run scopes it.
      val prevProvider = spark.conf.getOption(ProviderKey)
      spark.conf.set(ProviderKey, RocksDb)
      try replay(spark, pass, "transform_sessions", "append", record) {
        TransformSessions.sessionize(sessions).toDF().filter(col("user_id") >= 0)
      } finally prevProvider match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None => spark.conf.unset(ProviderKey)
      }
    }
  }

  override def teardown(spark: SparkSession): Unit = if (results.nonEmpty) {
    Io.write(Paths.get(work, "out", "streams.json"), Json(results.toSeq))
  }
}
