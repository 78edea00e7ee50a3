package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed op: its pass, name, wall seconds, and whether the listeners
  * were installed while it ran. */
final case class Op(pass: Int, name: String, seconds: Double, traced: Boolean)

/** A benchmark workload: a one-time set-up on a fresh session, then
  * passes over its op list, each op timed by the caller's closed loop. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Run one pass; `record` is called once per op with its wall seconds.
    * `pass` < 0 is the untimed warm-up. */
  def pass(spark: SparkSession, pass: Int, record: (String, Double) => Unit): Unit
  def teardown(spark: SparkSession): Unit = ()
  /** Timed passes every run makes, however short --seconds is. */
  def minPasses: Int = 1
}

/** Runs one workload and writes every raw measurement to a JSON file;
  * `perfbench/run.py` turns it into metrics and checks the outputs.
  *
  * Arguments: --workload NAME --data DIR --work DIR --out FILE
  *            --seconds S --trace 0|1
  *
  * Set-up runs 7 times (session, then the workload's one-time loads and
  * caches), stopping the session in between; the first is in a fresh
  * JVM. One untimed warm-up pass follows the last set-up (codegen,
  * class loading and the first JIT tiers). Timed passes
  * then repeat in a closed loop until S seconds have passed and the
  * workload's minimum number of passes is reached. A full GC after the
  * first timed pass gives the live heap. With --trace 1, passes
  * alternate between listeners on and off (at least one of each) so the
  * tracing overhead is measured in the same JVM. */
object Main {
  /** Set-ups per run; `setup_s` is their median, a warm one. */
  private val Setups = 7

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val data = Paths.get(opt("data")).toAbsolutePath.toString
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = Sessions.cpus.toInt

    val w: Workload = name match {
      case "ego_golden" => new EgoGolden(data, work)
      case "hub_graph" => new HubGraph(data, work, cpus)
      case "query_suite" => new QuerySuite(data, work)
      case "stream_replay" => new StreamReplay(data, work)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) {
        w.teardown(spark)
        Tracer.detach()
        spark.stop()
      }
      val t0 = System.nanoTime()
      Tracer.span("setup") {
        spark = Tracer.span("sessions.local") {
          Sessions.local(s"perfbench-$name", freezeTolerant = true)
        }
        Tracer.attach(spark, traced)
        w.setup(spark)
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    Tracer.span("warmup") { w.pass(spark, -1, (_, _) => ()) }
    val warmupS = (System.nanoTime() - tw) / 1e9

    val ops = mutable.ArrayBuffer.empty[Op]
    val passS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var liveHeap = 0.0
    val t0 = System.nanoTime()
    val minPasses = if (traced) math.max(2, w.minPasses) else w.minPasses
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && p % 2 == 0
      if (on) Tracer.enable() else Tracer.disable()
      val tp = System.nanoTime()
      Tracer.span("pass") {
        w.pass(spark, p, (op, s) => ops += Op(p, op, s, on))
      }
      passS += (((System.nanoTime() - tp) / 1e9, on))
      if (p == 0) liveHeap = liveHeapMb()
      p += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    Tracer.disable()
    w.teardown(spark)

    val out = Map[String, Any](
      "workload" -> name,
      "traced" -> traced,
      "cpus" -> cpus,
      "measured_s" -> measured,
      "setup_s" -> setupS.toSeq,
      "warmup_s" -> warmupS,
      "ops" -> ops.toSeq.map(o => Map("pass" -> o.pass, "name" -> o.name, "s" -> o.seconds, "traced" -> o.traced)),
      "passes" -> passS.toSeq.map { case (s, on) => Map("s" -> s, "traced" -> on) },
      "live_heap_mb" -> liveHeap,
      "spans" -> Tracer.spans.toSeq.map(spanJson),
      "sql" -> Tracer.sqlExecs.values.toSeq.sortBy(_.id).map(q =>
        Map("id" -> q.id, "site" -> q.site, "start_ms" -> q.startMs, "end_ms" -> q.endMs,
          "shuffle_rows" -> q.shuffleRows)),
      "jvm" -> Map(
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
          .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).toSeq))
    Files.writeString(Paths.get(opt("out")), Json(out))
    spark.stop()
  }

  /** Heap in use after a full GC. The second GC runs after Spark's
    * ContextCleaner has had time to drop the blocks of broadcasts and
    * shuffles the first one found unreachable. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def spanJson(s: Span): Map[String, Any] = {
    val straggler = s.stageTaskMs.values.filter(_.nonEmpty).map { t =>
      val mean = t.sum.toDouble / t.size
      if (mean > 0) t.max / mean else 1.0
    }
    Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start / 1e9, "end" -> s.end / 1e9,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "jobs" -> s.jobs, "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9,
      "task_s" -> s.runMs / 1e3,
      "shuffle_mb" -> s.shuffleWriteBytes / 1048576.0,
      "shuffle_rows" -> s.shuffleRows, "spill_mb" -> s.spillBytes / 1048576.0,
      "plan_s" -> s.planMs / 1e3, "join_rows" -> s.joinRows,
      "straggler_max" -> (if (straggler.isEmpty) 1.0 else straggler.max),
      "batches" -> s.batches.toSeq,
      "extra" -> s.extra.toMap)
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x @ (_: Boolean | _: Int | _: Long) => x.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
