package graft

import org.scalatest.funsuite.AnyFunSuite

/** Queries share one session, so a query that writes session conf changes
  * every other query running beside it. Conf is fixed once in
  * `Sessions.local`; the only writes left in library code are the two
  * scoped-and-restored sites below, each pinned by its exact count of
  * `conf.set(` / `conf.unset(` lines (the set plus the two restore arms).
  * A new write anywhere under src/main fails here. */
class SessionConfHygieneSpec extends AnyFunSuite {

  private val allowed = Map(
    // the RocksDB state-store provider, scoped to TransformSessions.run
    "graft/streaming/TransformSessions.scala" -> 3,
    // spark.sql.scripting.enabled, scoped to q130's parse
    "graft/relational/RelationalSuite.scala" -> 3)

  test("library code writes session conf only at the allowlisted scoped sites") {
    def findRoot(dir: java.io.File): java.io.File =
      if (new java.io.File(dir, "build.sbt").exists()) dir
      else Option(dir.getParentFile).map(findRoot)
        .getOrElse(fail("no build.sbt above " + sys.props("user.dir")))
    val src = new java.io.File(findRoot(
      new java.io.File(sys.props("user.dir")).getAbsoluteFile), "src/main/scala").toPath
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(files.nonEmpty, s"no sources under $src — the scan is broken")
    val writes = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(".conf.set(") || line.contains(".conf.unset(") =>
          (src.relativize(f).toString.replace('\\', '/'), i + 1)
      }
    }
    val counts = writes.groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts == allowed,
      "session-conf writes outside the allowlist (fix the conf in Sessions.local, " +
        "or scope and restore it and extend the allowlist):\n" +
        writes.map { case (f, l) => s"  $f:$l" }.mkString("\n"))
  }
}
