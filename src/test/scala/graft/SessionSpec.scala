package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main and spec runs on [[Session]]: one session definition, one
  * release path. A hand-built session or a hand-rolled unpersist loop
  * anywhere else fails here, before its settings can drift from the
  * rest (a session without UTC reads `Tables.events` wrong).
  */
class SessionSpec extends AnyFunSuite {

  test("Session.builder(4): local[4], 4 shuffle partitions, UTC, UI off") {
    assert(Session.confs(4) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  // the files allowed to hold either: Session, Bridge and this spec
  private val owners = Set("Session.scala", "Bridge.scala", "SessionSpec.scala")

  private def sources: Seq[Path] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filterNot(p => owners(p.getFileName.toString))

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private def offenders(pattern: String): Seq[String] = {
    val re = pattern.r
    sources.filter(p => re.findFirstIn(code(p)).isDefined).map(_.toString)
  }

  test("no SparkSession builder outside Session") {
    val found = offenders("""SparkSession\s*\.\s*builder\s*\(""")
    assert(found.isEmpty, s"build the session with graft.Session: $found")
  }

  test("no registered-RDD unpersist loop outside Session") {
    val found = offenders("""(?s)getPersistentRDDs[^;]{0,80}?unpersist""")
    assert(found.isEmpty, s"release with graft.Session.release: $found")
  }
}
