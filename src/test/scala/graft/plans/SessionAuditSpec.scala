package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's session conf is defined once, in `graft.Session`: a main
  * that builds its own session drifts from the conf that Bench times and
  * Verify checks (shuffle partitions, cached-plan partitioning, session
  * time zone). Source audit in the style of [[CollectAuditSpec]]; only
  * code counts, so a doc comment may still name the builder.
  */
class SessionAuditSpec extends AnyFunSuite {
  test("SparkSession.builder() is called only in graft/Session.scala") {
    val base = Paths.get("src/main/scala")
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val builders = Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter { p =>
        val code = comments.replaceAllIn(
          new String(Files.readAllBytes(p), "UTF-8"), "")
        code.contains("SparkSession.builder()")
      }
      .map(base.relativize(_).toString).toSeq.sorted
    assert(builders == Seq("graft/Session.scala"),
      "build the session through graft.Session.local, not a builder " +
        "of its own: " + builders.mkString(", "))
  }
}
