package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The slice stores write through ONE ledgered slice write
  * (`graft.util.SliceManifest.write`): it owns the replay guard, the
  * slice-id claims, the empty-batch bump and the commit. A store that
  * spells any of them out again drifts from the others (the batch
  * ledger rewinding under a manual fold was such a drift). Source audit
  * in the style of [[SessionAuditSpec]]; only code counts, so a doc
  * comment may still name the rule.
  */
class SliceWriteAuditSpec extends AnyFunSuite {
  private val base = Paths.get("src/main/scala/graft")
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val forbidden = Seq(
    "Generations.claimSlice" -> "Generations.claimSlice".r,
    ".recordEmptyBatch(" -> """\.recordEmptyBatch\(""".r,
    "a replay guard (<= m.batch)" -> """<=\s*p?m\.batch\b""".r)

  test("no store under text/, dedup/, ann/ or warehouse/ claims slices, " +
      "bumps the ledger or guards replays by hand") {
    val hits = Seq("text", "dedup", "ann", "warehouse").flatMap { pkg =>
      Files.walk(base.resolve(pkg)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap { p =>
      val code = comments.replaceAllIn(
        new String(Files.readAllBytes(p), "UTF-8"), "")
      forbidden.collect {
        case (what, re) if re.findFirstIn(code).nonEmpty =>
          s"${base.relativize(p)}: $what"
      }
    }.sorted
    assert(hits.isEmpty,
      "write through SliceManifest.write / StoreManifest.ledgered: " +
        hits.mkString(", "))
  }
}
