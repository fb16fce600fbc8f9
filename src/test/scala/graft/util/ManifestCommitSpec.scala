package graft.util

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The manifest pointer is the commit, so replacing it must be atomic
  * for a concurrent reader: every read sees the previous body or the
  * next one — never a missing pointer, a checksum error or a torn body.
  * (On the local file system an overwrite-rename used to delete the
  * target before moving the new file in, and moved the checksum sidecar
  * separately.) */
class ManifestCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a polling reader sees every manifest commit whole: no error, " +
      "no missing pointer, no torn body") {
    val dir = Files.createTempDirectory("manifestcommit").toString
    val name = "_graft_commit_test_meta.json"
    def body(c: Int) = s"""{"format": "test", "commit": $c}"""
    Generations.commit(spark, dir, name, body(0))
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val bad = new ConcurrentLinkedQueue[String]()
    val polls = new AtomicLong()
    @volatile var done = false
    val reader = new Thread(() =>
      while (!done) {
        try Generations.readPointer(spark, dir, name) match {
          case Some(b) if b.matches("""\{"format": "test", "commit": \d+\}""") => ()
          case other => bad.add(other.toString)
        } catch { case t: Throwable => errors.add(t) }
        polls.incrementAndGet()
      })
    reader.start()
    try (1 to 200).foreach(c => Generations.commit(spark, dir, name, body(c)))
    finally { done = true; reader.join() }
    assert(errors.isEmpty, errors.asScala.take(3).mkString("; "))
    assert(bad.isEmpty, bad.asScala.take(3).mkString("; "))
    assert(polls.get > 0)
    assert(Generations.readPointer(spark, dir, name).contains(body(200)))
  }
}
