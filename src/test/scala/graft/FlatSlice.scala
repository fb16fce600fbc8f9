package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The posting-slice layout of the slice stores: files directly under
  * `slice=S/` — no prefix directories — one per write task, each
  * carrying many prefixes in `prefix` order. */
object FlatSlice {
  def check(spark: SparkSession, slice: String, prefix: String): Unit = {
    val entries = new java.io.File(slice).listFiles().toSeq
    assert(!entries.exists(_.isDirectory),
      s"prefix directories under the slice: ${entries.map(_.getName)}")
    val files = entries.map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    // a write task writes one file; the fold's writing stage has at
    // most spark.sql.shuffle.partitions tasks
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(files.nonEmpty && files.size <= tasks, s"files: $files")
    val perFile = spark.read.parquet(slice)
      .select(input_file_name().as("f"), col(prefix)).collect()
      .groupBy(_.getString(0)).values.map(_.map(_.getInt(1)).toSeq)
    assert(perFile.size == files.size)
    assert(perFile.map(_.distinct.size).sum > files.size)
    perFile.foreach(ps => assert(ps == ps.sorted))
  }

  /** Run a fold with parquet row groups of about 1 KB, so its slice spans
    * many row groups the way a large slice does at the default 128 MB. */
  def withSmallRowGroups[T](spark: SparkSession)(fold: => T): T = {
    spark.conf.set("parquet.block.size", "1024")
    try fold finally spark.conf.unset("parquet.block.size")
  }

  /** Read ONE prefix of the slice through the pushed `prefix = p`
    * filter: row-group statistics must skip the row groups of every
    * other prefix, so the scan returns far fewer rows than the slice
    * holds (only the sort by prefix makes the statistics that narrow). */
  def checkSkips(spark: SparkSession, slice: String, prefix: String): Unit = {
    val all = spark.read.parquet(slice)
    val total = all.count()
    val p = all.groupBy(col(prefix)).count()
      .orderBy(col("count").desc, col(prefix)).head.getInt(0)
    val one = all.filter(col(prefix) === p)
    val matching = one.collect().length
    val scan = one.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no parquet scan in the plan"))
    val scanned = scan.metrics("numOutputRows").value
    assert(matching > 0 && scanned >= matching)
    assert(scanned * 4 < total,
      s"prefix $prefix=$p scanned $scanned of $total rows ($matching match)")
  }
}
