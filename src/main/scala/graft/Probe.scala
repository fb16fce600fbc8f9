package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Where did a query's time go? Times the named SparkEntry queries in
  * order at SPARK_GRAFT_SF_DIR (repeat a name to separate the cold build
  * from the warm cost) and prints, for each run, its wall time and the
  * structural cost one listener rolls up from the run's tasks: jobs,
  * stages, tasks, executor task-seconds, input bytes, shuffle read and
  * write bytes and spill — in total and per `spark.job.description`, so
  * labelled phases (the cascade's `pipeline fold: <store>`) show up as
  * rows. The structural numbers do not move with host contention; the
  * wall time does. graft.Bench times the whole suite; this is for
  * single-query iteration. Recorded runs live under `plans/probe/`.
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Probe
  * q01_agg_group q01_agg_group"`.
  */
object Probe {
  private final class Cost {
    var jobs, stages, tasks = 0
    var taskMs, input, shuffleRead, shuffleWrite, spill = 0L
    def +=(o: Cost): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskMs += o.taskMs; input += o.input; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }

  private val DescKey = "spark.job.description"
  private val Unlabelled = "(unlabelled)"
  private val Barrier = "graft.Probe barrier"

  /** Rolls task metrics up per job description. The bus delivers events
    * to a listener in the order they were posted, so once the barrier
    * job's start arrives every event of the jobs before it has too. */
  private final class Listener extends SparkListener {
    private val stageDesc = mutable.Map[Int, String]()
    private var costs = mutable.LinkedHashMap[String, Cost]()
    @volatile private var barrier = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty(DescKey)))
        .getOrElse(Unlabelled)
      if (d == Barrier) barrier.countDown()
      else {
        e.stageIds.foreach(stageDesc(_) = d)
        costs.getOrElseUpdate(d, new Cost).jobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(cost(e.stageInfo.stageId).foreach(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (c <- cost(e.stageId); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.input += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    private def cost(stage: Int): Option[Cost] =
      stageDesc.get(stage).map(costs.getOrElseUpdate(_, new Cost))

    /** Waits for the bus to deliver everything posted so far, then hands
      * back the costs since the previous call. */
    def drain(spark: SparkSession): mutable.LinkedHashMap[String, Cost] = {
      val sc = spark.sparkContext
      barrier = new CountDownLatch(1)
      sc.setJobDescription(Barrier)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setJobDescription(null)
      barrier.await(60, TimeUnit.SECONDS)
      synchronized {
        val out = costs
        costs = mutable.LinkedHashMap[String, Cost]()
        out
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a generated scale-factor dir"))
    val spark = Session.local(Session.envCpus)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    println(s"graft.Probe sf=$sf cpus=${Session.envCpus}")
    args.zipWithIndex.foreach { case (name, i) =>
      listener.drain(spark)
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sf).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val byDesc = listener.drain(spark)
      val total = new Cost
      byDesc.values.foreach(total += _)
      println(f"\nRUN ${i + 1} $name wall ${wall}%.2f s (n=$n)")
      println(f"${"jobs"}%6s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s " +
        f"${"input_B"}%12s ${"shuf_read_B"}%12s ${"shuf_write_B"}%12s " +
        f"${"spill_B"}%10s  description")
      (("(all)" -> total) +: byDesc.toSeq.sortBy(-_._2.taskMs)).foreach {
        case (d, c) =>
          println(f"${c.jobs}%6d ${c.stages}%6d ${c.tasks}%6d " +
            f"${c.taskMs / 1e3}%8.2f ${c.input}%12d ${c.shuffleRead}%12d " +
            f"${c.shuffleWrite}%12d ${c.spill}%10d  ${d.trim.replace('\n', ' ')}")
      }
    }
    spark.stop()
  }
}
