package graft

import org.apache.spark.sql.SparkSession

/** The engine's one local session. Every main (Bench, Verify, Probe,
  * ExplainDump, the demos) and the test session build through here, so
  * the plans ExplainDump dumps, Bench times and Verify checks come from
  * the same conf.
  */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time zone
    * (the oracle reads naive timestamps as UTC), UI off, log level WARN.
    *
    * Size-adaptive cached-plan partitioning (round 16, measured by the
    * `PerfProbe` of docs/PROBES.md): cached plans are otherwise built
    * WITHOUT AQE, so a kilobyte-sized maintained table (the memoized
    * edge/ledger substrates) persists as shuffle.partitions tiny
    * partitions and every downstream aggregate pays a fixed per-task
    * cost × that count (one groupBy over the 3,853-row maintained pair
    * cache: 12.3 summed task-seconds at 32 partitions vs 1.9 at
    * AQE-coalesced ~10; q108 wall 1.24 -> 0.43 s). AQE sizes cached
    * partitions by bytes, so big caches keep their parallelism at any
    * scale.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
