package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM: the engine's own
  * session (`graft.Session`) on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}
