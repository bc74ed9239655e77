package graft

import org.apache.spark.sql.SparkSession

package object tools {

  /** The session every tool main runs on: `SPARK_GRAFT_CPUS` local
    * cores (`defaultCpus` when unset) and as many shuffle partitions,
    * no UI, and only ERROR logs on the console. */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
