package graft.tools

import graft.{SparkEntry, Tables}

/** Smoke check of the driver contract and the test tables: prints the
  * `entry()` rows, then every table's row count and schema, so parquet
  * type-mapping surprises (ns timestamps, NTZ inference, float arrays)
  * surface before queries are built on them.
  *
  *   sbt "runMain graft.tools.Smoke <sfDir>"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: Smoke <sfDir>")
    val sfDir = args(0)
    val spark = localSession(4)
    val df = SparkEntry.entry(spark)
    println(s"SMOKE rows=${df.count()}")
    df.show(3)
    Tables.names.foreach { t =>
      val table = Tables(spark, sfDir, t)
      println(s"== $t: ${table.count()} rows")
      table.schema.foreach(f => println(s"   ${f.name}: ${f.dataType.sql}"))
    }
    spark.stop()
  }
}
