package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias

import graft.sources.CsvCatalog

/** Reference-parity CLI: `<data dir> "<sql>;"` → header + comma-joined
  * rows on stdout, exactly the reference engine's only UX
  * (SURVEY.md §3: `python <engine>.py "select ... ;"` over a
  * metadata.txt + CSV directory).
  *
  * Parity points ([R] SURVEY.md §2A rows 2 and 13):
  *  - header prints qualified `t.col` names; qualification is
  *    reconstructed from the analyzed plan (each output attribute is
  *    traced to the SubqueryAlias it came from), so it holds for any
  *    FROM shape, not just single-table queries; computed columns
  *    (aggregates etc.) print under Spark's derived name;
  *  - a query without the trailing `;` is rejected before execution —
  *    the reference's parser mandates it;
  *  - unknown table/column/grammar errors print one line to stderr and
  *    exit non-zero (Catalyst's ParseException/AnalysisException is the
  *    same failure class the reference hand-rolled).
  *
  * The collect-and-print sink mirrors the reference (its only sink is
  * stdout); production outputs go through `sources.Sinks` instead.
  */
object Cli {

  /** Run one reference-style query; returns header + row lines.
    * Throws (ParseException / AnalysisException / IllegalArgumentException)
    * on the reference's error paths. */
  def run(spark: SparkSession, dataDir: String, query: String): Seq[String] = {
    val q = query.trim
    if (!q.endsWith(";"))
      throw new IllegalArgumentException(
        "query must end with ';' (reference grammar)")
    CsvCatalog.register(spark, dataDir)
    val df = spark.sql(q.dropRight(1))
    val analyzed = df.queryExecution.analyzed
    // output attribute -> owning FROM alias (topmost SubqueryAlias wins:
    // that is the name the user wrote in FROM, or the view name)
    val owner = scala.collection.mutable.Map.empty[Long, String]
    analyzed.foreach {
      case sa: SubqueryAlias =>
        sa.output.foreach { a =>
          if (!owner.contains(a.exprId.id)) owner(a.exprId.id) = sa.alias
        }
      case _ => ()
    }
    val header = analyzed.output.map { a =>
      owner.get(a.exprId.id).map(t => s"$t.${a.name}").getOrElse(a.name)
    }.mkString(",")
    // Reference-parity output: bare comma-join, no quoting/escaping. The
    // reference prints unquoted scalar values only, so a value containing
    // a comma is ambiguous there too — parity is deliberate; callers
    // needing round-trippable output should use the parquet/CSV sinks.
    header +: df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString(","))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Cli <data dir> \"<sql>;\"")
      sys.exit(2)
    }
    val spark = localSession(4)
    try {
      run(spark, args(0), args.drop(1).mkString(" ")).foreach(println)
      spark.stop()
    } catch {
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
