package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query paired with its DuckDB oracle SQL.
  *
  * The driver contract (SURVEY.md §5, BASELINE.md) hash-compares each
  * query's result against the oracle run on the same parquet tables, with
  * columns sorted by name — so every computed column must carry the SAME
  * alias on both sides, every query must be deterministic (explicit ORDER
  * BY on a unique key, or aggregation to provably-unique groups), and
  * result types must line up (DuckDB `sum(BIGINT)` returns HUGEINT, so
  * oracles cast back to BIGINT; `year()`/`length()` return BIGINT, cast to
  * INTEGER; `date_trunc('month', ts)` returns DATE, cast to TIMESTAMP).
  *
  * Every query carries an oracle; the field stays an `Option` because
  * `SparkEntry.oracleSql` reads it as one.
  *
  * STANDING RULE — constructors define plans, they do not execute:
  * `fn(spark, dir)` must launch ZERO Spark jobs (no `.head()`,
  * `.count()`, `.collect()`, eager writes). `Bench.deriveReleasePlan`,
  * the release-plan spec, and plan audits all replay construction and
  * rely on it being free; a constructor-time job also blurs Bench's
  * timed/untimed boundary. A data-dependent plan choice comes from
  * what construction observes without a job (a relation's planned
  * size, a store's manifest) or runs inside an eager-by-design build,
  * and its branches share their cache keys (the LM broadcast rule,
  * `Curation.lmBroadcasts`, is the pattern).
  * `PlanConstructionSpec` enforces this, with the eager-by-design
  * exceptions pinned exactly there: q109 (connector write), q110
  * (ANALYZE), the iterative materializers q121, q135 and q173, and the
  * disk-store queries q117 and q182–q187, whose first construction
  * builds their store.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
