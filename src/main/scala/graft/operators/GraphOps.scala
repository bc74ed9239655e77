package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Graph analytics over pipeline-derived graphs (SURVEY.md §2C): PageRank
  * centrality on the near-dup candidate graph — the standard way to pick
  * the canonical representative inside a duplicate cluster (rank high =
  * most-connected version) and to find template/boilerplate hubs.
  *
  * Determinism discipline: ranks are integer fixed-point (1e6 = 1.0).
  * Each step is floor(x·1.0/y) on exact-integer doubles (< 2^53), so
  * both engines run the identical IEEE divide-then-floor and the whole
  * iteration is bit-reproducible — no float accumulation order anywhere
  * (sums are integer sums).
  *
  * Scale notes (100 TB posture): each iteration is one equality join
  * (edges ⋈ ranks on src — at cluster scale both sides hash-partition by
  * src and the join co-locates) plus one partial-agg'd groupBy(dst).
  * Iterations are a fixed unrolled count (3), so the plan is static —
  * the iterative-until-convergence variant with checkpointing every few
  * rounds is q89's connected-components loop; this one pins the
  * fixed-iteration shape the oracle can replay as unrolled CTEs.
  */
object GraphOps {
  /** Fixed-point PageRank (d=0.85, scale 1e6) over directed `edges`
    * (`src`, `dst`; pass both directions for an undirected graph).
    * Returns (id, d = out-degree, r = rank after `iters` rounds).
    * r0 = 1e6 per node; contrib = floor(r·1.0/deg);
    * r' = 150000 + floor(85·Σcontrib·1.0/100) — every step is integer
    * or an exact-integer IEEE divide-then-floor, so the result is
    * bit-reproducible on any engine. Nodes with no out-edges do not
    * appear (the candidate graphs this serves are symmetric, so every
    * node has both). */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    // Materialize (src, dst, d) once: the iteration references this frame
    // `iters` times, and without a cut each reference re-executes the
    // degree shuffle + join — the unrolled plan grows a redundant subtree
    // per round. localCheckpoint (eager) truncates lineage, so every
    // iteration scans a materialized edge list; at cluster scale this is
    // the standard "cache the graph structure, iterate over ranks" split
    // (ranks stay lazy — they change every round, the structure doesn't).
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d")).localCheckpoint()
    // The iterated edge list needs ONLY (src, dst): the per-node divide
    // already folds the degree into `c`, so joining deg here (the old
    // shape) materialized an unused `d` per EDGE and paid an extra |E|
    // join at build time — r16 verdict ask #1, cut as pure waste.
    val ed = edges.select("src", "dst").localCheckpoint()
    var r: DataFrame = deg.select(col("src").as("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      // divide once per NODE (floor(r/d) is constant across a node's out-
      // edges), then sum the per-edge contributions grouped by dst: the
      // edge join carries a single long instead of repeating the divide
      // |E| times — same math, same oracle.
      val c = r.join(deg, col("id") === col("src"))
        .select(col("id").as("cid"), floor(col("r") * 1.0 / col("d")).as("c"))
      r = ed.join(c, col("src") === col("cid"))
        .groupBy("dst")
        .agg((lit(150000L)
          + floor(lit(85) * sum(col("c")) * 1.0 / 100)).as("r"))
        .select(col("dst").as("id"), col("r"))
    }
    deg.select(col("src").as("id"), col("d")).join(r, "id")
  }

  val defs: Seq[QueryDef] = Seq(

    // ── 3-iteration integer fixed-point PageRank (d=0.85) over the
    //    symmetrized MinHash-LSH candidate graph. r0 = 1e6 per node;
    //    contrib = floor(r/deg); r' = 150000 + floor(85·Σcontrib/100).
    QueryDef(
      "q121_pagerank_neardup",
      TextDedup.oracleSig +
        """,
          |cd AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
          |  FROM m a JOIN m b ON a.doc_id < b.doc_id
          |  WHERE (a.mh0=b.mh0 AND a.mh1=b.mh1) OR (a.mh2=b.mh2 AND a.mh3=b.mh3)
          |     OR (a.mh4=b.mh4 AND a.mh5=b.mh5) OR (a.mh6=b.mh6 AND a.mh7=b.mh7)),
          |sym AS (SELECT doc_i AS src, doc_j AS dst FROM cd
          |        UNION ALL SELECT doc_j, doc_i FROM cd),
          |deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
          |r0 AS (SELECT src AS id, 1000000::BIGINT AS r FROM deg),
          |c1 AS (SELECT s.dst, CAST(floor(r.r * 1.0 / g.d) AS BIGINT) AS c
          |       FROM sym s JOIN r0 r ON s.src = r.id JOIN deg g ON s.src = g.src),
          |r1 AS (SELECT dst AS id,
          |  CAST(150000 + floor(85 * sum(c) * 1.0 / 100) AS BIGINT) AS r
          |  FROM c1 GROUP BY dst),
          |c2 AS (SELECT s.dst, CAST(floor(r.r * 1.0 / g.d) AS BIGINT) AS c
          |       FROM sym s JOIN r1 r ON s.src = r.id JOIN deg g ON s.src = g.src),
          |r2 AS (SELECT dst AS id,
          |  CAST(150000 + floor(85 * sum(c) * 1.0 / 100) AS BIGINT) AS r
          |  FROM c2 GROUP BY dst),
          |c3 AS (SELECT s.dst, CAST(floor(r.r * 1.0 / g.d) AS BIGINT) AS c
          |       FROM sym s JOIN r2 r ON s.src = r.id JOIN deg g ON s.src = g.src),
          |r3 AS (SELECT dst AS id,
          |  CAST(150000 + floor(85 * sum(c) * 1.0 / 100) AS BIGINT) AS r
          |  FROM c3 GROUP BY dst)
          |SELECT g.src AS doc_id, CAST(g.d AS INTEGER) AS degree,
          |  r3.r AS rank
          |FROM deg g JOIN r3 ON g.src = r3.id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val cd = TextDedup.lshCandidatePairs(s, dir)
        val sym = cd.select(col("doc_i").as("src"), col("doc_j").as("dst"))
          .unionAll(cd.select(col("doc_j").as("src"), col("doc_i").as("dst")))
        pagerank(sym, 3)
          .select(col("id").as("doc_id"), col("d").cast("int").as("degree"),
            col("r").cast("bigint").as("rank"))
          .orderBy("doc_id")
    }
  )
}
