package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Time-series operators the reference family lacks entirely (SURVEY.md
  * §2B "range / as-of joins" row): an as-of join composed from built-ins
  * (preference tier (a)), the classic pushdown aggregate, and salted
  * skew aggregation.
  *
  * As-of join strategy — the union + carry-forward composition:
  * tag both sides, sort per key by event time, and carry the most recent
  * right-side row forward with last(_, ignoreNulls). ONE shuffle on the
  * join key, no range explosion, state bounded per key — this is the
  * shape that survives 100 TB, unlike a theta-join (t_left >= t_right)
  * which Catalyst can only nested-loop. DuckDB's native ASOF JOIN is the
  * oracle, so the composition is verified against a first-class
  * implementation.
  */
object TimeSeriesJoins {
  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** For each left row, attach the latest right row with the same key and
    * rTime <= lTime (inner semantics: unmatched left rows drop).
    * Column names of `right` must not collide with `left` except `key`. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      lTime: String, rTime: String): DataFrame = {
    val rCols = right.columns.filterNot(_ == key)
    val tagged = left
      .withColumn("_t", col(lTime))
      .withColumn("_is_r", lit(0))
      .select(Seq(col(key), col("_t"), col("_is_r")) ++
        left.columns.filterNot(_ == key).map(c => col(c)) ++
        rCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
      .unionByName(right
        .withColumn("_t", col(rTime))
        .withColumn("_is_r", lit(1))
        .select(Seq(col(key), col("_t"), col("_is_r")) ++
          left.columns.filterNot(_ == key)
            .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          rCols.map(col): _*))
    // right rows sort before left rows at equal timestamps so an exactly
    // simultaneous right row is visible (ASOF's >= semantics)
    val w = Window.partitionBy(key).orderBy(col("_t"), col("_is_r").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rCols.foldLeft(tagged) { (df, c) =>
      df.withColumn(s"asof_$c", last(col(c), ignoreNulls = true).over(w))
    }
    carried
      .filter(col("_is_r") === 0 && col(s"asof_${rCols.head}").isNotNull)
      .drop(("_t" +: "_is_r" +: rCols).toIndexedSeq: _*)
  }

  val defs: Seq[QueryDef] = Seq(

    // ── as-of join: each non-purchase event joined to the user's most
    //    recent prior (or simultaneous) purchase
    QueryDef(
      "q67_asof_join",
      """WITH l AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             event_type FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT user_id, event_id AS purchase_id,
        |        CAST(ts AS TIMESTAMP) AS pts, round(value, 2) AS purchase_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT l.user_id, l.event_id, l.ts, l.event_type,
        |  asof_purchase_id, asof_pts, asof_purchase_value
        |FROM (
        |  SELECT l.*, r.purchase_id AS asof_purchase_id, r.pts AS asof_pts,
        |         r.purchase_value AS asof_purchase_value
        |  FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.pts
        |) l ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val ev = T(s, dir, "events")
      val l = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("pts"), round(col("value"), 2).as("purchase_value"))
      asofJoin(l, r, "user_id", "ts", "pts")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("asof_purchase_id"), col("asof_pts"), col("asof_purchase_value"))
        .orderBy("user_id", "event_id")
    },

    // ── TPC-H Q6 shape: the fully-pushed-down scan-and-sum (every
    //    predicate reaches the parquet reader; no shuffle at all before
    //    the single global aggregate)
    QueryDef(
      "q49_pushdown_agg",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 25""".stripMargin) { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")
          && col("l_discount").between(0.03, 0.07)
          && col("l_quantity") < 25)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n"))
    },

    // ── salted skew aggregation: identical result to a plain GROUP BY
    //    (the oracle IS the plain GROUP BY), but the shuffle distributes
    //    each hot key over 16 salt buckets first — the standard fix when
    //    one key holds a disproportionate share of a 100 TB table. The
    //    salt must not feed a non-reassociatable aggregate (avg is
    //    computed as sum/count, not avg-of-avgs).
    QueryDef(
      "q70_salted_agg",
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty,
        |  round(sum(l_extendedprice) / count(*), 4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        T(s, dir, "lineitem")
          .withColumn("_salt", pmod(col("l_orderkey"), lit(16)))
          .groupBy("l_returnflag", "_salt")
          .agg(count(lit(1)).as("pn"), sum("l_quantity").as("pq"),
            sum("l_extendedprice").as("pp"))
          .groupBy("l_returnflag")
          .agg(sum("pn").as("n"),
            round(sum("pq"), 2).as("qty"),
            round(sum("pp") / sum("pn"), 4).as("avg_price"))
          .orderBy("l_returnflag")
    },

    // ── rolling 1-hour window per user: a RANGE frame keyed on epoch
    //    seconds — the value-based frame ROWS windows (q23) can't
    //    express. The frame is time-based, so simultaneous events are
    //    peers regardless of input order (no ordering ambiguity). Money
    //    sums in integer cents (round(value·100) — exact on both
    //    engines; values are positive 2-dp synthetics) so the rolling
    //    sum is integer arithmetic, immune to float accumulation-order.
    //    One shuffle keyed by user_id; bounded per-user state at any
    //    scale — the batch twin of a sliding stream aggregation.
    QueryDef(
      "q118_rolling_1h",
      """WITH e AS (SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS INTEGER) AS n_1h,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("t")
        .rangeBetween(-3600, Window.currentRow)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).cast("int").as("n_1h"),
          sum(col("cents")).over(w).as("cents_1h"))
        .orderBy("event_id")
    },

    // ── gap-filled hourly resample (users 0–9): the grid comes from
    //    sequence(min_hour, max_hour) per user — generated NEXT TO the
    //    per-user bounds row, so grid construction is embarrassingly
    //    parallel over users and never materializes a global calendar.
    //    Left join hourly aggregates back onto the grid; missing hours
    //    surface as explicit zero rows (what a forecasting/feature job
    //    needs — absence is a value, not a missing row).
    QueryDef(
      "q119_gapfill_hourly",
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id < 10),
        |hourly AS (SELECT user_id, h, count(*) AS n,
        |  sum(cents) AS c FROM e GROUP BY user_id, h),
        |b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM e
        |      GROUP BY user_id),
        |g AS (SELECT user_id,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT g.user_id, g.h,
        |  CAST(coalesce(n, 0) AS INTEGER) AS n_events,
        |  CAST(coalesce(c, 0) AS BIGINT) AS cents
        |FROM g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h
        |ORDER BY g.user_id, g.h""".stripMargin) { (s, dir) =>
      val e = T(s, dir, "events")
        .filter(col("user_id") < 10)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val hourly = e.groupBy("user_id", "h")
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      val grid = e.groupBy("user_id")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"),
          coalesce(col("n"), lit(0)).cast("int").as("n_events"),
          coalesce(col("c"), lit(0)).cast("bigint").as("cents"))
        .orderBy("user_id", "h")
    },

    // ── gap-based sessionization: the lag + cumulative-sum composition —
    //    a >30-min silence starts a new session; the running sum of
    //    break flags IS the session id. Complements q61 (the built-in
    //    session_window aggregate): this shape also yields the session
    //    MEMBERSHIP of every event, which feeds per-session sequence
    //    features, not just the aggregate. Both windows are keyed by
    //    user_id — one shuffle, per-user state, embarrassingly parallel
    //    over users at any scale. Epoch-second integers end to end.
    QueryDef(
      "q122_sessionize_gap",
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |x AS (SELECT user_id, event_id, t,
        |  CASE WHEN t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT user_id, event_id, t,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, CAST(sid AS INTEGER) AS session_id,
        |  CAST(count(*) AS INTEGER) AS n_events,
        |  CAST(min(t) AS BIGINT) AS start_s,
        |  CAST(max(t) AS BIGINT) AS end_s,
        |  CAST(max(t) - min(t) AS BIGINT) AS duration_s
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("t"))
        .withColumn("brk",
          when(col("t") - lag("t", 1).over(w) > 1800, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(cum))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).cast("int").as("n_events"),
          min("t").as("start_s"), max("t").as("end_s"),
          (max("t") - min("t")).as("duration_s"))
        .select(col("user_id"), col("sid").cast("int").as("session_id"),
          col("n_events"), col("start_s"), col("end_s"), col("duration_s"))
        .orderBy("user_id", "session_id")
    },

    // ── SCD2 state history (gaps-and-islands): collapse each user's
    //    event stream into validity intervals — consecutive runs of the
    //    same event_type become one row [valid_from, valid_to), the
    //    NULL valid_to marking the currently-open state. The standard
    //    three-window build: lag to flag state changes, running sum of
    //    flags as the run id, lead over the collapsed runs for the
    //    interval end. All three windows are keyed by user_id — ONE
    //    shuffle total (the two row-windows share the (user_id; ts,
    //    event_id) sort, and the lead runs on the already user-keyed
    //    run frame), per-user state, embarrassingly parallel over users
    //    at any corpus size. This is the batch construction of the
    //    dimension-table history a warehouse MERGE maintains
    //    incrementally (q111).
    QueryDef(
      "q129_scd2_state_history",
      """WITH f AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |       THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS grp FROM f),
        |r AS (SELECT user_id, grp, min(event_type) AS state,
        |  min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, grp)
        |    AS valid_to,
        |  n_events
        |FROM r ORDER BY user_id, valid_from, grp""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = T(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        // IS DISTINCT FROM by hand: the first row's lag is NULL, which
        // must count as a change (<=> would fold it into the run)
        .withColumn("chg",
          when(lag("event_type", 1).over(w).isNull
            || lag("event_type", 1).over(w) =!= col("event_type"), 1)
            .otherwise(0))
        .withColumn("grp", sum("chg").over(cum))
        .groupBy("user_id", "grp")
        .agg(min("event_type").as("state"),
          min("ts").as("valid_from"),
          count(lit(1)).as("n_events"))
      // grp (the monotone run id) is the tiebreak: two runs of ONE user
      // can share a valid_from when simultaneous events of different
      // types split runs at the same timestamp — ordering by valid_from
      // alone would leave lead() and the output order engine-dependent
      val wv = Window.partitionBy("user_id").orderBy("valid_from", "grp")
      runs
        .select(col("user_id"), col("state"), col("valid_from"),
          lead("valid_from", 1).over(wv).as("valid_to"), col("n_events"),
          col("grp"))
        .orderBy("user_id", "valid_from", "grp")
        .drop("grp")
    },

    // ── session co-occurrence affinity (market-basket over sessions):
    //    which event types appear in the SAME session, scored by cosine
    //    on session-presence vectors — the count-based item-item
    //    similarity a recommender bootstraps from. Reuses q122's exact
    //    session definition (>30-min gap). Scale shape: sessions with
    //    their distinct types are one user-keyed window + distinct;
    //    the pair self-join is keyed by session id and each side is
    //    capped by the per-session DISTINCT type count (≤5 here), so
    //    the blow-up is Σ k² over sessions, never n²; the final agg is
    //    |types|² rows. Integer counts; cosine is the single rounded
    //    float, identical association both engines.
    QueryDef(
      "q134_session_cooccurrence",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |x AS (SELECT user_id, event_id, event_type, t,
        |  CASE WHEN t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT DISTINCT user_id, event_type,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM x),
        |n AS (SELECT event_type, count(*) AS n_sess FROM s
        |      GROUP BY event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        count(*) AS n_both
        |      FROM s a JOIN s b ON a.user_id = b.user_id AND a.sid = b.sid
        |        AND a.event_type < b.event_type
        |      GROUP BY a.event_type, b.event_type)
        |SELECT type_a, type_b,
        |  CAST(na.n_sess AS BIGINT) AS n_a, CAST(nb.n_sess AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  round(n_both * 1.0 / (sqrt(na.n_sess) * sqrt(nb.n_sess)), 4)
        |    AS cosine
        |FROM p JOIN n na ON na.event_type = type_a
        |       JOIN n nb ON nb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the sessionized (user, sid, type) frame feeds THREE consumers
      // (per-type totals + both sides of the co-occurrence self-join);
      // registry-persisted so the event-window sessionization runs once
      // per session instead of once per reference
      val sess = graft.CacheRegistry.cached(s, s"sess-cooc:$dir") {
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("t"))
          .withColumn("brk",
            when(col("t") - lag("t", 1).over(w) > 1800, 1).otherwise(0))
          .withColumn("sid", sum("brk").over(cum))
          .select("user_id", "sid", "event_type")
          .distinct()
      }
      val n = sess.groupBy("event_type").agg(count(lit(1)).as("n_sess"))
      // the metered plan keeps the untiled join (this corpus's
      // per-session distinct-type count is bounded by its ~5 event
      // types — measured skew-free; the q93/q156 salt=1 discipline);
      // the tiled twin below guards the open-cardinality case
      sessionPairCounts(sess, tilePairs = Long.MaxValue)
        .join(broadcast(n.select(col("event_type").as("type_a"),
          col("n_sess").as("n_a"))), "type_a")
        .join(broadcast(n.select(col("event_type").as("type_b"),
          col("n_sess").as("n_b"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          round(col("n_both") * lit(1.0)
            / (sqrt(col("n_a")) * sqrt(col("n_b"))), 4).as("cosine"))
        .orderBy("type_a", "type_b")
    },

    // ── EWMA smoothing (α = 0.5, window 8, pandas ewm-adjusted
    //    semantics): weights (1-α)^k over the last 8 observations per
    //    user, renormalized over the terms that exist — so the first
    //    rows of each series are smoothed over their shorter history
    //    instead of biased toward zero. Eight lag columns over ONE
    //    user-keyed window = one shuffle total; the weighted sum is a
    //    fixed-association scalar expression, so both engines produce
    //    bit-equal doubles before the final round. At 100 TB the state
    //    per key is 8 values — this is the batch twin of a streaming
    //    mapGroupsWithState smoother.
    QueryDef(
      "q140_ewma_smooth",
      """WITH v AS (SELECT user_id, event_id, value,
        |  lag(value,1) OVER w AS l1, lag(value,2) OVER w AS l2,
        |  lag(value,3) OVER w AS l3, lag(value,4) OVER w AS l4,
        |  lag(value,5) OVER w AS l5, lag(value,6) OVER w AS l6,
        |  lag(value,7) OVER w AS l7
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  round((value
        |    + coalesce(l1,0)*0.5 + coalesce(l2,0)*0.25 + coalesce(l3,0)*0.125
        |    + coalesce(l4,0)*0.0625 + coalesce(l5,0)*0.03125
        |    + coalesce(l6,0)*0.015625 + coalesce(l7,0)*0.0078125)
        |  / (1.0
        |    + CASE WHEN l1 IS NULL THEN 0 ELSE 0.5 END
        |    + CASE WHEN l2 IS NULL THEN 0 ELSE 0.25 END
        |    + CASE WHEN l3 IS NULL THEN 0 ELSE 0.125 END
        |    + CASE WHEN l4 IS NULL THEN 0 ELSE 0.0625 END
        |    + CASE WHEN l5 IS NULL THEN 0 ELSE 0.03125 END
        |    + CASE WHEN l6 IS NULL THEN 0 ELSE 0.015625 END
        |    + CASE WHEN l7 IS NULL THEN 0 ELSE 0.0078125 END), 4) AS ewma8
        |FROM v ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val lags = (1 to 7).map(k => lag(col("value"), k).over(w).as(s"l$k"))
      val weights = (1 to 7).map(k => math.pow(0.5, k))
      val v = T(s, dir, "events")
        .select(col("user_id") +: col("event_id") +: col("value") +: lags: _*)
      val num = (1 to 7).foldLeft(col("value")) { (acc, k) =>
        acc + coalesce(col(s"l$k"), lit(0)) * lit(weights(k - 1))
      }
      val den = (1 to 7).foldLeft(lit(1.0)) { (acc, k) =>
        acc + when(col(s"l$k").isNull, lit(0)).otherwise(lit(weights(k - 1)))
      }
      v.select(col("user_id"), col("event_id"),
          round(num / den, 4).as("ewma8"))
        .orderBy("user_id", "event_id")
    },

    // ── ordered session funnel: view → click → purchase WITHIN a q122
    //    gap session, each stage's event required at-or-after the
    //    previous stage's first occurrence (conditional min, not mere
    //    presence — 'clicked before ever viewing' does not convert).
    //    The standard conversion readout over the sessionizer's output.
    //    Scale shape: ONE pass over events — sessions come from the
    //    q122 windows (one user-keyed shuffle), and each stage's
    //    conditional min is a full-partition window over (user_id, sid),
    //    which hashpartitioning(user_id) already satisfies (subset
    //    clustering), so no second exchange and no self-joins that
    //    would recompute the session subtree. tv/tc/tp are partition
    //    constants, so each successive window can gate on the previous
    //    stage's value. Final readout is a single 4-counter row.
    //    Integer epochs and counts only.
    QueryDef(
      "q149_session_funnel",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |x AS (SELECT user_id, event_id, event_type, t,
        |  CASE WHEN t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT user_id, event_type, t,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM x),
        |g1 AS (SELECT user_id, sid,
        |  min(CASE WHEN event_type = 'view' THEN t END) AS tv
        |  FROM s GROUP BY user_id, sid),
        |g2 AS (SELECT s.user_id, s.sid, min(g1.tv) AS tv,
        |  min(CASE WHEN s.event_type = 'click' AND s.t >= g1.tv THEN s.t END)
        |    AS tc
        |  FROM s JOIN g1 ON s.user_id = g1.user_id AND s.sid = g1.sid
        |  GROUP BY s.user_id, s.sid),
        |g3 AS (SELECT s.user_id, s.sid, min(g2.tv) AS tv, min(g2.tc) AS tc,
        |  min(CASE WHEN s.event_type = 'purchase' AND s.t >= g2.tc THEN s.t END)
        |    AS tp
        |  FROM s JOIN g2 ON s.user_id = g2.user_id AND s.sid = g2.sid
        |  GROUP BY s.user_id, s.sid)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(tv) AS BIGINT) AS n_viewed,
        |  CAST(count(tc) AS BIGINT) AS n_clicked_after,
        |  CAST(count(tp) AS BIGINT) AS n_purchased_after
        |FROM g3""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val part = Window.partitionBy("user_id", "sid")
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("t"))
        .withColumn("brk",
          when(col("t") - lag("t", 1).over(w) > 1800, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(cum))
        .withColumn("tv",
          min(when(col("event_type") === "view", col("t"))).over(part))
        .withColumn("tc",
          min(when(col("event_type") === "click" && col("t") >= col("tv"),
            col("t"))).over(part))
        .withColumn("tp",
          min(when(col("event_type") === "purchase" && col("t") >= col("tc"),
            col("t"))).over(part))
        .groupBy("user_id", "sid")
        .agg(min(col("tv")).as("tv"), min(col("tc")).as("tc"),
          min(col("tp")).as("tp"))
        .agg(count(lit(1)).as("n_sessions"),
          count(col("tv")).as("n_viewed"),
          count(col("tc")).as("n_clicked_after"),
          count(col("tp")).as("n_purchased_after"))
    }
  )

  /** Per-session co-occurrence pair counts over a (user_id, sid,
    * event_type) DISTINCT frame → (type_a, type_b, n_both) with
    * type_a < type_b — q134's pair join, factored with the SAME
    * per-bucket pair-space tiling the LSH joins grew in r12/r13
    * ([[Similarity.tileSalt]] over a (user_id, sid) occupancy window,
    * the [[TextDedup.bandedPairsTiled]] shape): on a closed type
    * vocabulary the per-session distinct-type count k is bounded and
    * the plain session-keyed join is Σk²-safe, but "session
    * co-occurrence" run over an OPEN item space (the market-basket
    * shape this query bootstraps) meets the same enemy as boilerplate
    * LSH buckets — one bot mega-session with 100k distinct items
    * serializes a 10^10-pair space on one task, the hot-bucket class
    * AQE's byte-based skew split cannot see. Tiling splits each
    * session's pair space: probe side hashed to a tile, build side
    * replicated across that session's tiles, (user_id, sid, tile) the
    * join key — RESULT-IDENTICAL for any `tilePairs` (spec-pinned at
    * forced multi-tile with a planted mega-session); cold sessions pay
    * zero replication. `tilePairs = Long.MaxValue` pins the untiled
    * plan (the metered q134 does — its corpus is measured skew-free,
    * keeping the broadcast-eligible pristine shape). Merge hint +
    * explicit probe repartition are [[Similarity.saltedProbeSide]]'s
    * documented discipline (AQE coalesces byte-light tiles back onto
    * one task without it).
    *
    * MEASURED (wall clock, before GrowthLawSpec; 8000-item mega-session
    * + 50k 3-item sessions): tiled 7.1 s vs untiled-SMJ 32.3 s
    * (the non-broadcastable regime — the tiling's 4.5× win) vs
    * untiled-BHJ 4.1 s (at broadcastable scale the hot session spreads
    * for free over the probe's input partitioning) — the same
    * three-way pattern as the minhash leg, identical 32.0M-row result
    * in all six runs. */
  private[graft] def sessionPairCounts(sess: DataFrame,
      tilePairs: Long = Similarity.AutoSaltTilePairs): DataFrame = {
    require(tilePairs >= 1, "tilePairs must be >= 1")
    val a = sess.select(col("user_id"), col("sid"),
      col("event_type").as("type_a"))
    val b = sess.select(col("user_id"), col("sid"),
      col("event_type").as("type_b"))
    val pairs =
      if (tilePairs == Long.MaxValue)
        a.join(b, Seq("user_id", "sid"))
          .filter(col("type_a") < col("type_b"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "sid")
        val withS = sess
          .withColumn("__n", count(lit(1)).over(w))
          .withColumn("__s", Similarity.tileSalt(col("__n"), tilePairs))
          .drop("__n")
        val probe = Similarity.saltedProbeSide(
          withS.withColumn("__h",
            pmod(xxhash64(col("event_type")), col("__s"))),
          Seq("user_id", "sid", "__h"))
        val build = withS.withColumn("__h",
          explode(sequence(lit(0), col("__s") - 1)))
        build.as("a").hint("merge")
          .join(probe.as("b"),
            col("a.user_id") === col("b.user_id")
              && col("a.sid") === col("b.sid")
              && col("a.__h") === col("b.__h")
              && col("a.event_type") < col("b.event_type"))
          .select(col("a.user_id").as("user_id"), col("a.sid").as("sid"),
            col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
      }
    pairs.groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
  }
}
