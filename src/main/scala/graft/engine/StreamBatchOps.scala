package graft.engine

import org.apache.spark.sql.functions._
import graft.engine.Determinism._

/** SURVEY §2.1 block J — streaming windows, batch-equivalent.
  *
  * Spark's `window`/`session_window` functions run identically in batch and
  * Structured Streaming, so the exact per-window semantics are oracle-checked
  * here; the unbounded execution (watermarks, state stores, triggers) is
  * Tier 2 — `graft.streaming` suites pin those against MemoryStream.
  */
object StreamBatchOps {

  /** j01 — 1-hour tumbling counts+sums. Spark window starts are epoch-aligned,
    * exactly DuckDB's time_bucket. */
  val j01: Q = Q(
    "j01_tumbling",
    s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
       |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1
       |ORDER BY w_start ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("w_start"), col("n"), col("sum_value"))
        .orderBy(asc_nulls_last("w_start")))

  /** j02 — 1-hour windows sliding every 15 min: each event lands in exactly 4
    * windows; only non-empty windows are emitted (Spark semantics). Oracle
    * expands each event to its 4 enclosing window starts. */
  val j02: Q = Q(
    "j02_sliding",
    s"""SELECT w_start, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts)
       |             - (s.g * INTERVAL '15 minutes') AS w_start, value
       |      FROM events, generate_series(0, 3) AS s(g))
       |GROUP BY 1
       |ORDER BY w_start ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("w_start"), col("n"), col("sum_value"))
        .orderBy(asc_nulls_last("w_start")))

  /** j03 — 30-min-gap sessionization per user: bounds, length, event count.
    * Spark session_window: a session closes when the next event's ts ≥
    * last_ts + gap; its end is last_ts + gap. Oracle reproduces exactly that
    * with a lag-flag + running-sum session id. */
  val j03: Q = Q(
    "j03_session",
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS s_start,
      |  MAX(ts) + INTERVAL '30 minutes' AS s_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id ASC NULLS LAST, s_start ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Windows.sessionize(Tables.events(s, dir), "ts", "user_id", "30 minutes")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("s_start")))

  /** j05 — windowFunnel analog [public: ClickHouse windowFunnel]: deepest
    * step of signup → view → purchase each user reaches, every step inside
    * 6 hours of the FIRST signup, steps strictly ordered in time. Three
    * unbounded per-user window minima chain the step timestamps (l2 depends
    * on l1, l3 on l2 — per-user constants, so the three Window stages share
    * ONE user_id shuffle), then a per-user max picks the level. Linear per
    * user at any scale — the CH semantics without CH's state machine. */
  val j05: Q = Q(
    "j05_window_funnel",
    """WITH w1 AS (
      |  SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS l1
      |  FROM events),
      |w2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' AND ts > l1
      |                      AND ts <= l1 + INTERVAL 6 HOUR THEN ts END)
      |      OVER (PARTITION BY user_id) AS l2
      |  FROM w1),
      |w3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > l2
      |                      AND ts <= l1 + INTERVAL 6 HOUR THEN ts END)
      |      OVER (PARTITION BY user_id) AS l3
      |  FROM w2),
      |lv AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN l3 IS NOT NULL THEN 3 WHEN l2 IS NOT NULL THEN 2
      |             WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS funnel_level
      |  FROM w3 GROUP BY user_id)
      |SELECT funnel_level, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM lv GROUP BY funnel_level
      |ORDER BY funnel_level ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      // compiled by the shared funnel machinery: base mode = the chained
      // window-minima plan this query originally hand-derived
      graft.operators.SequenceMatch.funnelLevels(
          Tables.events(s, dir), "user_id", col("ts"), col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "view",
              col("event_type") === "purchase"),
          Some(expr("INTERVAL 6 HOUR")), mode = "base")
        .groupBy("funnel_level")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(asc_nulls_last("funnel_level")))

  /** j06 — retention analog [public: ClickHouse retention]: per user, was
    * there ANY activity in weeks 0/1/2 after the first signup; aggregated
    * to cohort counts. One per-user window min + one conditional agg —
    * one shuffle. */
  val j06: Q = Q.fromSql(
    "j06_retention",
    """WITH w AS (
      |  SELECT user_id, ts,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS l1
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN ts >= l1 AND ts < l1 + INTERVAL 7 DAY
      |             THEN 1 ELSE 0 END) AS w0,
      |    MAX(CASE WHEN ts >= l1 + INTERVAL 7 DAY AND ts < l1 + INTERVAL 14 DAY
      |             THEN 1 ELSE 0 END) AS w1,
      |    MAX(CASE WHEN ts >= l1 + INTERVAL 14 DAY AND ts < l1 + INTERVAL 21 DAY
      |             THEN 1 ELSE 0 END) AS w2
      |  FROM w WHERE l1 IS NOT NULL GROUP BY user_id)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(w0) AS BIGINT) AS wk0,
      |  CAST(SUM(w1) AS BIGINT) AS wk1,
      |  CAST(SUM(w2) AS BIGINT) AS wk2
      |FROM u""".stripMargin)

  /** j07 — ClickHouse `sequenceMatch` analog [public: CH docs]: per-user
    * ordered event-pattern matching — the funnel-adjacent primitive j05's
    * windowFunnel doesn't cover (funnel measures DEPTH; sequenceMatch asks
    * "did this ordered pattern occur at all", loose `(?1).*(?2)` and
    * adjacent `(?1)(?2)` forms). The event stream is rendered per user as
    * a space-joined type string in (ts, event_id) order, and both pattern
    * forms become LIKE scans — dialect-identical (no regex-engine
    * divergence risk; the five type names are substring-free of each
    * other). One hash agg + per-row LIKE: no window buffering, and at
    * 100 TB the per-user string is bounded by a user's event count (the
    * same per-key-state bound every funnel/retention op carries). Ties
    * inside a timestamp break on event_id in BOTH engines (struct sort vs
    * ORDER BY ts, event_id). */
  val j07: Q = Q(
    "j07_sequence_match",
    """SELECT user_id,
      |  CAST(seq LIKE '%signup%purchase%' AS INT) AS m_loose,
      |  CAST(seq LIKE '%signup purchase%' AS INT) AS m_adjacent,
      |  CAST(n AS BIGINT) AS n_events
      |FROM (SELECT user_id,
      |        STRING_AGG(event_type, ' ' ORDER BY ts, event_id) AS seq,
      |        COUNT(*) AS n
      |      FROM events GROUP BY 1)
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      // compiled from the CH grammar: the loose form is the .*-gap plan
      // (rn-chained window minima), the adjacent form the lead-conjunction
      // run plan; both share ONE ordered per-key exchange, replacing the
      // original string render with the same oracle (the LIKE scans over
      // the rendered stream define identical semantics — the type names
      // are substring-free of each other)
      import graft.operators.SequenceMatch
      val conds = Seq(col("event_type") === "signup",
                      col("event_type") === "purchase")
      val base = Tables.events(s, dir)
      val m1 = SequenceMatch.withMatch(base, "user_id", unix_micros(col("ts")),
        col("event_id"), conds, "(?1).*(?2)", "__m_loose")
      val m2 = SequenceMatch.withMatch(m1, "user_id", unix_micros(col("ts")),
        col("event_id"), conds, "(?1)(?2)", "__m_adj")
      m2.groupBy("user_id")
        .agg(max(col("__m_loose")).cast("int").as("m_loose"),
             max(col("__m_adj")).cast("int").as("m_adjacent"),
             count(lit(1)).as("n_events"))
        .orderBy(asc_nulls_last("user_id"))
    })

  /** j08 — ClickHouse `sequenceCount('(?1).*(?2)')` analog [public: CH docs]:
    * the NUMBER of non-overlapping signup→purchase chains per user (j07 asks
    * "did it occur", this asks "how many times"). The search is greedy
    * left-to-right — which is exactly bracket matching (signup = open,
    * purchase = close), so the count has a closed one-pass form: matched
    * closers = total_purchases − unmatched_purchases, and the unmatched
    * count is the maximum prefix excess max(0, max_t(cumB(t) − cumA(t))).
    * One cumulative window + one hash agg — no state machine, no per-user
    * sequence materialization (unlike j07's bounded string render), scales
    * as any per-key running sum. Ties inside a timestamp break on event_id
    * in both engines (explicit ROWS frame + total order). */
  val j08: Q = Q(
    "j08_sequence_count",
    """SELECT user_id,
      |  CAST(total_b - GREATEST(0, max_excess) AS BIGINT) AS n_chains
      |FROM (
      |  SELECT user_id, MAX(cum_b) AS total_b, MAX(cum_b - cum_a) AS max_excess
      |  FROM (
      |    SELECT user_id,
      |      SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER
      |        (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
      |      SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER
      |        (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a
      |    FROM events)
      |  GROUP BY user_id)
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      // compiled by the shared sequenceCount bracket closed form
      graft.operators.SequenceMatch.countChains(
          Tables.events(s, dir), "user_id", col("ts"), col("event_id"),
          col("event_type") === "signup", col("event_type") === "purchase")
        .orderBy(asc_nulls_last("user_id")))

  def ops: Vector[Q] = Vector(j01, j02, j03, j05, j06, j07, j08)
}
