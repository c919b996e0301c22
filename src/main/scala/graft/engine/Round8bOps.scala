package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 second extension block: the remaining e/d/h-shaped ClickHouse
  * families from SURVEY's long-tail candidate list — interval concurrency
  * (`maxIntersections`/`maxIntersectionsPosition`), bounding-slope
  * (`boundingRatio`), bounded moving aggregation (`groupArrayMovingSum`),
  * and timestamp rendering (`formatDateTime`).
  *
  * Scale notes (the 100 TB posture, SURVEY §4):
  *  - e16 is the sweep-line in declarative form: intervals become ±1
  *    events (2 rows each), one window cumsum per group key, one hash
  *    agg. Everything hash-partitions on the group key — no global sort,
  *    no driver state; skewed groups ride AQE like any window.
  *  - e17's frame is ROWS BETWEEN 2 PRECEDING AND CURRENT ROW — bounded
  *    sliding state per partition (3 longs), the streaming-friendly shape;
  *    the window and nothing else touches the data (map-only otherwise).
  *  - d27 is one window pass + a 1-row-per-group filter; first/last ride
  *    the same exchange+sort, so the whole query is one shuffle.
  *  - h24 is pure map-side scalar formatting over codegen'd `date_format`.
  *
  * Determinism (SURVEY §2): every arithmetic path here is int64 — epoch
  * milliseconds (`unix_millis`/`epoch_ms` both truncate microsecond
  * inputs toward zero for post-epoch data), value cents via the decimal
  * route, and the one float division in d27 divides bit-identical int64
  * casts (a single IEEE op on both engines).
  */
object Round8bOps {

  /** e16 — interval concurrency (ClickHouse `maxIntersections` /
    * `maxIntersectionsPosition` analog [public: CH aggregate-function
    * docs]): per event_type, the maximum number of simultaneously-open
    * intervals and the earliest position (epoch ms) where that maximum is
    * first reached. Intervals are half-open [s, e) — built deterministically
    * from each event as s = epoch_ms(ts), e = s + (60 + event_id % 3600)·1000.
    * The sweep: each interval contributes (+1 at s) and (−1 at e); the
    * peer-inclusive default RANGE window frame makes the cumsum value
    * deterministic under ties (all rows equal on (pos, delta) share one
    * value), ordering delta ASC processes closes before opens at equal pos
    * (= the half-open convention), and MAX over the peer-inclusive cumsum
    * equals the true max concurrency because a +1 peer-group's group-end
    * value is its own max and a −1 group's max was the previous row. */
  val e16: Q = Q(
    "e16_max_intersections",
    """WITH iv AS (
      |  SELECT event_type, epoch_ms(ts) AS s_ms,
      |         epoch_ms(ts) + (60 + event_id % 3600) * 1000 AS e_ms
      |  FROM events),
      |ev AS (
      |  SELECT event_type, s_ms AS pos, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT event_type, e_ms AS pos, -1 AS delta FROM iv),
      |cum AS (
      |  SELECT event_type, pos,
      |         SUM(delta) OVER (PARTITION BY event_type
      |                          ORDER BY pos ASC, delta ASC) AS c
      |  FROM ev)
      |SELECT event_type,
      |  CAST(MAX(c) AS INT) AS max_intersections,
      |  CAST(MIN(CASE WHEN c = mc THEN pos END) AS BIGINT) AS max_position
      |FROM (SELECT event_type, pos, c,
      |        MAX(c) OVER (PARTITION BY event_type) AS mc FROM cum)
      |GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("event_type"), unix_millis(col("ts")).as("s_ms"),
                (unix_millis(col("ts")) + (lit(60) + col("event_id") % 3600) * 1000)
                  .as("e_ms"))
      val ev = iv.select(col("event_type"), col("s_ms").as("pos"), lit(1).as("delta"))
        .unionAll(iv.select(col("event_type"), col("e_ms").as("pos"),
                            lit(-1).as("delta")))
      val wCum = Window.partitionBy("event_type").orderBy(asc("pos"), asc("delta"))
      val wMax = Window.partitionBy("event_type")
      ev.withColumn("c", sum(col("delta")).over(wCum))
        .withColumn("mc", max(col("c")).over(wMax))
        .groupBy("event_type")
        .agg(max(col("c")).cast("int").as("max_intersections"),
             min(when(col("c") === col("mc"), col("pos"))).cast("long")
               .as("max_position"))
        .orderBy(asc_nulls_last("event_type"))
    })

  /** e17 — bounded moving aggregation (ClickHouse `groupArrayMovingSum(3)`
    * analog [public: CH aggregate-function docs]): per user, the 3-row
    * moving sum of value in event order, emitted per event rather than as
    * CH's array state (same numbers, relational shape). All arithmetic in
    * exact integer cents via the decimal route; the output stays BIGINT
    * cents (zero float). Restricted to users ≡ 0 (mod 7) to keep the
    * declared output row count in family norms. */
  val e17: Q = Q.fromSql(
    "e17_moving_sum",
    """SELECT user_id, event_id,
      |  CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |       AS BIGINT) AS mov_sum3_cents,
      |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |       AS INT) AS mov_n
      |FROM (SELECT user_id, event_id, ts,
      |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM events WHERE user_id % 7 = 0)
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin)

  /** d27 — bounding slope (ClickHouse `boundingRatio` analog [public: CH
    * aggregate-function docs]): per user, the slope between the first and
    * last (ts, value) point in event order — Δvalue/Δt. Both deltas are
    * exact int64 (cents, epoch ms); the ratio is ONE float division of
    * bit-identical int64→double casts, so it cannot drift cross-engine.
    * Single-event users yield NULL (Δt = 0 → NULLIF), matching CH's nan
    * posture as SQL NULL. first/last share one window spec (one exchange +
    * sort); the rn=1 filter keeps one row per user. */
  val d27: Q = Q(
    "d27_bounding_ratio",
    """SELECT user_id, dv_cents, dt_ms,
      |  CAST(dv_cents AS DOUBLE) / CAST(NULLIF(dt_ms, 0) AS DOUBLE)
      |    AS bounding_ratio
      |FROM (
      |  SELECT user_id,
      |    LAST_VALUE(cents) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      - FIRST_VALUE(cents) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |      AS dv_cents,
      |    LAST_VALUE(ms) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      - FIRST_VALUE(ms) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |      AS dt_ms,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM (SELECT user_id, ts, event_id,
      |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |          epoch_ms(ts) AS ms
      |        FROM events))
      |WHERE rn = 1
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
                unix_millis(col("ts")).as("ms"))
        .withColumn("dv_cents",
          last(col("cents")).over(wAll) - first(col("cents")).over(wOrd))
        .withColumn("dt_ms", last(col("ms")).over(wAll) - first(col("ms")).over(wOrd))
        .withColumn("rn", row_number().over(wOrd))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("dv_cents"), col("dt_ms"),
                (col("dv_cents").cast("double") /
                  nullif(col("dt_ms"), lit(0L)).cast("double")).as("bounding_ratio"))
        .orderBy(asc_nulls_last("user_id"))
    })

  /** h24 — timestamp rendering (ClickHouse `formatDateTime` analog
    * [public: CH date-time-function docs]): the numeric-pattern subset —
    * full datetime, date, clock, day-of-year — as strings. Pattern
    * dialects differ (`yyyy-MM-dd`/`DDD` vs `%Y-%m-%d`/`%j`) but the
    * rendered strings are locale-free digits, identical by construction.
    * Map-only codegen'd scalar work over a keyed sample of events. */
  val h24: Q = Q(
    "h24_format_datetime",
    """SELECT event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt_datetime,
      |  strftime(ts, '%Y-%m-%d') AS fmt_date,
      |  strftime(ts, '%H:%M') AS fmt_clock,
      |  strftime(ts, '%j') AS fmt_doy
      |FROM events WHERE event_id % 37 = 0
      |ORDER BY event_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .where(col("event_id") % 37 === 0)
        .select(col("event_id"),
                date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("fmt_datetime"),
                date_format(col("ts"), "yyyy-MM-dd").as("fmt_date"),
                date_format(col("ts"), "HH:mm").as("fmt_clock"),
                date_format(col("ts"), "DDD").as("fmt_doy"))
        .orderBy(asc_nulls_last("event_id")))

  def ops: Vector[Q] = Vector(e16, e17, d27, h24)
}
