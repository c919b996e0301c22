package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.UniqUpTo

/** Round-8 extension block: the remaining thin-but-real ClickHouse
  * aggregate/scalar families named by SURVEY §2's round-8 candidate list —
  * map-valued aggregation (`sumMap`/`maxMap`), bounded exact-until-N
  * distinct counting (`uniqUpTo`), and the human-readable rendering
  * family (`formatReadableSize`/`formatReadableQuantity`).
  *
  * Scale notes (the 100 TB posture, SURVEY §4):
  *  - d25 is two chained hash aggregates — (group, key) partial-aggregated
  *    map-side, then a per-group fold of at most |key domain| rows. The
  *    map NEVER materializes as a wide in-memory value per row; CH's
  *    in-aggregate hashmap state becomes Spark's (group, key) shuffle key,
  *    which AQE load-balances like any other agg. Output serialized to a
  *    sorted `k:v` string per determinism rule 6.
  *  - d26's aggregator carries a CAPPED buffer (≤ N+1 longs) through the
  *    partial/merge path — the shuffle cost per group is O(N), not
  *    O(distinct), unlike COUNT(DISTINCT)'s (group, value) expansion.
  *  - h23 is pure map-side scalar work; the two-decimal rendering is done
  *    in exact integer hundredths ((2·v·100 + d) DIV (2·d) — the e14
  *    half-up recipe) so both engines produce byte-identical strings
  *    without touching float formatting.
  */
object Round8Ops {

  /** d25 — map-valued aggregation (ClickHouse `sumMap`/`maxMap` analog
    * [public: CH aggregate-function docs, -Map combinators]): per day, the
    * key-wise sum and key-wise max of (event_type → value) entries,
    * returned as ONE sorted serialized map column each. Values ride the
    * exact decimal route and serialize as integer hundredths — no float
    * ever reaches the output, so cross-engine hashes can't drift. The
    * sorted-string form is rule 6's scalar serialization of a map; keys
    * are unique per group, so sorting the joined `k:v` strings IS key
    * order on both engines (ascii keys, binary collation both sides). */
  val d25: Q = Q(
    "d25_summap_agg",
    """WITH per AS (
      |  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 100 AS BIGINT) AS sum_c,
      |    CAST(MAX(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS max_c
      |  FROM events GROUP BY 1, 2)
      |SELECT day,
      |  STRING_AGG(event_type || ':' || CAST(sum_c AS VARCHAR), ','
      |             ORDER BY event_type || ':' || CAST(sum_c AS VARCHAR) ASC) AS sum_map,
      |  STRING_AGG(event_type || ':' || CAST(max_c AS VARCHAR), ','
      |             ORDER BY event_type || ':' || CAST(max_c AS VARCHAR) ASC) AS max_map,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys
      |FROM per GROUP BY day
      |ORDER BY day ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg((sum(col("value").cast("decimal(18,6)")) * lit(100)).cast("long").as("sum_c"),
             (max(col("value").cast("decimal(18,2)")) * lit(100)).cast("long").as("max_c"))
      per
        .groupBy("day")
        .agg(array_join(sort_array(collect_list(
               concat(col("event_type"), lit(":"), col("sum_c").cast("string")))), ",")
               .as("sum_map"),
             array_join(sort_array(collect_list(
               concat(col("event_type"), lit(":"), col("max_c").cast("string")))), ",")
               .as("max_map"),
             count(lit(1)).as("n_keys"))
        .orderBy(asc_nulls_last("day"))
    })

  /** d26 — exact-until-N distinct (ClickHouse `uniqUpTo(N)` analog): per
    * event_type, `uniqUpTo(50)` over user_id (exceeds the cap at every SF
    * → sentinel 51) and `uniqUpTo(40)` over day-of-month (≤ 31 distinct →
    * always exact), so BOTH sides of the cap are exercised in one query.
    * The Spark side is the bounded-state [[graft.operators.UniqUpTo]]
    * typed Aggregator via `udaf` — ≤ N+1 longs of merge state per group;
    * the oracle is the closed form LEAST(COUNT(DISTINCT x), N+1), which
    * is semantically identical (and affordable for DuckDB at oracle SF). */
  val d26: Q = Q(
    "d26_uniq_upto",
    """SELECT event_type,
      |  CAST(LEAST(COUNT(DISTINCT user_id), 51) AS INT) AS u_users_50,
      |  CAST(LEAST(COUNT(DISTINCT DAY(ts)), 41) AS INT) AS u_days_40
      |FROM events GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val u50 = udaf(UniqUpTo(50), org.apache.spark.sql.Encoders.LONG)
      val u40 = udaf(UniqUpTo(40), org.apache.spark.sql.Encoders.LONG)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(u50(col("user_id")).as("u_users_50"),
             u40(dayofmonth(col("ts")).cast("long")).as("u_days_40"))
        .orderBy(asc_nulls_last("event_type"))
    })

  /** h23 — human-readable rendering (ClickHouse `formatReadableSize` /
    * `formatReadableQuantity` analog [public: CH other-function docs]):
    * binary-unit byte sizes (B → TiB) and decimal quantities (thousand →
    * billion), each "<x.xx> <unit>". The synthetic byte/quantity columns
    * are built with pure int64 arithmetic (decimal cents × powers of two)
    * spanning every unit branch; the two-decimal mantissa is computed as
    * exact integer hundredths with the (2·v·100 + d) DIV (2·d) half-up
    * recipe, then string-assembled with CAST/LPAD — zero float ops, so
    * the strings are byte-identical cross-engine by construction. */
  val h23: Q = Q(
    "h23_format_readable",
    """WITH src AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 5 = 0
      |         THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 1024
      |         ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |              * (CAST(1 AS BIGINT) << (7 * CAST(o_orderkey % 4 AS INT))) END AS bytes,
      |    CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 997
      |         ELSE o_orderkey * 12345 END AS qty
      |  FROM orders WHERE o_orderkey % 29 = 0),
      |u AS (
      |  SELECT o_orderkey, bytes, qty,
      |    CASE WHEN bytes < 1024 THEN CAST(1 AS BIGINT)
      |         WHEN bytes < 1048576 THEN 1024
      |         WHEN bytes < 1073741824 THEN 1048576
      |         WHEN bytes < 1099511627776 THEN 1073741824
      |         ELSE 1099511627776 END AS bdiv,
      |    CASE WHEN bytes < 1024 THEN ' B'
      |         WHEN bytes < 1048576 THEN ' KiB'
      |         WHEN bytes < 1073741824 THEN ' MiB'
      |         WHEN bytes < 1099511627776 THEN ' GiB'
      |         ELSE ' TiB' END AS bunit,
      |    CASE WHEN qty < 1000 THEN CAST(1 AS BIGINT)
      |         WHEN qty < 1000000 THEN 1000
      |         WHEN qty < 1000000000 THEN 1000000
      |         ELSE 1000000000 END AS qdiv,
      |    CASE WHEN qty < 1000 THEN ''
      |         WHEN qty < 1000000 THEN ' thousand'
      |         WHEN qty < 1000000000 THEN ' million'
      |         ELSE ' billion' END AS qunit
      |  FROM src)
      |SELECT o_orderkey, bytes, qty,
      |  CAST(((2 * bytes * 100 + bdiv) // (2 * bdiv)) // 100 AS VARCHAR) || '.' ||
      |    LPAD(CAST(((2 * bytes * 100 + bdiv) // (2 * bdiv)) % 100 AS VARCHAR), 2, '0')
      |    || bunit AS readable_size,
      |  CAST(((2 * qty * 100 + qdiv) // (2 * qdiv)) // 100 AS VARCHAR) || '.' ||
      |    LPAD(CAST(((2 * qty * 100 + qdiv) // (2 * qdiv)) % 100 AS VARCHAR), 2, '0')
      |    || qunit AS readable_qty
      |FROM u ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.orders(s, dir)
        .where(expr("o_orderkey % 29 = 0"))
        .selectExpr(
          "o_orderkey",
          """CASE WHEN o_orderkey % 5 = 0
            |     THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 1024
            |     ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            |          * shiftleft(CAST(1 AS BIGINT), 7 * CAST(o_orderkey % 4 AS INT))
            |END AS bytes""".stripMargin,
          """CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 997
            |     ELSE o_orderkey * 12345 END AS qty""".stripMargin)
        .selectExpr(
          "o_orderkey", "bytes", "qty",
          """CASE WHEN bytes < 1024 THEN CAST(1 AS BIGINT)
            |     WHEN bytes < 1048576 THEN 1024
            |     WHEN bytes < 1073741824 THEN 1048576
            |     WHEN bytes < 1099511627776 THEN 1073741824
            |     ELSE 1099511627776 END AS bdiv""".stripMargin,
          """CASE WHEN bytes < 1024 THEN ' B'
            |     WHEN bytes < 1048576 THEN ' KiB'
            |     WHEN bytes < 1073741824 THEN ' MiB'
            |     WHEN bytes < 1099511627776 THEN ' GiB'
            |     ELSE ' TiB' END AS bunit""".stripMargin,
          """CASE WHEN qty < 1000 THEN CAST(1 AS BIGINT)
            |     WHEN qty < 1000000 THEN 1000
            |     WHEN qty < 1000000000 THEN 1000000
            |     ELSE 1000000000 END AS qdiv""".stripMargin,
          """CASE WHEN qty < 1000 THEN ''
            |     WHEN qty < 1000000 THEN ' thousand'
            |     WHEN qty < 1000000000 THEN ' million'
            |     ELSE ' billion' END AS qunit""".stripMargin)
        .selectExpr(
          "o_orderkey", "bytes", "qty",
          """CONCAT(CAST(((2 * bytes * 100 + bdiv) DIV (2 * bdiv)) DIV 100 AS STRING), '.',
            |  LPAD(CAST(((2 * bytes * 100 + bdiv) DIV (2 * bdiv)) % 100 AS STRING), 2, '0'),
            |  bunit) AS readable_size""".stripMargin,
          """CONCAT(CAST(((2 * qty * 100 + qdiv) DIV (2 * qdiv)) DIV 100 AS STRING), '.',
            |  LPAD(CAST(((2 * qty * 100 + qdiv) DIV (2 * qdiv)) % 100 AS STRING), 2, '0'),
            |  qunit) AS readable_qty""".stripMargin)
        .orderBy(asc_nulls_last("o_orderkey")))

  /** j09 — `sequenceNextNode` analog [public: CH parametric-aggregate
    * docs]: per user, the event that immediately FOLLOWS the user's first
    * 'signup' — the "what happens next after the funnel head" question.
    * One shuffle: the lead and the first-signup row_number share the same
    * window spec (partition user, order ts/event_id), so Catalyst collapses
    * them into one Window operator over one exchange+sort; the filter then
    * keeps one row per signed-up user. NULL next_type = signup was the
    * user's last event (both engines: LEAD beyond the frame is NULL). */
  val j09: Q = Q.fromSql(
    "j09_sequence_next_node",
    """SELECT user_id, next_type
      |FROM (SELECT user_id, event_type,
      |        LEAD(event_type) OVER w AS next_type,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, event_type = 'signup'
      |                           ORDER BY ts ASC, event_id ASC) AS rn
      |      FROM events
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |WHERE event_type = 'signup' AND rn = 1
      |ORDER BY user_id ASC NULLS LAST""".stripMargin)

  /** e15 — `deltaSum` analog [public: CH aggregate-function docs]: per
    * user, the sum of POSITIVE step-to-step increases of `value` in event
    * order (counter-reset-tolerant accumulation — the rate-counter shape).
    * Every arithmetic step rides decimal(18,2): the inputs are 2-decimal
    * by construction, so diffs, the GREATEST clamp, and the group sum are
    * all exact. The float conversion goes through EXACT INTEGER HUNDREDTHS
    * (sum·100 → BIGINT → /100.0): a direct decimal→DOUBLE cast diverged by
    * 1 ulp live (Spark rounds the decimal once; DuckDB converts the
    * unscaled int then divides — two roundings), while int64→double is
    * exact at this magnitude and the final /100.0 is the same IEEE op on
    * both engines. Window and aggregate hash-partition on the same key, so
    * the agg reuses the window's exchange. */
  val e15: Q = Q(
    "e15_delta_sum",
    """SELECT user_id,
      |  CAST(SUM(GREATEST(d, CAST(0 AS DECIMAL(18,2)))) * 100 AS BIGINT) / 100.0
      |    AS delta_sum,
      |  CAST(COUNT(d) AS BIGINT) AS n_steps
      |FROM (SELECT user_id,
      |        CAST(value AS DECIMAL(18,2))
      |          - LAG(CAST(value AS DECIMAL(18,2))) OVER
      |              (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS d
      |      FROM events)
      |GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      val vdec = col("value").cast("decimal(18,2)")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("d", vdec - lag(vdec, 1).over(w))
        .groupBy("user_id")
        .agg(((sum(greatest(col("d"), lit(0).cast("decimal(18,2)"))) * lit(100))
                .cast("long") / lit(100.0)).as("delta_sum"),
             count(col("d")).as("n_steps"))
        .orderBy(asc_nulls_last("user_id"))
    })

  def ops: Vector[Q] = Vector(d25, d26, h23, j09, e15)
}
