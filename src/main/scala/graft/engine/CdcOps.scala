package graft.engine

import org.apache.spark.sql.functions._

/** SURVEY §2.1 block I — ETL / CDC / replication semantics.
  *
  * The reference domain's core computations (MySQL→ClickHouse replication),
  * expressed as deterministic batch queries over `events` as the change
  * stream: event_id = binlog position, user_id = primary key, ts = event
  * time. i02/i03 are exactly ClickHouse ReplacingMergeTree/Collapsing
  * `FINAL` semantics; i04 is the SCD-2 interval build.
  * [public: ClickHouse MergeTree docs; Debezium CDC envelope]
  */
object CdcOps {

  /** i01 — incremental watermark slice: the "resume from checkpoint" read. */
  val i01: Q = Q(
    "i01_inc_scan",
    """SELECT COUNT(*) AS n, MAX(ts) AS max_ts FROM events
      |WHERE ts > TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,
    (s, dir) =>
      graft.api.Replication.incrementalSlice(
        Tables.events(s, dir), "ts", lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts")))

  private def latestPerKey(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.api.Replication.latestPerKey(
      Tables.events(s, dir)
        .select("user_id", "event_id", "ts", "event_type", "value"),
      keyCols = Seq("user_id"),
      orderCols = Seq(desc("ts"), desc("event_id")))

  private val latestSql =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1""".stripMargin

  /** i02 — latest-row-wins per key: ReplacingMergeTree FINAL / upsert collapse. */
  val i02: Q = Q(
    "i02_cdc_latest",
    latestSql + "\nORDER BY user_id ASC NULLS LAST",
    (s, dir) => latestPerKey(s, dir).orderBy(asc_nulls_last("user_id")))

  /** i03 — tombstone handling: keys whose latest op is a delete are dropped
    * (CollapsingMergeTree analog; event_type='error' plays the tombstone). */
  val i03: Q = Q(
    "i03_cdc_tombstone",
    s"""SELECT * FROM ($latestSql) latest
       |WHERE event_type <> 'error'
       |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      latestPerKey(s, dir)
        .filter(col("event_type") =!= "error")
        .orderBy(asc_nulls_last("user_id")))

  /** i04 — SCD-2 interval build: valid_from/valid_to per user change event. */
  val i04: Q = Q(
    "i04_scd2",
    """SELECT user_id, event_id, ts AS valid_from,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
      |FROM events
      |WHERE event_type IN ('signup', 'purchase')
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Replication.scd2(
        Tables.events(s, dir)
          .filter(col("event_type").isin("signup", "purchase")),
        keyCols = Seq("user_id"), tsCol = "ts", tieBreak = Seq(asc("event_id")))
        .select("user_id", "event_id", "valid_from", "valid_to")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("event_id")))

  /** i05 — full-row dedup of a projection (at-least-once replay dedup). */
  val i05: Q = Q.fromSql(
    "i05_dedup_exact_rows",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id ASC NULLS LAST, event_type ASC NULLS LAST""".stripMargin)

  /** i06 — per-day partition rollup (PARTITION BY toYYYYMMDD bookkeeping). */
  val i06: Q = Q(
    "i06_partition_stats",
    s"""SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d, COUNT(*) AS n,
       |  ${Determinism.dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1
       |ORDER BY d ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Replication.partitionStats(Tables.events(s, dir), "ts", "day", "value")
        .withColumnRenamed("part", "d")
        .orderBy(asc_nulls_last("d")))

  /** i08 — point-in-time state: i02's latest-per-key collapse over a LOG
    * PREFIX (event_id ≤ cutoff playing the binlog position) — the
    * declared-query face of `SchemaReplicator.materializedStateAt`: any
    * prefix of a totally ordered change log is a consistent snapshot, and
    * PITR is "filter the log, then the SAME collapse", not a second code
    * path. Cutoff = half the max id so later events verifiably change the
    * answer. */
  val i08: Q = Q(
    "i08_pitr_state",
    """WITH cut AS (SELECT CAST(FLOOR(MAX(event_id) / 2) AS BIGINT) AS c FROM events)
      |SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_id <= (SELECT c FROM cut)) t
      |WHERE rn = 1
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val e = Tables.events(s, dir)
      // FLOOR on both sides: DuckDB ROUNDS on float->int casts where
      // Spark truncates (max 9999 -> 4999.5 -> 5000 vs 4999)
      val cut = e.agg(floor(max(col("event_id")) / 2).cast("bigint").as("c"))
      graft.api.Replication.latestPerKey(
          e.select("user_id", "event_id", "ts", "event_type", "value")
            .join(broadcast(cut), col("event_id") <= col("c"))
            .drop("c"),
          keyCols = Seq("user_id"),
          orderCols = Seq(desc("ts"), desc("event_id")))
        .orderBy(asc_nulls_last("user_id"))
    })

  /** i09 — incremental materialized-view maintenance: the log prefix
    * (event_id ≤ cutoff, as in i08) is the already-materialized base MV
    * state; the suffix is the next replication batch. The Spark side runs
    * the genuinely incremental path — aggregate ONLY the delta, merge
    * partial states by key, finalize — while the oracle recomputes the
    * aggregate over the whole log, so the hash match IS the
    * maintenance-invariant proof (incremental ≡ recompute), cross-engine.
    * ClickHouse MV + SummingMergeTree merge semantics [public]. */
  val i09: Q = Q(
    "i09_mv_incremental",
    s"""SELECT event_type, COUNT(*) AS n,
       |  ${Determinism.dsumSql("value")} AS sum_value,
       |  ${Determinism.davgSql("value")} AS avg_value
       |FROM events GROUP BY 1
       |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      import graft.api.Mv
      val e = Tables.events(s, dir).select("event_id", "event_type", "value")
      val cut = e.agg(floor(max(col("event_id")) / 2).cast("bigint").as("c"))
      val base  = e.join(broadcast(cut), col("event_id") <= col("c")).drop("c")
      val delta = e.join(broadcast(cut), col("event_id") > col("c")).drop("c")
      val keys = Seq("event_type")
      val merged = Mv.merge(keys,
        Mv.aggState(base, keys, "value"),   // persisted MV state in real use
        Mv.aggState(delta, keys, "value"))  // the only full-batch aggregate
      Mv.finalizeState(merged, keys).orderBy(asc_nulls_last("event_type"))
    })

  /** i10 — signed-retraction MV maintenance (the CollapsingMergeTree
    * analog [public: ClickHouse CollapsingMergeTree docs], completing i09's
    * insert-only path): the full log is applied as +1 states, then two
    * retraction batches are applied as −1 states — the log suffix
    * (event_id > cutoff, simulating compensating CDC deletes) and every
    * 'error' event of the prefix (a full key collapse: the 'error' state
    * must reach n = 0 and VANISH at finalize, not report a zero row).
    * The oracle recomputes the post-retraction view from scratch
    * (prefix minus 'error'), so the hash match proves
    * retraction ≡ recompute cross-engine, including the collapsed key. */
  val i10: Q = Q(
    "i10_mv_retraction",
    s"""SELECT event_type, COUNT(*) AS n,
       |  ${Determinism.dsumSql("value")} AS sum_value,
       |  ${Determinism.davgSql("value")} AS avg_value
       |FROM events
       |WHERE event_id <= (SELECT CAST(FLOOR(MAX(event_id) / 2) AS BIGINT)
       |                   FROM events)
       |  AND (event_type IS NULL OR event_type <> 'error')
       |GROUP BY 1
       |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      import graft.api.Mv
      val e = Tables.events(s, dir).select("event_id", "event_type", "value")
      val cut = e.agg(floor(max(col("event_id")) / 2).cast("bigint").as("c"))
      val suffix = e.join(broadcast(cut), col("event_id") > col("c")).drop("c")
      val prefixErr = e.join(broadcast(cut), col("event_id") <= col("c")).drop("c")
        .filter(col("event_type") === "error")
      val keys = Seq("event_type")
      val merged = Mv.merge(keys,
        Mv.aggStateSigned(e, keys, "value", lit(1)),          // inserts: full log
        Mv.aggStateSigned(suffix, keys, "value", lit(-1)),    // retract suffix
        Mv.aggStateSigned(prefixErr, keys, "value", lit(-1))) // collapse 'error'
      Mv.finalizeState(merged, keys).orderBy(asc_nulls_last("event_type"))
    })

  /** i11 — TTL lifecycle split (the MergeTree `TTL … DELETE` / `TTL … GROUP
    * BY` analog [public: ClickHouse TTL docs]): rows older than 14 days
    * behind the stream's OWN frontier (max ts — no wall clock, so the query
    * is deterministic and replayable) are "expired"; per user the expired
    * set is rolled up to count+sum (what a TTL GROUP BY keeps) while the
    * live set stays detailed. The frontier is the i08/i09 1-row broadcast
    * cutoff; everything else is one conditional hash agg — a TTL pass at
    * 100 TB is exactly this shape plus a partition-pruned rewrite of only
    * the partitions straddling the cutoff. */
  val i11: Q = Q(
    "i11_ttl_expiry",
    s"""SELECT user_id,
       |  COUNT(CASE WHEN ts < cut THEN 1 END) AS n_expired,
       |  COUNT(CASE WHEN ts >= cut THEN 1 END) AS n_live,
       |  ${Determinism.dsumSql("CASE WHEN ts < cut THEN value END")} AS sum_expired_value,
       |  ${Determinism.dsumSql("CASE WHEN ts >= cut THEN value END")} AS sum_live_value
       |FROM events, (SELECT MAX(ts) - INTERVAL 14 DAY AS cut FROM events)
       |GROUP BY user_id
       |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val e = Tables.events(s, dir)
      val cut = e.agg((max(col("ts")) - expr("INTERVAL 14 DAYS")).as("cut"))
      val expired = col("ts") < col("cut")
      e.crossJoin(broadcast(cut))
        .groupBy("user_id")
        .agg(count(when(expired, 1)).as("n_expired"),
             count(when(!expired, 1)).as("n_live"),
             Determinism.dsum(when(expired, col("value"))).as("sum_expired_value"),
             Determinism.dsum(when(!expired, col("value"))).as("sum_live_value"))
        .orderBy(asc_nulls_last("user_id"))
    })

  def ops: Vector[Q] = Vector(i01, i02, i03, i04, i05, i06, i08, i09, i10, i11)
}
