package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.connectors.CdcEvent

/** SURVEY §2.2 streaming surface — true unbounded execution.
  *
  * Each operator takes a (possibly streaming) DataFrame and stays fully
  * declarative, so the identical code path serves `readStream` sources in
  * production and MemoryStream in tests. The batch-equivalent semantics of
  * the windowed operators are pinned by the j-block oracle queries; these
  * add the incremental parts: watermarks, state, and upsert output.
  *
  * Every single-`ValueState` twin in this package (the `Streaming*`
  * objects) is one [[keyedFold]] call: the twin writes only its per-key
  * fold step, and [[keyedFold]] owns every state decision. Seven
  * processors stay outside it:
  *  - `StreamingBigramLm` (a ValueState plus a MapState) and
  *    `StreamingQualityBuckets` (a MapState) keep keyed maps;
  *  - `StreamingNearDedup` (×2) and `StreamingPpJoin` append to a
  *    ListState;
  *  - `StreamingSessionClose` closes sessions on event-time timers;
  *  - [[LatestPerKeyProcessor]] runs in Append mode and is kept
  *    line-for-line beside its `flatMapGroupsWithState` twin
  *    [[latestPerKeyStream]], which the StreamingSpec drives through
  *    the same scenario.
  */
object StreamOps {

  /** TTL requires processing-time semantics; NONE runs timeless. Shared by
    * every stateful operator in this package so time policy cannot drift
    * per-operator. */
  private[streaming] def timeModeFor(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** Per-key fold over a grouped stream with one named `ValueState[S]`
    * (needs the RocksDB state store provider, like every
    * transformWithState operator here). `step(key, prior, rows)` folds
    * one micro-batch of a key's rows into `(next, out)`, and the state
    * contract is decided here, once, for every twin:
    *  - the state is read exactly once per key per micro-batch (`prior`,
    *    `None` for a key never seen or expired by its TTL);
    *  - `next = None` leaves the state untouched;
    *  - `next = Some(s)` is written only when `s != prior` — so a replayed
    *    batch of an idempotent fold (min/max, set insert) writes nothing —
    *    or on every batch when a TTL is set: transformWithState refreshes
    *    a state's TTL on update, not on read, so a hot key whose state is
    *    stable would otherwise expire mid-traffic. A state holding
    *    arrays compares by reference, so it is written on every batch
    *    that touches its key.
    * `out` is returned after the write, as the operator's rows for this
    * key, in output `mode` (Update: the twins' per-key upsert shape;
    * StreamingConcurrency's once-per-interval rows use Append).
    * `stateName` names the state variable in the checkpoint; a non-NONE
    * `ttl` switches the query to processing time ([[timeModeFor]]), where
    * Spark runs a no-data micro-batch on every trigger, so a TTL'd query
    * wants a trigger interval. */
  def keyedFold[K, I, S, O](grouped: KeyValueGroupedDataset[K, I],
                            stateName: String, ttl: TTLConfig,
                            mode: OutputMode = OutputMode.Update())
                           (step: (K, Option[S], Iterator[I]) =>
                             (Option[S], Iterator[O]))
                           (implicit stateEnc: Encoder[S],
                            outEnc: Encoder[O]): Dataset[O] =
    grouped.transformWithState(
      new KeyedFoldProcessor(stateName, ttl, stateEnc, step),
      timeModeFor(ttl), mode)

  /** The one StatefulProcessor behind [[keyedFold]]. */
  private final class KeyedFoldProcessor[K, I, S, O](
      stateName: String, ttl: TTLConfig, stateEnc: Encoder[S],
      step: (K, Option[S], Iterator[I]) => (Option[S], Iterator[O]))
      extends StatefulProcessor[K, I, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](stateName, stateEnc, ttl)

    override def handleInputRows(key: K, rows: Iterator[I],
                                 timerValues: TimerValues): Iterator[O] = {
      val prior = Option(st.get())
      val (next, out) = step(key, prior, rows)
      next.foreach(n =>
        if (ttl != TTLConfig.NONE || !prior.contains(n)) st.update(n))
      out
    }
  }

  /** Tumbling-window counts+sums with a watermark: late rows beyond
    * `lateness` are dropped once the watermark passes the window end. */
  def tumblingAgg(events: DataFrame, lateness: String = "10 minutes",
                  window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))

  /** Streaming dedup on a key with bounded state (watermark evicts). */
  def dedup(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicates("user_id", "event_id")

  /** Streaming sessionization: 30-min-gap session windows per user. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
              col("session_window.end").as("s_end"), col("n_events"))

  /** Stateful latest-per-key upsert over a CDC stream: emits the new
    * effective row whenever a key's latest event changes. By default
    * tombstoned keys emit nothing further (a pure upsert view); with
    * `emitTombstones` the winning delete event itself is emitted so a
    * downstream sink can collapse the key away (the shape a replicator
    * needs — see graft.connectors.Replicator, whose materialized-state
    * invariant depends on deletes reaching the sink). The state machine
    * mirrors CdcCollapse exactly. */
  def latestPerKeyStream(events: Dataset[CdcEvent], emitTombstones: Boolean = false)
                        (implicit s: SparkSession): Dataset[CdcEvent] = {
    import s.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[CdcEvent, CdcEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, incoming: Iterator[CdcEvent], state: GroupState[CdcEvent]) =>
          val newest = (state.getOption.iterator ++ incoming)
            .maxBy(e => (e.tsMicros, e.position))
          val changed = state.getOption.forall(prev =>
            (newest.tsMicros, newest.position) != (prev.tsMicros, prev.position))
          state.update(newest)
          if (changed && (emitTombstones || newest.op != "d")) Iterator.single(newest)
          else Iterator.empty
      }
  }

  /** The same latest-per-key state machine on Spark 4's transformWithState
    * API (the successor to flatMapGroupsWithState: named state variables,
    * TTL, timers; requires the RocksDB state store provider). Kept
    * behaviorally identical to [[latestPerKeyStream]] — the StreamingSpec
    * drives both through the same scenario.
    *
    * `ttl` bounds state for long-running CDC streams with churn: without it,
    * tombstoned ('d') keys park a ValueState entry forever. Production
    * deployments should pass a TTL at least as long as the source's maximum
    * replay window (an expired key that reappears is re-created, which is
    * correct for upsert semantics); the NONE default keeps tests exact. */
  final class LatestPerKeyProcessor(ttl: TTLConfig = TTLConfig.NONE,
                                    emitTombstones: Boolean = false)
      extends StatefulProcessor[Long, CdcEvent, CdcEvent] {
    @transient private var latest: ValueState[CdcEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[CdcEvent](
        "latest", Encoders.product[CdcEvent], ttl)

    override def handleInputRows(key: Long, rows: Iterator[CdcEvent],
                                 timerValues: TimerValues): Iterator[CdcEvent] = {
      val prev = Option(latest.get())
      val newest = (prev.iterator ++ rows).maxBy(e => (e.tsMicros, e.position))
      val changed = prev.forall(p =>
        (newest.tsMicros, newest.position) != (p.tsMicros, p.position))
      latest.update(newest)
      if (changed && (emitTombstones || newest.op != "d")) Iterator.single(newest)
      else Iterator.empty
    }
  }

  /** latestPerKeyStream via transformWithState (needs
    * `spark.sql.streaming.stateStore.providerClass` = RocksDB provider).
    * A non-NONE `ttl` requires processing-time semantics, so TimeMode
    * follows the TTL choice. */
  def latestPerKeyTws(events: Dataset[CdcEvent], ttl: TTLConfig = TTLConfig.NONE,
                      emitTombstones: Boolean = false)
                     (implicit s: SparkSession): Dataset[CdcEvent] = {
    import s.implicits._
    events
      .groupByKey(_.key)
      .transformWithState(new LatestPerKeyProcessor(ttl, emitTombstones),
                          timeModeFor(ttl), OutputMode.Append())
  }

  /** Stream-stream interval join: each left event enriched with right events
    * for the same key whose timestamp falls within [left.ts − window,
    * left.ts] — the streaming analog of the c11 as-of join. Both sides carry
    * watermarks so the join state is bounded: right rows older than the
    * interval get evicted once the watermark passes. NOTE the global
    * watermark is the MIN across both inputs — state is only bounded while
    * BOTH sources keep advancing (verified empirically: a stalled right
    * stream pins the watermark and late rows keep joining). Columns: left
    * must have (user_id, ts, …), right pre-renamed to (r_user, r_ts, …). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   window_ : String = "1 hour",
                   lateness: String = "10 minutes"): DataFrame =
    left.withWatermark("ts", lateness)
      .join(right.withWatermark("r_ts", lateness),
            expr(s"user_id = r_user AND r_ts <= ts AND r_ts >= ts - interval $window_"))

  /** Exactly-once-effective sink: foreachBatch + idempotent per-batch
    * parquet commit (a replayed batchId overwrites its own directory, so
    * at-least-once delivery collapses to exactly-once output — the same
    * contract a ReplacingMergeTree insert gives the ClickHouse sink). */
  def startParquetUpsertSink(df: DataFrame, outDir: String,
                             checkpointDir: String,
                             mode: OutputMode = OutputMode.Update)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
      .start()

  /** One micro-batch step of streaming MV maintenance: merge the batch's
    * partial-aggregate delta into the state AS OF the previous batch and
    * write it as `state_v<batchId>`. Versioning by batchId is what makes
    * at-least-once delivery safe for the NON-idempotent scalar states
    * (count/sum monoids add again on replay): a replayed batch N re-reads
    * state_v(N−1) — never its own partial output — and overwrites
    * state_vN, so replay ≡ first run. Versions older than the immediate
    * predecessor are retired (the checkpoint can only replay the last
    * uncommitted batch). Exposed for the replay-idempotence spec. */
  private[graft] def mvApplyBatch(batch: DataFrame, batchId: Long,
                                      keys: Seq[String], valueCol: String,
                                      stateDir: String,
                                      signCol: Option[String] = None): Unit = {
    import graft.api.Mv
    val s = batch.sparkSession
    val delta = signCol match {
      case Some(sc) => Mv.aggStateSigned(batch, keys, valueCol, col(sc))
      case None => Mv.aggState(batch, keys, valueCol)
    }
    // only COMMITTED versions (post-rename, _SUCCESS present) are merge
    // sources — a replayed or crashed batch must never read a torn state
    val versions = committedVersions(stateDir)
    val prev = versions.filter(_ < batchId).sorted.lastOption
    val merged = prev match {
      case Some(v) => Mv.merge(keys, s.read.parquet(s"$stateDir/state_v$v"), delta)
      case None => delta
    }
    // write-audit-publish (the repo's Publish discipline): materialize into
    // a dot-prefixed temp dir (invisible to the version regex AND to
    // Spark's file listing), then rename into place — on a local FS the
    // rename is atomic, so a concurrent readMv sees either the old state
    // or the complete new one, never a partially-written directory. (On an
    // object store, swap the rename for the store's commit protocol.)
    def rmRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
      f.delete(); ()
    }
    val tmp = new java.io.File(stateDir, s".state_v${batchId}_tmp")
    if (tmp.exists()) rmRec(tmp)
    merged.write.mode("overwrite").parquet(tmp.getPath)
    val target = new java.io.File(stateDir, s"state_v$batchId")
    if (target.exists()) rmRec(target) // replayed batch: replace wholesale
    require(tmp.renameTo(target), s"atomic state publish failed: $tmp -> $target")
    versions.filter(v => prev.exists(v < _)).foreach(v =>
      rmRec(new java.io.File(stateDir, s"state_v$v")))
  }

  /** State versions under `stateDir` whose directory carries the
    * `_SUCCESS` marker — i.e. fully written AND atomically renamed into
    * place. A crashed or in-flight writer leaves either a dot-prefixed
    * temp dir (not matched) or a markerless dir (filtered here), so
    * readers can never resolve a torn version. */
  private def committedVersions(stateDir: String): IndexedSeq[Long] =
    Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty).toIndexedSeq
      .flatMap(f => "^state_v(\\d+)$".r.findFirstMatchIn(f.getName)
                      .map(m => m.group(1).toLong))
      .filter(v => new java.io.File(stateDir, s"state_v$v/_SUCCESS").exists())

  /** Streaming incremental MV maintenance — the end-to-end form of the
    * i09/i10 batch algebra: each micro-batch is aggregated ALONE (one hash
    * agg over the delta, map-side combined) and merged into the keyed
    * partial-aggregate state ([[graft.api.Mv]]); the base table is never
    * re-scanned. This is the ClickHouse MV-over-Kafka shape on Structured
    * Streaming. Read the current view with [[readMv]].
    *
    * `signCol` (+1 insert / −1 retraction per row) switches the delta onto
    * the CollapsingMergeTree-style signed states (i10's algebra): a CDC
    * stream carrying compensating deletes maintains the MV exactly, and a
    * key whose state collapses to zero vanishes from [[readMv]]. The
    * versioned-state replay guarantee applies unchanged — retraction
    * batches are add-once monoid sums too. */
  def startMvMaintenanceSink(rows: DataFrame, keys: Seq[String], valueCol: String,
                             stateDir: String, checkpointDir: String,
                             signCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mvApplyBatch(batch.toDF(), batchId, keys, valueCol, stateDir, signCol)
      }
      .start()

  /** Resolve the streaming MV's current state to the user-facing view —
    * the latest COMMITTED version (`_SUCCESS` present; torn or in-flight
    * directories are invisible thanks to [[committedVersions]] + the
    * temp-dir-then-rename publish in [[mvApplyBatch]], so a reader racing
    * a writer resolves the previous committed state instead of failing). */
  def readMv(stateDir: String, keys: Seq[String])
            (implicit s: org.apache.spark.sql.SparkSession): DataFrame = {
    val versions = committedVersions(stateDir)
    require(versions.nonEmpty, s"no committed MV state under $stateDir")
    graft.api.Mv.finalizeState(
      s.read.parquet(s"$stateDir/state_v${versions.max}"), keys)
  }

  /** Stream–static enrichment with a REFRESHING dimension: join each
    * micro-batch against the parquet dimension read fresh per batch, so a
    * dimension republished between batches (the Publish swap, a
    * nightly-rebuilt lookup) is picked up at the NEXT micro-batch with no
    * restart — the semantics Spark's plan-time stream-static join cannot
    * give (it binds the static side's file listing once at query start).
    * Per-batch semantics stay deterministic: one consistent dimension
    * version per batch, never mid-batch mixing. Left join — facts with no
    * dimension row pass through with NULL enrichment (dropping them would
    * silently lose late-keyed facts). The dimension is a lookup table:
    * small enough to broadcast per batch; a fact-sized "dimension" belongs
    * in a stream-stream join instead. */
  def startEnrichedSink(facts: DataFrame, dimPath: String, key: String,
                        outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dim = broadcast(batch.sparkSession.read.parquet(dimPath))
        batch.join(dim, Seq(key), "left")
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
      .start()
}
