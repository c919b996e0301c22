package graft.connectors

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types.StructType

/** MySQL→ClickHouse-style replication of a whole schema (one table
  * included) through ONE binlog stream into per-table replicas — the
  * reference domain's core use-case as one surface:
  *
  *  1. [[bootstrapDdl]] — CREATE each sink table through the §1.2 type
  *     matrix (ReplacingMergeTree versioned by the event timestamp, the
  *     engine whose FINAL semantics equal the latest-per-key collapse);
  *     schema changes mid-stream go through [[DdlPropagate]] per table.
  *  2. [[snapshotEvents]] — the initial bulk copy as synthetic 'c' events
  *     at position 0, so seed and tail share ONE code path.
  *  3. [[start]] — the continuous tail: latest-per-(table, key) state
  *     machine (tombstones INCLUDED, so deletes reach the sink) into the
  *     idempotent per-batch sink (a replayed batch id overwrites its own
  *     output — at-least-once delivery collapses to exactly-once state,
  *     the same contract a ReplacingMergeTree insert gives).
  *  4. [[materializedState]] — read one table back and collapse, which is
  *     what ClickHouse's `FINAL` does at query time.
  *
  * Why one stream, not one per table: the binlog is a single totally
  * ordered log; its row events interleave across tables but share the one
  * `position` sequence. Running per-table streams would need N checkpoints
  * whose positions drift apart — after a crash there is no single offset
  * to resume the source from. Here ONE checkpointed query owns the whole
  * schema: state is keyed by (table, key) — one stateful operator, one
  * shuffle, however many tables — and each micro-batch commits every
  * table's changes atomically with the stream's offset log, so
  * [[committedPosition]] is a single resume watermark for the whole
  * schema.
  *
  * Scale: state remains one row per live (table, key); the per-batch sink
  * shuffles only changed rows and partitions them by table (directory per
  * table per batch — the per-table INSERT a ClickHouse sink would issue);
  * adding a table adds state rows, not operators. The snapshot phase is a
  * plain partitioned batch read (Jdbc.scala's partitionColumn bounds).
  *
  * THE REPLICATOR INVARIANT (ConnectorsSpec, interleaved two-table
  * scenario with snapshot, updates, deletes, a post-snapshot key and a
  * stale event): for every table t,
  * `materializedState(outDir, t) == CdcCollapse.effectiveState(snapshot
  * ++ log where table = t)` — the streamed, checkpointed, batch-committed
  * pipeline lands in exactly the state a from-scratch log replay computes,
  * deletes included, and fan-out never leaks events across tables.
  */
object SchemaReplicator {

  /** CREATE TABLE per schema table: ReplacingMergeTree versioned by
    * `tsMicros` and ordered by the replication key — FINAL on that table
    * IS the latest-per-key collapse. */
  def bootstrapDdl(tables: Map[String, (StructType, Seq[String])]): Map[String, String] =
    tables.map { case (t, (schema, orderBy)) =>
      t -> ClickHouseDdl.createTable(
        t, schema, ClickHouseDdl.ReplacingMergeTree(Some("tsMicros")), orderBy)
    }

  /** Snapshot rows of one table as synthetic creates at position 0 / ts 0:
    * any real binlog event for the key (position ≥ 1) wins over the seed,
    * so snapshot-then-tail needs no fencing. */
  def snapshotEvents(table: String, rows: Dataset[(Long, String)])
                    (implicit s: SparkSession): Dataset[TableCdcEvent] = {
    import s.implicits._
    rows.map { case (key, payload) => TableCdcEvent(table, key, 0L, 0L, "c", payload) }
  }

  /** Latest-per-(table, key) streaming state machine: the newest event
    * by (tsMicros, position) wins and is emitted only when it changes the
    * key's state, tombstones included so deletes reach every table's sink.
    * It mirrors [[CdcCollapse.latestPerKey]]. */
  def latestPerTableKeyStream(events: Dataset[TableCdcEvent])
                             (implicit s: SparkSession): Dataset[TableCdcEvent] = {
    import s.implicits._
    events
      .groupByKey(e => (e.table, e.key))
      .flatMapGroupsWithState[TableCdcEvent, TableCdcEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (String, Long), incoming: Iterator[TableCdcEvent],
         state: GroupState[TableCdcEvent]) =>
          val newest = (state.getOption.iterator ++ incoming)
            .maxBy(e => (e.tsMicros, e.position))
          val changed = state.getOption.forall(prev =>
            (newest.tsMicros, newest.position) != (prev.tsMicros, prev.position))
          state.update(newest)
          if (changed) Iterator.single(newest) else Iterator.empty
      }
  }

  /** The continuous schema tail: one checkpointed query, per-batch output
    * partitioned by table (`batch_N/table=t/`), idempotent per batch id. */
  def start(events: Dataset[TableCdcEvent], outDir: String, checkpointDir: String)
           (implicit s: SparkSession): StreamingQuery =
    latestPerTableKeyStream(events).toDF()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").partitionBy("table")
          .parquet(s"$outDir/batch_$batchId")
      }
      .start()

  private def committedBatches(outDir: String): Seq[String] =
    Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .map(_.getPath).toIndexedSeq

  /** All committed batches as one frame (with the `table` partition
    * column). Each batch root is its own partitioned dataset, so each is
    * read against its own basePath and the batches union — batch count is
    * bounded by compaction in a real deployment, and per-table filters
    * still prune to `table=t` directories inside every batch. */
  private def readCommitted(outDir: String)
                           (implicit s: SparkSession): Option[org.apache.spark.sql.DataFrame] = {
    val batches = committedBatches(outDir)
    if (batches.isEmpty) None
    else {
      // explicit schema: an all-no-op micro-batch commits an EMPTY batch dir
      // (no table= partitions, nothing to infer a schema from) — it must
      // read as zero rows, not fail inference
      val sch = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.Encoders.product[CdcEvent].schema.fields :+
        org.apache.spark.sql.types.StructField(
          "table", org.apache.spark.sql.types.StringType))
      Some(batches.map(b => s.read.schema(sch).option("basePath", b).parquet(b))
        .reduce(_.unionByName(_)))
    }
  }

  /** One table's replica state: read the committed batches, restrict to the
    * table (partition pruning — the scan lists only `table=t` directories),
    * collapse. Empty replica (no batch yet) is an empty state. */
  def materializedState(outDir: String, table: String)
                       (implicit s: SparkSession): Dataset[CdcEvent] = {
    import s.implicits._
    readCommitted(outDir) match {
      case None => s.emptyDataset[CdcEvent]
      case Some(df) => CdcCollapse.effectiveState(
        df.where(org.apache.spark.sql.functions.col("table") === table)
          .select("key", "position", "tsMicros", "op", "payload")
          .as[CdcEvent])
    }
  }

  /** Compact the replica's batch history into one consolidated batch — the
    * ClickHouse merge-parts analog. [[readCommitted]]'s union grows with
    * batch count, so a long-running replica compacts periodically.
    *
    * The compacted batch holds the latest event per (table, key) with
    * tombstones RETAINED: `materializedState` applies the tombstone drop at
    * READ time, and a compaction that dropped 'd' rows would let any
    * earlier event for the key (arriving through an at-least-once replay)
    * resurrect it. Retaining the tombstone preserves
    * `effectiveState(compacted) == effectiveState(history)` under any
    * idempotent replay — asserted in ConnectorsSpec.
    *
    * Crash-safe ordering: write the merged batch to a temp dir
    * (materialized before anything is removed), rename it into the
    * `batch_` namespace — from that instant reads see old AND new rows,
    * which latest-per-key collapse makes harmless — then delete the old
    * batch dirs. A crash at any step leaves a readable replica.
    *
    * `committedPosition` may REGRESS across compaction (the globally
    * max-position event can be superseded within its key by a later-ts
    * event and thus not retained); resuming from the regressed watermark
    * re-pulls events the latest-wins collapse already absorbs — safe by
    * the replicator invariant. */
  def compact(outDir: String)(implicit s: SparkSession): Unit =
    readCommitted(outDir) match {
      case None => ()
      case Some(df) =>
        val before = committedBatches(outDir)
        val latest = df
          .groupBy(org.apache.spark.sql.functions.col("table"),
                   org.apache.spark.sql.functions.col("key"))
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.struct("tsMicros", "position",
                                                  "op", "payload")).as("__e"))
          .select(org.apache.spark.sql.functions.col("key"),
                  org.apache.spark.sql.functions.col("__e.position").as("position"),
                  org.apache.spark.sql.functions.col("__e.tsMicros").as("tsMicros"),
                  org.apache.spark.sql.functions.col("__e.op").as("op"),
                  org.apache.spark.sql.functions.col("__e.payload").as("payload"),
                  org.apache.spark.sql.functions.col("table"))
        val tmp = new java.io.File(outDir, ".compact_tmp")
        latest.write.mode("overwrite").partitionBy("table")
          .parquet(tmp.getPath)
        // the time-travel horizon this compaction establishes: every event
        // at position <= horizon may have been folded away, so PITR below
        // it is unanswerable. Computed over the PRE-fold history (the
        // retained max can regress — see committedPosition note) and
        // stamped as a hidden marker file inside the batch (underscore
        // prefix: parquet dir scans skip it) BEFORE the rename, so the
        // marker and the fold become visible atomically together.
        // coalesce to 0 (the committedPosition convention): committed
        // batches can hold zero rows, and a bare max would be NULL —
        // getLong on it NPEs mid-compaction, after tmp is written
        val horizon = df
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.max("position"),
            org.apache.spark.sql.functions.lit(0L)))
          .collect().head.getLong(0)
        val prior = compactionHorizon(outDir)
        new java.io.File(tmp, s"_horizon_${math.max(horizon, prior)}").createNewFile()
        val gen = before.map(b => new java.io.File(b).getName)
          .flatMap(n => "\\d+".r.findFirstIn(n)).map(_.toLong)
          .foldLeft(0L)(math.max)
        // gen+1 so a re-compaction (whose input includes the previous
        // compacted dir) never renames onto an existing name
        val target = new java.io.File(outDir, s"batch_${gen + 1}_compacted")
        require(tmp.renameTo(target), s"compaction rename failed: $tmp -> $target")
        def rmRec(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
          f.delete(); ()
        }
        before.foreach(b => rmRec(new java.io.File(b)))
    }

  /** The replica's compaction horizon: the highest binlog position any
    * [[compact]] run has folded history up to (0 = never compacted).
    * Point-in-time reads BELOW the horizon are unanswerable — the events
    * that distinguish those states were merged away. */
  def compactionHorizon(outDir: String): Long =
    committedBatches(outDir).flatMap { b =>
      Option(new java.io.File(b).listFiles()).getOrElse(Array.empty)
        .map(_.getName).collect {
          case n if n.startsWith("_horizon_") => n.stripPrefix("_horizon_").toLong
        }
    }.foldLeft(0L)(math.max)

  /** Point-in-time replica read: one table's effective state as of binlog
    * position `maxPosition` INCLUSIVE — the collapse of the committed log
    * prefix. The binlog is a total order, so every prefix is a consistent
    * snapshot; because batches retain EVENTS (not folded states), PITR is
    * free until [[compact]] folds history — compaction trades time-travel
    * depth before its horizon for read cost, the usual log-retention
    * decision.
    *
    * A read BEHIND the horizon throws rather than answer from folded
    * history: the compacted batch keeps only the latest event per key, so
    * filtering it by `position <= maxPosition` would silently DROP every
    * key whose pre-horizon events were superseded — a state that never
    * existed. Loud beats plausible-but-wrong (ConnectorsSpec pins both
    * sides of the boundary). */
  def materializedStateAt(outDir: String, table: String, maxPosition: Long)
                         (implicit s: SparkSession): Dataset[CdcEvent] = {
    import s.implicits._
    val horizon = compactionHorizon(outDir)
    if (maxPosition < horizon)
      throw new IllegalArgumentException(
        s"point-in-time read at position $maxPosition is behind the compaction " +
          s"horizon $horizon: that history was folded away; retain more log " +
          "(compact less often) if you need deeper time travel")
    readCommitted(outDir) match {
      case None => s.emptyDataset[CdcEvent]
      case Some(df) =>
        import org.apache.spark.sql.functions.col
        CdcCollapse.effectiveState(
          df.where(col("table") === table && col("position") <= maxPosition)
            .select("key", "position", "tsMicros", "op", "payload")
            .as[CdcEvent])
    }
  }

  /** The schema's single resume watermark: the highest binlog position any
    * committed batch contains, across ALL tables (the log is one sequence,
    * so this is THE offset to restart the source from; 0 = nothing
    * committed, resume from the snapshot). */
  def committedPosition(outDir: String)(implicit s: SparkSession): Long = {
    import org.apache.spark.sql.functions._
    readCommitted(outDir)
      .map(_.agg(coalesce(max("position"), lit(0L))).collect().head.getLong(0))
      .getOrElse(0L)
  }
}
