package perfbench

import org.apache.spark.sql.streaming.StreamingQuery

/** Shared read-out of the two streaming workloads. */
object Streams {

  /** Sum a query's `StreamingQueryProgress` into the streaming.* counters;
    * state size is the last batch's. */
  def progress(c: Ctx, q: StreamingQuery): Unit = {
    val ps = q.recentProgress
    ps.foreach { p =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      c.addLayer("streaming.batches", 1)
      c.addLayer("streaming.add_batch_s", d("addBatch"))
      c.addLayer("streaming.query_planning_s", d("queryPlanning"))
      c.addLayer("streaming.wal_commit_s", d("walCommit"))
      c.addLayer("streaming.commit_offsets_s", d("commitOffsets"))
      p.stateOperators.foreach { so =>
        c.addLayer("streaming.state_commit_s", so.commitTimeMs / 1e3)
        c.addLayer("streaming.state_rows_updated", so.numRowsUpdated.toDouble)
        c.addLayer("streaming.state_rows_removed", so.numRowsRemoved.toDouble)
      }
      if (p.sink != null && p.sink.numOutputRows >= 0)
        c.addLayer("streaming.output_rows", p.sink.numOutputRows.toDouble)
    }
    ps.lastOption.foreach(_.stateOperators.foreach { so =>
      c.addLayer("streaming.state_rows", so.numRowsTotal.toDouble)
      c.addLayer("streaming.state_bytes", so.memoryUsedBytes.toDouble)
    })
  }

  /** The workload figures beyond the contract's end-to-end set: medians
    * (and the tail of the FINAL reads) of the named sample families. */
  def figures(c: Ctx, names: Seq[String]): Unit = names.foreach { n =>
    c.samples.get(n).filter(_.nonEmpty).foreach { xs =>
      val s = xs.toSeq
      val out: Seq[(String, Double)] = n match {
        case "snapshot" => Seq("connectors.snapshot_s" -> Report.median(s))
        case "final_read" => Seq("connectors.final_read_s.p50" -> Report.median(s),
          "connectors.final_read_s.tail" -> Report.pct(s, 90))
        case "compact" => Seq("connectors.compact_s" -> Report.median(s))
        case "stored_bytes_per_event_byte" =>
          Seq("connectors.stored_bytes_per_event_byte" -> Report.median(s))
        case "binlog_events_per_s" => Seq("connectors.events_per_s" -> Report.median(s))
        case "fold_events_per_s" => Seq("streaming.events_per_s" -> Report.median(s))
      }
      out.foreach { case (k, v) =>
        c.figures(k) = (v, Workloads.unitOf(k))
        c.layer(k) = v
      }
    }
  }
}
