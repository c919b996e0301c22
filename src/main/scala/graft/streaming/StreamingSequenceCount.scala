package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming sequenceCount: the unbounded-stream counterpart of the batch
  * j08 query — per-user running count of non-overlapping open→close event
  * chains (ClickHouse `sequenceCount('(?1).*(?2)')` analog [public: CH
  * docs]).
  *
  * Where the batch form uses the bracket-matching identity to avoid state
  * (count = totalB − max prefix excess, one window pass), the streaming
  * form keeps the bracket machine itself: per user a (open, matched) pair
  * — TWO longs, regardless of how many events the user ever produces.
  * That bounded-state property is exactly why the greedy/bracket semantic
  * is the production choice for unbounded streams: the "best possible"
  * retrospective matching would need the whole history, the greedy one
  * needs a counter. The two agree on every complete log — pinned in
  * StreamingSpec against the same brute-force greedy scan that
  * PropertiesSpec proves equal to j08's closed form.
  *
  * Ordering contract: cross-batch order is arrival order (the stream's
  * truth); within a micro-batch, rows are sorted by (ts_micros, event_id)
  * so a batch boundary never reorders a user's events relative to the
  * batch-at-once result. A per-batch sort of ONE user's slice is the same
  * bounded work every funnel/session operator does; no cross-user or
  * cross-batch buffering exists.
  *
  * Emits the updated running count for each user touched by the batch
  * (Update-mode shape — downstream sinks upsert on user_id). `ttl` bounds
  * state for cold users; an expired user restarts from (0, 0), which
  * undercounts straddling chains — the standard TTL trade, document per
  * deployment (same posture as LatestPerKeyProcessor).
  */
object StreamingSequenceCount {

  final case class EventIn(user_id: Long, ts_micros: Long, event_id: Long,
                           event_type: String)
  final case class ChainState(open: Long, matched: Long)
  final case class ChainCount(user_id: Long, open: Long, n_chains: Long)

  /** Per-user running chain counts over an unbounded event stream (needs the
    * RocksDB state store provider, like every transformWithState operator
    * here). */
  def chainCounts(events: Dataset[EventIn],
                  openType: String = "signup", closeType: String = "purchase",
                  ttl: TTLConfig = TTLConfig.NONE)
                 (implicit s: SparkSession): Dataset[ChainCount] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "chain", ttl) {
      (key, prior: Option[ChainState], rows) =>
        var st = prior.getOrElse(ChainState(0L, 0L))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          if (e.event_type == openType) st = ChainState(st.open + 1, st.matched)
          else if (e.event_type == closeType && st.open > 0)
            st = ChainState(st.open - 1, st.matched + 1)
        }
        (Some(st), Iterator.single(ChainCount(key, st.open, st.matched)))
    }
  }

  // -------------------------------------------------------------------
  // Time-bounded span-disjoint counting: the streaming twin of
  // SequenceMatch.countChainsBounded (batch consumer: j18).
  // -------------------------------------------------------------------

  final case class BoundedState(bestA: Long, n: Long, nEvents: Long)
  final case class BoundedCount(user_id: Long, n_chains: Long, n_events: Long)

  /** Per-user running span-disjoint bounded chain count — defaults mirror
    * the batch j18 (signup→click within 4 hours). The streaming twin of
    * [[graft.operators.SequenceMatch.countChainsBounded]]: span-disjoint
    * time-bounded A→B chains counted by the SAME 2-long restart
    * automaton the batch fold runs — best-opener-since-restart (LATEST
    * A for upper bounds, EARLIEST for lower) + count — so it streams by
    * construction; the fold is already a left fold in (ts, tie) order.
    * In-order delivery ⇒ emissions equal the batch j18 exactly (pinned
    * across a batch cut in StreamingSpec). Rejects an `op` outside
    * {<=, <, >, >=} when the query is built. */
  def boundedChainCounts(events: Dataset[EventIn],
                         typeA: String = "signup", typeB: String = "click",
                         op: String = "<=",
                         boundMicros: Long = 14400L * 1000000L,
                         ttl: TTLConfig = TTLConfig.NONE)
                        (implicit s: SparkSession): Dataset[BoundedCount] = {
    import s.implicits._
    require(Set("<=", "<", ">", ">=")(op), s"unsupported time operator '$op'")
    val upper = op == "<=" || op == "<"
    // max-mode sentinel −2^62 / min-mode +2^62 — the batch fold's values
    val sent = if (upper) -4611686018427387904L else 4611686018427387904L
    def isSet(bestA: Long): Boolean = if (upper) bestA > sent else bestA < sent
    def gapOk(bestA: Long, t: Long): Boolean = op match {
      case "<=" => t <= bestA + boundMicros
      case "<"  => t < bestA + boundMicros
      case ">"  => t > bestA + boundMicros
      case ">=" => t >= bestA + boundMicros
    }
    StreamOps.keyedFold(events.groupByKey(_.user_id), "boundedchain", ttl) {
      (key, prior: Option[BoundedState], rows) =>
        var st = prior.getOrElse(BoundedState(sent, 0L, 0L))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          // B-check BEFORE the A-update (an event cannot chain with itself)
          if (e.event_type == typeB && isSet(st.bestA) &&
              gapOk(st.bestA, e.ts_micros))
            st = st.copy(bestA = sent, n = st.n + 1L)
          else if (e.event_type == typeA)
            st = st.copy(bestA =
              if (!isSet(st.bestA)) e.ts_micros
              else if (upper) math.max(st.bestA, e.ts_micros)
              else math.min(st.bestA, e.ts_micros))
          st = st.copy(nEvents = st.nEvents + 1L)
        }
        (Some(st), Iterator.single(BoundedCount(key, st.n, st.nEvents)))
    }
  }
}
