package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming time-constrained sequence match: the unbounded-stream twin of
  * the batch `j12_sequence_match_time` (`(?1)(?t<=N)(?2)`) and
  * `j13_sequence_match_cooldown` (`(?1)(?t>N)(?2)`) declared queries —
  * the two-step forms the [[graft.operators.SequenceMatch]] compiler
  * emits as running-max / running-min window plans.
  *
  * The batch closed forms ARE the streaming state: an upper-bound
  * constraint is decided by each B-event's NEAREST preceding A (one
  * running max = the LAST A seen), a lower-bound one by the EARLIEST
  * preceding A (one running min = the FIRST A seen). So per-key state is
  * exactly (lastA, firstA, hit, nHits, nEvents) — five scalars,
  * independent of stream length, the same bounded-state class as the
  * funnel family.
  *
  * Ordering contract (shared by the family): cross-batch order is arrival
  * order; within a micro-batch rows sort by (ts_micros, event_id). With
  * in-order delivery the first/last-A running extrema equal the batch
  * window's, so emissions match the batch queries exactly (pinned in
  * StreamingSpec against j12 AND j13 across a batch cut). An A arriving
  * LATE (out of timestamp order) narrows/widens the extrema differently
  * than the batch rule — the standard watermark trade, same as
  * StreamingRetention's anchor. A B-event is checked BEFORE any A-update
  * from the same row (the batch frame is `1 PRECEDING`, excluding the
  * current row — an event can't precede itself).
  */
object StreamingSequenceMatch {

  final case class EIn(user_id: Long, ts_micros: Long, event_id: Long,
                       event_type: String)
  final case class SeqState(lastA: Long, firstA: Long, hit: Int,
                            nHits: Long, nEvents: Long)
  final case class SeqOut(user_id: Long, matched: Int, n_hits: Long,
                          n_events: Long)

  private val Unset = Long.MinValue

  /** Per-user running match state over an unbounded event stream (RocksDB
    * state store provider required). Defaults mirror the batch j12:
    * signup → purchase within one hour. `op` ∈ "<=", "<", ">", ">=" — the
    * time constraint of the pattern `(?A)(?t OP boundSeconds)(?B)`,
    * µs-exact like the batch forms; any other `op` is rejected when the
    * query is built. */
  def matched(events: Dataset[EIn],
              typeA: String = "signup", typeB: String = "purchase",
              op: String = "<=", boundMicros: Long = 3600L * 1000000L,
              ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[SeqOut] = {
    import s.implicits._
    require(Set("<=", "<", ">", ">=")(op), s"unsupported time operator '$op'")
    // a local def must not touch the object's members (Unset): that would
    // make it an instance method and ship the object inside the fold
    def gapOk(prevA: Long, ts: Long): Boolean = op match {
      case "<=" => ts <= prevA + boundMicros
      case "<"  => ts < prevA + boundMicros
      case ">"  => ts > prevA + boundMicros
      case ">=" => ts >= prevA + boundMicros
    }
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqmatch", ttl) {
      (key, prior: Option[SeqState], rows) =>
        var st = prior.getOrElse(SeqState(Unset, Unset, 0, 0L, 0L))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          if (e.event_type == typeB) {
            val prev = if (op == "<=" || op == "<") st.lastA else st.firstA
            if (prev != Unset && gapOk(prev, e.ts_micros))
              st = st.copy(hit = 1, nHits = st.nHits + 1L)
          }
          if (e.event_type == typeA) {
            val first = if (st.firstA == Unset) e.ts_micros else st.firstA
            st = st.copy(lastA = e.ts_micros, firstA = first)
          }
          st = st.copy(nEvents = st.nEvents + 1L)
        }
        (Some(st), Iterator.single(SeqOut(key, st.hit, st.nHits, st.nEvents)))
    }
  }

  // -------------------------------------------------------------------
  // Position patterns (steps / .* gaps / adjacency runs): the streaming
  // NFA the compiler's batch window plans correspond to.
  // -------------------------------------------------------------------

  final case class NfaState(ever: Int, last: Int, nEvents: Long)
  final case class NfaOut(user_id: Long, matched: Int, n_events: Long)

  /** Per-user running pattern-match flag for a position pattern over an
    * unbounded event stream — the streaming twin of
    * [[graft.operators.SequenceMatch.withMatch]]'s subsequence/run plans
    * (pinned equal to batch j07 and j14 across a batch cut in
    * StreamingSpec).
    *
    * The pattern compiles to a per-key NFA (any mix of steps, `.*` gaps,
    * and adjacency runs — the same grammar
    * [[graft.operators.SequenceMatch.parse]] accepts minus time
    * constraints, which [[matched]] and [[foldMatched]] handle). State per
    * key is TWO INT BITMASKS + a counter, for ANY pattern up to 30 steps
    * and any stream length: bit p of `ever` = "a length-p pattern prefix
    * has matched ending at some past event", bit p of `last` = "… ending at
    * the IMMEDIATELY PRECEDING event" (what an adjacency gap needs). One
    * event updates both masks in O(pattern) bit ops. Both masks use
    * pre-update values for the transition, so a prefix can never consume
    * the same event twice — exactly the batch plan's strict `rn >`
    * ordering. */
  def patternMatched(events: Dataset[EIn], pattern: String,
                     condTypes: Seq[String],
                     ttl: TTLConfig = TTLConfig.NONE)
                    (implicit s: SparkSession): Dataset[NfaOut] = {
    import s.implicits._
    // (condIdx, adjacentToPrev) per flattened step
    val steps: Vector[(Int, Boolean)] = {
      val toks = graft.operators.SequenceMatch.parse(pattern, condTypes.length)
      require(!toks.exists(_.isInstanceOf[graft.operators.SequenceMatch.TimeGap]),
        s"patternMatched handles position patterns; use matched/foldMatched for '$pattern'")
      val out = Vector.newBuilder[(Int, Boolean)]
      var prevWasStep = false
      toks.foreach {
        case graft.operators.SequenceMatch.Step(n) =>
          out += ((n - 1, prevWasStep)); prevWasStep = true
        case _ => prevWasStep = false
      }
      out.result()
    }
    require(steps.length <= 30, s"pattern too long for int bitmask state")
    val full = steps.length
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqnfa", ttl) {
      (key, prior: Option[NfaState], rows) =>
        var st = prior.getOrElse(NfaState(0, 0, 0L))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          var newLast = 0
          var i = 0
          while (i < full) {
            val (condIdx, adj) = steps(i)
            val prevOk =
              if (i == 0) true
              else if (adj) ((st.last >> i) & 1) == 1
              else ((st.ever >> i) & 1) == 1
            if (prevOk && e.event_type == condTypes(condIdx))
              newLast |= 1 << (i + 1)
            i += 1
          }
          st = NfaState(st.ever | newLast, newLast, st.nEvents + 1L)
        }
        (Some(st), Iterator.single(NfaOut(key, (st.ever >> full) & 1, st.nEvents)))
    }
  }

  // -------------------------------------------------------------------
  // Multi-time-constraint patterns: the streaming twin of foldMatch.
  // -------------------------------------------------------------------

  final case class FoldState(slots: Seq[Long], nHits: Long, nEvents: Long)

  /** Per-user running multi-bound match state over an unbounded stream —
    * defaults mirror the batch j16 pattern. The streaming twin of
    * [[graft.operators.SequenceMatch.foldMatch]] (batch consumer:
    * `j16_sequence_match_two_bounds`): patterns with ANY number of `(?t…)`
    * time constraints, explicit gaps between all steps. The batch fold's
    * sufficient statistic IS the streaming state — (min, max) completion
    * time per pattern position, 2·k longs + two counters, independent of
    * stream length — because every gap constraint is one-sided in t_prev
    * (the foldMatch scaladoc's frontier argument; the fold is a left fold
    * over the (ts, event_id) order, so it streams by construction).
    * Transitions read the PRE-update frontier, exactly the batch fold's
    * strictly-earlier chaining: an event can never extend a prefix it just
    * completed. Same ±2⁶² unreached sentinels, same µs-exact comparisons.
    * In-order delivery ⇒ emissions equal the batch query exactly (pinned
    * against j16 across a batch cut in StreamingSpec); a late event
    * narrows the frontier the standard watermark way, like [[matched]]. */
  def foldMatched(events: Dataset[EIn],
                  pattern: String = "(?1)(?t<=14400)(?2)(?t>86400)(?3)",
                  condTypes: Seq[String] = Seq("signup", "click", "purchase"),
                  ttl: TTLConfig = TTLConfig.NONE)
                 (implicit s: SparkSession): Dataset[SeqOut] = {
    import s.implicits._
    import graft.operators.SequenceMatch.{AnyGap, Step, TimeGap}
    val toks = graft.operators.SequenceMatch.parse(pattern, condTypes.length)
    require(!toks.sliding(2).exists {
        case Vector(_: Step, _: Step) => true
        case _ => false
      },
      s"foldMatched needs an explicit gap between every step pair in " +
      s"'$pattern' — adjacency runs are patternMatched's NFA territory")
    val steps = toks.collect { case Step(n) => n - 1 }
    val gaps = toks.collect { case g @ (AnyGap | TimeGap(_, _)) => g }
    val k = steps.length
    val MinS = 4611686018427387904L  // 2^62 — unreached min sentinel
    val MaxS = -4611686018427387904L // −2^62 — unreached max sentinel
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqfold", ttl) {
      (key, prior: Option[FoldState], rows) =>
        val st = prior.getOrElse(
          FoldState(Seq.tabulate(2 * k)(i => if (i % 2 == 0) MinS else MaxS),
                    0L, 0L))
        val slots = st.slots.toArray
        var nHits = st.nHits
        var nEvents = st.nEvents
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          val t = e.ts_micros
          // can e extend position p−1 → p? PRE-update frontier (1-based p)
          def via(p: Int): Boolean =
            e.event_type == condTypes(steps(p - 1)) &&
              (p == 1 || (gaps(p - 2) match {
                case AnyGap          => slots(2 * (p - 2)) < MinS
                case TimeGap("<=", n) => slots(2 * (p - 2) + 1) >= t - n
                case TimeGap("<", n)  => slots(2 * (p - 2) + 1) > t - n
                case TimeGap(">", n)  => slots(2 * (p - 2)) < t - n
                case TimeGap(">=", n) => slots(2 * (p - 2)) <= t - n
                case other => throw new IllegalStateException(s"unreachable: $other")
              }))
          val hits = (1 to k).filter(via)
          hits.foreach { p =>
            slots(2 * (p - 1)) = math.min(slots(2 * (p - 1)), t)
            slots(2 * (p - 1) + 1) = math.max(slots(2 * (p - 1) + 1), t)
          }
          if (hits.contains(k)) nHits += 1L
          nEvents += 1L
        }
        (Some(FoldState(slots.toSeq, nHits, nEvents)),
         Iterator.single(SeqOut(key, if (slots(2 * (k - 1)) < MinS) 1 else 0,
                                nHits, nEvents)))
    }
  }

  // -------------------------------------------------------------------
  // sequenceMatchEvents: the streaming twin of batch j20 — the FIRST
  // completed (A →(≤bound)→ B) match's event TIMES, not just the boolean.
  // -------------------------------------------------------------------

  final case class EvState(t1: Long, t2: Long, pending: Seq[Long],
                           nEvents: Long)
  final case class SeqEvOut(user_id: Long, t1_us: Option[Long],
                            t2_us: Option[Long], matched: Int,
                            n_events: Long)

  /** Per-user first-match event times over an unbounded stream — defaults
    * mirror the batch j20 pattern (signup → click within 4 hours). The
    * streaming twin of `j20_sequence_match_events`: per user, the first
    * match's (t1, t2) under the batch definition — t1 = the earliest A
    * that some strictly-later B completes within `boundMicros`, t2 = the
    * earliest such B after t1.
    *
    * Why the first COMPLETING B settles both answers for good (the
    * argument that makes this streamable with bounded state): let c be
    * the first B that completes any (A, B) pair. (i) t1 is the earliest
    * pending A qualifying against c — any A earlier than that was either
    * never followed by a qualifying B before c (by c's minimality among
    * Bs, since an earlier qualifying B would have completed it) or is
    * already out of window for c, and every LATER B sits even further
    * outside that A's window (windows are upper-bounded), so no earlier
    * A can ever match. (ii) t2 = c itself: a B earlier than c inside
    * t1's window would have completed t1, contradicting c's minimality.
    * State is therefore (result once found) + the pending As within the
    * trailing `boundMicros` horizon — time-bounded like a watermark
    * window, NOT stream-length-bounded state; an A older than the
    * horizon can never match and is pruned on every row. Ordering
    * contract identical to [[matched]] (in-order delivery ⇒ equals the
    * batch query exactly; pinned against j20 across a batch cut in
    * StreamingSpec). */
  def matchEvents(events: Dataset[EIn],
                  typeA: String = "signup", typeB: String = "click",
                  boundMicros: Long = 14400L * 1000000L,
                  ttl: TTLConfig = TTLConfig.NONE)
                 (implicit s: SparkSession): Dataset[SeqEvOut] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqevents", ttl) {
      (key, prior: Option[EvState], rows) =>
        var st = prior.getOrElse(EvState(Unset, Unset, Seq.empty, 0L))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          val t = e.ts_micros
          if (st.t1 == Unset) {
            // B first (strictly-later semantics: a same-timestamp A cannot
            // be completed by this B, so checking before the A-append is
            // also consistent with the batch `c.t > s.t`)
            if (e.event_type == typeB) {
              val qual = st.pending.filter(a => t > a && t <= a + boundMicros)
              if (qual.nonEmpty)
                st = st.copy(t1 = qual.min, t2 = t, pending = Seq.empty)
            }
            if (st.t1 == Unset) {
              // keep As with a + boundMicros >= t: the batch predicate is
              // c.t > s.t AND c.t <= s.t + bound, and rows sort by
              // (ts, event_id) — so a LATER row at the SAME timestamp t can
              // still complete an A with a + bound == t (t > a holds since
              // bound > 0, t <= a + bound holds with equality). A strict >
              // here was proposed (r13 ADVICE) and MEASURED WRONG on ties:
              // it dropped such an A when a non-completing row arrived at
              // exactly t, breaking batch-j20 parity (pinned in
              // StreamingSpec's boundary-tie case). The one extra element
              // this keeps per prune is the price of tie correctness.
              val kept = st.pending.filter(_ + boundMicros >= t)
              st = st.copy(pending =
                if (e.event_type == typeA) kept :+ t else kept)
            }
          }
          st = st.copy(nEvents = st.nEvents + 1L)
        }
        (Some(st), Iterator.single(SeqEvOut(key,
          if (st.t1 == Unset) None else Some(st.t1),
          if (st.t2 == Unset) None else Some(st.t2),
          if (st.t1 == Unset) 0 else 1, st.nEvents)))
    }
  }

  // -------------------------------------------------------------------
  // sequenceNextNode forward/first_match: the streaming twin of batch j21
  // — the event AFTER the first adjacent (A, B) chain.
  // -------------------------------------------------------------------

  final case class NextNodeState(lastType: String, chainPending: Int,
                                 next: String, found: Int, nChains: Long,
                                 nEvents: Long)
  final case class NextNodeOut(user_id: Long, next_after_chain: Option[String],
                               n_chains: Long, n_events: Long)

  /** Per-user next-node-after-first-chain over an unbounded stream —
    * defaults mirror the batch j21 pattern (click → view). The streaming
    * twin of `j21_sequence_next_node_first_match`: per user, the event
    * type immediately after the FIRST adjacent (A, B) chain, plus the
    * total chain count. Adjacency is a property of consecutive rows in
    * (ts, event_id) order, so the whole per-key state is O(1) — the
    * previous event's type (to detect a chain straddling a batch cut),
    * one "the first chain just completed, its successor hasn't arrived"
    * flag (a chain ending exactly at a batch boundary), the found answer,
    * and two counters. Same ordering contract as [[matched]]; in-order
    * delivery ⇒ emissions equal batch j21 exactly (pinned across a batch
    * cut in StreamingSpec — the cut is placed mid-stream so straddling
    * adjacencies are exercised). */
  def nextNodeFirstMatch(events: Dataset[EIn],
                         typeA: String = "click", typeB: String = "view",
                         ttl: TTLConfig = TTLConfig.NONE)
                        (implicit s: SparkSession): Dataset[NextNodeOut] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqnextnode", ttl) {
      (key, prior: Option[NextNodeState], rows) =>
        // unpack into locals, rebuild once at the end — the foldMatched
        // hot-loop form (no per-row case-class churn)
        val s0 = prior.getOrElse(NextNodeState("", 0, "", 0, 0L, 0L))
        var lastType = s0.lastType
        var chainPending = s0.chainPending
        var next = s0.next
        var found = s0.found
        var nChains = s0.nChains
        var nEvents = s0.nEvents
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          // the successor slot fills BEFORE this row can open a new chain:
          // the answer is the event after the chain, whatever its type
          if (chainPending == 1) {
            chainPending = 0; next = e.event_type; found = 1
          }
          if (lastType == typeA && e.event_type == typeB) {
            nChains += 1L
            if (found == 0) chainPending = 1
          }
          lastType = e.event_type
          nEvents += 1L
        }
        (Some(NextNodeState(lastType, chainPending, next, found,
                            nChains, nEvents)),
         Iterator.single(NextNodeOut(key,
           if (found == 1) Some(next) else None, nChains, nEvents)))
    }
  }

  // -------------------------------------------------------------------
  // The remaining sequenceNextNode bases, streamed — forward/head (j09)
  // and backward/tail + backward/last_match (j19). With j21's twin these
  // complete the base×direction grid's streaming coverage.
  // -------------------------------------------------------------------

  final case class HeadNextState(pending: Int, next: String,
                                 sawBase: Int, nEvents: Long)
  final case class HeadNextOut(user_id: Long, has_base: Int,
                               next_type: Option[String], n_events: Long)

  /** Per-user next-after-first-base over an unbounded stream — defaults
    * mirror the batch j09 (first 'signup'). The streaming twin of
    * `j09_sequence_next_node` (forward, first 'signup' base): the event
    * type immediately after the user's FIRST `typeA`. O(1) state — a
    * successor-pending flag (the base ended a batch), the found answer, a
    * saw-base flag (batch j09 emits NO row for users without the base;
    * the parity pin filters on `has_base`). */
  def nextNodeHead(events: Dataset[EIn], typeA: String = "signup",
                   ttl: TTLConfig = TTLConfig.NONE)
                  (implicit s: SparkSession): Dataset[HeadNextOut] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqheadnext", ttl) {
      (key, prior: Option[HeadNextState], rows) =>
        val s0 = prior.getOrElse(HeadNextState(0, "", 0, 0L))
        var pending = s0.pending
        var next = s0.next
        var sawBase = s0.sawBase
        var nEvents = s0.nEvents
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          if (pending == 1) { pending = 0; next = e.event_type }
          if (sawBase == 0 && e.event_type == typeA) {
            sawBase = 1; pending = 1
          }
          nEvents += 1L
        }
        // "found" is derivable — the machine only visits (sawBase, pending)
        // = (0,0) → (1,1) → (1,0), so the answer exists iff the base was
        // seen AND its successor slot has been consumed
        (Some(HeadNextState(pending, next, sawBase, nEvents)),
         Iterator.single(HeadNextOut(key, sawBase,
           if (sawBase == 1 && pending == 0) Some(next) else None, nEvents)))
    }
  }

  final case class TailPrevState(lastType: String, prevOfLast: String,
                                 hasPrev: Int, prevLastClick: String,
                                 hasPrevClick: Int, nClicks: Long,
                                 nEvents: Long)
  final case class TailPrevOut(user_id: Long, prev_tail: Option[String],
                               prev_last_click: Option[String],
                               n_clicks: Long, n_events: Long)

  /** Per-user running backward next-node over an unbounded stream —
    * defaults mirror the batch j19 ('click' as the last_match base). The
    * streaming twin of `j19_sequence_next_node_back` (backward with the
    * `tail` and `last_match` bases): the RUNNING "what led here" answers —
    * the event type before the CURRENT last event, and before the most
    * recent `clickType`. Both answers are properties of the two most
    * recent rows (tail) / the predecessor captured as each click arrives
    * (last_match), so per-key state is O(1): lastType, its predecessor,
    * the last click's predecessor, presence flags, two counters. At any
    * batch-at-once replay the emission equals batch j19 exactly (pinned
    * across a cut); mid-stream emissions are the same definition applied
    * to the stream-so-far — the probe-at-arrival contract the family
    * documents. A base row that is the user's FIRST event reports NULL,
    * exactly the batch's LAG-at-partition-head NULL. */
  def nextNodeBack(events: Dataset[EIn], clickType: String = "click",
                   ttl: TTLConfig = TTLConfig.NONE)
                  (implicit s: SparkSession): Dataset[TailPrevOut] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "seqtailprev", ttl) {
      (key, prior: Option[TailPrevState], rows) =>
        val s0 = prior.getOrElse(TailPrevState("", "", 0, "", 0, 0L, 0L))
        var lastType = s0.lastType
        var prevOfLast = s0.prevOfLast
        var hasPrev = s0.hasPrev
        var prevLastClick = s0.prevLastClick
        var hasPrevClick = s0.hasPrevClick
        var nClicks = s0.nClicks
        var nEvents = s0.nEvents
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          if (e.event_type == clickType) {
            nClicks += 1L
            // the click's predecessor; a click OPENING the stream leaves the
            // default (hasPrevClick = 0 → NULL), matching batch LAG-at-head
            if (nEvents > 0L) { prevLastClick = lastType; hasPrevClick = 1 }
          }
          if (nEvents > 0L) { prevOfLast = lastType; hasPrev = 1 }
          lastType = e.event_type
          nEvents += 1L
        }
        (Some(TailPrevState(lastType, prevOfLast, hasPrev, prevLastClick,
                            hasPrevClick, nClicks, nEvents)),
         Iterator.single(TailPrevOut(key,
           if (hasPrev == 1) Some(prevOfLast) else None,
           if (hasPrevClick == 1) Some(prevLastClick) else None,
           nClicks, nEvents)))
    }
  }

  // -------------------------------------------------------------------
  // One-call entry point: pattern string in, matched flag out — the
  // streaming mirror of the batch compiler's dispatch.
  // -------------------------------------------------------------------

  final case class MatchOut(user_id: Long, matched: Int, n_events: Long)

  /** ONE streaming entry point for the whole sequenceMatch grammar
    * (r13-brief item 6): parses `pattern` once and picks the cheapest
    * fold that decides it EXACTLY — the same dispatch the batch
    * side performs between [[graft.operators.SequenceMatch.withMatch]]'s
    * window plans and [[graft.operators.SequenceMatch.foldMatch]]:
    *
    *  - no time constraint (any mix of steps, `.*` gaps, adjacency
    *    runs) → [[patternMatched]] — two int bitmasks per key;
    *  - the canonical two-step `(?A)(?t OP n)(?B)` → [[matched]] —
    *    the five-scalar running-extremum state (strictly smaller than
    *    the fold's frontier for the same pattern);
    *  - time constraints with explicit gaps between all steps (any
    *    NUMBER of bounds — where the batch window compiler stops at
    *    one) → [[foldMatched]] — the min/max frontier fold;
    *  - time constraint AGAINST an adjacency run → rejected loudly (by
    *    [[foldMatched]]'s own build-time guard, fired eagerly here —
    *    the batch compiler's tCount discipline): no streaming processor
    *    decides that class with bounded state today, and compiling it
    *    wrong is worse than refusing.
    *
    * The three folds emit different payloads (hit counters, event
    * counters); the shared surface is (matched, n_events), so that is
    * what the unified frame carries — callers needing a family-specific
    * payload (j20's times, j21's next node) use the dedicated entry
    * points. The StreamingSpec batch-cut pins route through this
    * dispatch, so each branch's selection is itself regression-pinned. */
  def forPattern(events: Dataset[EIn], pattern: String,
                 condTypes: Seq[String], ttl: TTLConfig = TTLConfig.NONE)
                (implicit s: SparkSession): Dataset[MatchOut] = {
    import s.implicits._
    import graft.operators.SequenceMatch.{Step, TimeGap}
    val toks = graft.operators.SequenceMatch.parse(pattern, condTypes.length)
    if (!toks.exists(_.isInstanceOf[TimeGap]))
      patternMatched(events, pattern, condTypes, ttl)
        .map(o => MatchOut(o.user_id, o.matched, o.n_events))
    else toks match {
      case Vector(Step(a), TimeGap(op, micros), Step(b)) =>
        matched(events, condTypes(a - 1), condTypes(b - 1), op, micros, ttl)
          .map(o => MatchOut(o.user_id, o.matched, o.n_events))
      case _ =>
        // time constraints against an adjacency run are rejected by
        // foldMatched's own build-time guard (eagerly, before any
        // stream exists) — one source of truth, not a duplicated check
        foldMatched(events, pattern, condTypes, ttl)
          .map(o => MatchOut(o.user_id, o.matched, o.n_events))
    }
  }
}
