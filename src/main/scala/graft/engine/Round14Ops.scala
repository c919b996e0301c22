package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 declared queries — the r11 verdict's brief items 3 and 4:
  * the named ClickHouse-sibling tail, each on an existing recipe, plus
  * the EXACT REGIMES of the two law-pinned sketches put under the
  * driver's oracle gate.
  *
  *  - `h50_arr_enumerate_dense` — CH `arrayEnumerateDense` (h22's
  *    sibling: first-occurrence DENSE index instead of per-value
  *    occurrence number).
  *  - `h51_map_keys_values` — CH `mapKeys`/`mapValues`/`mapContains`
  *    over h47's real MapType build.
  *  - `j19_sequence_next_node_back` — CH `sequenceNextNode` backward
  *    direction with `tail` and `last_match` bases (j09 declares only
  *    forward-after-first).
  *  - `e28_delta_sum_timestamp` — CH `deltaSumTimestamp` (e15's
  *    timestamp-deduplicating sibling).
  *  - `d56_group_array_insert_at` — CH `groupArrayInsertAt(default, n)`
  *    (position-addressed array build with default fill).
  *  - `d57_topk_exact_regime` — `HeavyHitters` (CH `topK`) in its
  *    capacity ≥ |domain| regime, where Misra-Gries is EXACT under any
  *    merge order — the d26/d34 closed-form discipline applied to the
  *    last unoracled sketch family.
  *  - `d58_histogram_exact_regime` — `AdaptiveHistogram` (CH
  *    `histogram(N)`) in its ≤ N-distinct regime, where the result IS
  *    the exact value histogram under any fold/merge order.
  *
  * Every query follows the SURVEY §2 determinism rules (explicit NULLS,
  * total ORDER BY, integer-exact arithmetic end-to-end).
  */
object Round14Ops {

  // ---------------------------------------------------------------- h50

  /** h50 — `arrayEnumerateDense` analog [public: CH array-function
    * docs]: for each element, the 1-based index of its FIRST occurrence
    * in first-seen order — `[10,20,10,30] → [1,2,1,3]` — over the
    * document's 20-token prefix, h22's recipe (h22 numbers the k-th
    * repeat; this numbers the distinct VALUE). Spark side is map-only
    * array HOFs: dense(t) = |distinct(prefix up to t's first
    * occurrence)| via `array_position` + `array_distinct` — O(prefix²)
    * per row on a bounded prefix, no explode, no shuffle. The ORACLE
    * takes the relational road instead (explode → first-position window
    * → DENSE_RANK over first positions): two independent formulations
    * of the same function. */
  val h50: Q = Q(
    "h50_arr_enumerate_dense",
    """SELECT doc_id,
      |  ARRAY_TO_STRING(list(CAST(d AS VARCHAR) ORDER BY i), '|') AS dense_idx,
      |  ARRAY_TO_STRING(list(tok ORDER BY i), '|') AS toks
      |FROM (
      |  SELECT doc_id, i, tok,
      |    DENSE_RANK() OVER (PARTITION BY doc_id ORDER BY fp) AS d
      |  FROM (
      |    SELECT doc_id, i, tok, MIN(i) OVER (PARTITION BY doc_id, tok) AS fp
      |    FROM (
      |      SELECT doc_id, t.i AS i, toks[t.i] AS tok
      |      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
      |           unnest(generate_series(1, LEAST(len(toks), 20))) AS t(i))))
      |GROUP BY doc_id
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val pfx = slice(split(col("text"), " "), 1, 20)
      Tables.documents(s, dir)
        .select(col("doc_id"), pfx.as("toks20"))
        .select(col("doc_id"),
                array_join(transform(col("toks20"), t =>
                  size(array_distinct(
                    slice(col("toks20"), lit(1),
                          array_position(col("toks20"), t).cast("int"))))),
                  "|").as("dense_idx"),
                array_join(col("toks20"), "|").as("toks"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  // ---------------------------------------------------------------- h51

  /** h51 — `mapKeys` / `mapValues` / `mapContains` analogs [public: CH
    * map-function docs] over h47's real per-day MapType build
    * (event_type → cents, decimal(18,2)-exact): the key list (sorted —
    * Spark's map iteration order is build-dependent, so the declared
    * face is the SORTED render), the value total via the `aggregate`
    * HOF over `map_values` (exact longs), and the membership probe
    * `map_contains_key`. The oracle never builds a map: keys/values
    * aggregate straight off the vocab-sized (day, type) frame — 30
    * days × ≤5 types, everything downstream of one hash agg. */
  val h51: Q = Q(
    "h51_map_keys_values",
    """WITH per AS (
      |  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_c
      |  FROM events GROUP BY 1, 2)
      |SELECT day,
      |  STRING_AGG(event_type, ',' ORDER BY event_type ASC) AS keys,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(sum_c) AS BIGINT) AS vals_total,
      |  MAX(event_type = 'click') AS has_click
      |FROM per GROUP BY day
      |ORDER BY day ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long")
               .as("sum_c"))
        .groupBy("day")
        .agg(map_from_entries(collect_list(
               struct(col("event_type"), col("sum_c")))).as("m"))
        .select(col("day"),
                array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
                expr("cardinality(m)").cast("long").as("n_keys"),
                expr("aggregate(map_values(m), CAST(0 AS BIGINT), " +
                     "(acc, x) -> acc + x)").as("vals_total"),
                map_contains_key(col("m"), lit("click")).as("has_click"))
        .orderBy(asc_nulls_last("day")))

  // ---------------------------------------------------------------- j19

  /** j19 — `sequenceNextNode` BACKWARD direction [public: CH parametric
    * -aggregate docs; j09 declares forward/head]: per user, the event
    * type immediately BEFORE (a) the user's last event (base `tail`)
    * and (b) the user's last 'click' (base `last_match`) — the "what
    * led here" reading. One ordered window (the shared lag) plus two
    * whole-partition maxima over the SAME user_id partitioning, so all
    * three Window operators ride one exchange; the base row is found by
    * key equality against the partition max — no second ordered pass,
    * no join. NULL prev = the base row was the user's first event; a
    * user with no clicks reports NULL prev_last_click and n_clicks
    * disambiguates the two NULL readings. */
  val j19: Q = Q(
    "j19_sequence_next_node_back",
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS prev_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rnd,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rnt
      |  FROM events)
      |SELECT user_id,
      |  MAX(CASE WHEN rnd = 1 THEN prev_type END) AS prev_tail,
      |  MAX(CASE WHEN event_type = 'click' AND rnt = 1 THEN prev_type END)
      |    AS prev_last_click,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clicks
      |FROM o GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      val wAll = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("key", struct(col("ts"), col("event_id")))
        .withColumn("last_key", max(col("key")).over(wAll))
        .withColumn("last_click_key",
          max(when(col("event_type") === "click", col("key"))).over(wAll))
        .groupBy("user_id")
        .agg(max(when(col("key") === col("last_key"), col("prev_type")))
               .as("prev_tail"),
             max(when(col("key") === col("last_click_key"), col("prev_type")))
               .as("prev_last_click"),
             sum(when(col("event_type") === "click", 1).otherwise(0))
               .cast("long").as("n_clicks"))
        .orderBy(asc_nulls_last("user_id"))
    })

  // ---------------------------------------------------------------- e28

  /** e28 — `deltaSumTimestamp` analog [public: CH aggregate-function
    * docs]: e15's counter-delta sum computed over TIMESTAMP-DEDUPLICATED
    * rows — CH built the function for materialized-view parts where
    * rows sharing a (coarse) timestamp must collapse to one before
    * differencing. The declared face coarsens to the HOUR (426 duplicate
    * (user, hour) groups at sf0.01, so the dedup genuinely bites):
    * within each (user, hour) only the FIRST row in (ts, event_id)
    * order participates; diffs then ride e15's exact decimal(18,2) →
    * integer-hundredths route. ONE exchange end-to-end (plan-pinned):
    * the per-user total-count window runs FIRST, so hash(user_id)
    * satisfies every later clustering — the (user, hour) rank window,
    * the per-user lag window, and the closing aggregate all reuse it,
    * and n_dropped (which makes the dedup visible in the result) rides
    * along instead of costing a count join; the ORACLE keeps the join
    * formulation — two independent shapes of the same answer. */
  val e28: Q = Q(
    "e28_delta_sum_timestamp",
    """WITH k AS (
      |  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      |  FROM events),
      |d AS (
      |  SELECT user_id,
      |    v - LAG(v) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS d
      |  FROM k WHERE rn = 1),
      |t AS (SELECT user_id, COUNT(*) AS n_total FROM events GROUP BY user_id)
      |SELECT d.user_id AS user_id,
      |  CAST(SUM(GREATEST(d, CAST(0 AS DECIMAL(18,2)))) * 100 AS BIGINT) / 100.0
      |    AS delta_sum,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(MAX(t.n_total) - COUNT(*) AS BIGINT) AS n_dropped
      |FROM d JOIN t ON d.user_id = t.user_id
      |GROUP BY d.user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val wAll = Window.partitionBy("user_id")
      val wh = Window.partitionBy(col("user_id"), col("hh"))
        .orderBy(asc("ts"), asc("event_id"))
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("value").cast("decimal(18,2)").as("v"),
                date_trunc("hour", col("ts")).as("hh"))
        .withColumn("n_total", count(lit(1)).over(wAll))
        .withColumn("rn", row_number().over(wh))
        .filter(col("rn") === 1)
        .withColumn("d", col("v") - lag(col("v"), 1).over(w))
        .groupBy("user_id")
        .agg(((sum(greatest(col("d"), lit(0).cast("decimal(18,2)"))) * lit(100))
                .cast("long") / lit(100.0)).as("delta_sum"),
             count(lit(1)).cast("long").as("n_kept"),
             (max(col("n_total")) - count(lit(1))).cast("long").as("n_dropped"))
        .orderBy(asc_nulls_last("user_id"))
    })

  // ---------------------------------------------------------------- d56

  /** d56 — `groupArrayInsertAt(default, size)(value, pos)` analog
    * [public: CH aggregate-function docs]: a position-addressed array
    * build — per event type, 24 hourly slots where slot h carries the
    * MINIMUM cents observed at hour h (CH leaves the multi-insert
    * winner undefined; the declared face pins the deterministic MIN)
    * and empty slots render the default '-'. Spark shape: (type, hour)
    * hash agg → per-type `map_from_entries` → a `sequence(0, 23)` spine
    * probed with `element_at` — the insert-at semantics recovered from
    * a map + fixed spine, no per-position UNION, no second scan. The
    * oracle builds the spine relationally (generate_series × distinct
    * types, LEFT JOIN). Slot count is a LITERAL 24 (hour of day), so
    * the render is bounded by construction — no d53-style runtime span
    * guard needed. */
  val d56: Q = Q(
    "d56_group_array_insert_at",
    """WITH per AS (
      |  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS h,
      |    MIN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT UNNEST(generate_series(0, 23)) AS h),
      |ty AS (SELECT DISTINCT event_type FROM events)
      |SELECT ty.event_type AS event_type,
      |  ARRAY_TO_STRING(list(COALESCE(CAST(p.v AS VARCHAR), '-') ORDER BY sp.h),
      |                  '|') AS slots,
      |  CAST(COUNT(p.v) AS BIGINT) AS n_filled
      |FROM ty CROSS JOIN sp
      |LEFT JOIN per p ON p.event_type = ty.event_type AND p.h = sp.h
      |GROUP BY ty.event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(min((col("value").cast("decimal(18,2)") * 100).cast("long"))
               .as("v"))
        .groupBy("event_type")
        .agg(map_from_entries(collect_list(struct(col("h"), col("v"))))
               .as("m"),
             count(lit(1)).cast("long").as("n_filled"))
        .select(col("event_type"),
                array_join(transform(sequence(lit(0), lit(23)), i =>
                  coalesce(element_at(col("m"), i).cast("string"), lit("-"))),
                  "|").as("slots"),
                col("n_filled"))
        .orderBy(asc_nulls_last("event_type")))

  // ---------------------------------------------------------------- d57

  /** d57 — [[graft.operators.HeavyHitters]] in its EXACT regime (the
    * r11 verdict item: the last sketch family not yet under the oracle
    * gate). Misra-Gries with capacity ≥ |value domain| never fires the
    * decrement (reduce inserts below capacity) and never trims (merge's
    * union stays ≤ capacity), so every counter is the TRUE count under
    * ANY partial-aggregate merge order — the same closed-form-regime
    * discipline d26 (uniqUpTo) and d34 (KMV) used. Declared face: per
    * day, top-3 event types by exact count through the full udaf →
    * merge → finish → posexplode path (capacity 64 ≥ 5 types), ties
    * broken (count DESC, value ASC) identically by `finish` and the
    * oracle's ROW_NUMBER. The approximate regime stays Tier-2
    * (guarantee-pinned in PropertiesSpec) because its boundary ties are
    * merge-order-dependent BY DESIGN. */
  val d57: Q = Q(
    "d57_topk_exact_regime",
    """SELECT day, value, approx_count, rank FROM (
      |  SELECT day, value, approx_count,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY day
      |      ORDER BY approx_count DESC, value ASC) AS INT) AS rank
      |  FROM (
      |    SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
      |      event_type AS value, CAST(COUNT(*) AS BIGINT) AS approx_count
      |    FROM events GROUP BY 1, 2))
      |WHERE rank <= 3
      |ORDER BY day ASC NULLS LAST, rank ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.HeavyHitters.topKPerGroup(
          Tables.events(s, dir).select(to_date(col("ts")).as("day"),
                                       col("event_type")),
          Seq("day"), "event_type", k = 3, capacity = 64)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy(asc_nulls_last("day"), asc_nulls_last("rank")))

  // ---------------------------------------------------------------- d58

  /** d58 — [[graft.operators.AdaptiveHistogram]] in its EXACT regime
    * (the verdict item's second sketch): with ≤ N distinct input values
    * the Ben-Haim/Tom-Tov summary IS the exact value histogram —
    * identical-centroid neighbors collapse exactly and gap-merges only
    * fire above capacity, so the result is merge-order-free (the
    * spec-pinned law, now oracle-gated). Declared face: 64-bin
    * histogram of `l_quantity` (exactly 50 distinct integral values)
    * per return flag, through the full udaf partial/merge path, bins
    * exploded to scalar rows; the bin value is recovered as the exact
    * integer `sum div count` (every member equals the centroid in this
    * regime). The oracle is the plain exact GROUP BY histogram. */
  val d58: Q = Q(
    "d58_histogram_exact_regime",
    """SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY 1, 2
      |ORDER BY l_returnflag ASC NULLS LAST, qty ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.AdaptiveHistogram.byGroup(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag"),
                    col("l_quantity").cast("long").as("q")),
          "l_returnflag", "q", n = 64)
        .select(col("l_returnflag"), explode(col("hist")).as("b"))
        .select(col("l_returnflag"),
                expr("b.sum div b.count").as("qty"),
                col("b.count").as("n"))
        .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("qty")))

  // ---------------------------------------------------------------- k43

  /** k43 — the IVF PROBE path ([[graft.operators.Ivf.topKApprox]]) in its
    * EXACT regime, under the oracle gate — the d57/d58 discipline applied
    * to the similarity-search stack: with nprobe = |centroids| every
    * cluster is probed, so the shortlist is the whole corpus REGARDLESS
    * of what the quantizer learned and the answer is exactly brute force.
    * The declared face drives the full probe machinery end-to-end —
    * probe-cluster scoring, corpus assignment, broadcast cluster-id
    * shortlist join, exact rescore, TakeOrderedAndProject — while the
    * ORACLE is k03's independent brute-force formulation (DuckDB
    * `list_cosine_similarity`, no IVF anywhere); rank order decided on
    * the ROUND-4 similarity (the k03/k07 ≈1e-16 normalization-path
    * absorption argument). The recall-degradation regime (nprobe <
    * |centroids|) stays Tier-2, pinned by ScaleOpsSpec's recall floors —
    * it is approximate BY DESIGN and has no SQL oracle. */
  val k43: Q = Q(
    "k43_ivf_probe_exact_regime",
    """SELECT vec_id,
      |  ROUND(list_cosine_similarity(
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |    (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
      |     FROM embeddings WHERE vec_id = 0)), 4) AS cos
      |FROM embeddings
      |WHERE vec_id <> 0
      |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS LAST
      |LIMIT 10""".stripMargin,
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Ivf.topKApprox(
        emb, graft.operators.Ivf.firstKCentroids(emb, 8),
        probeId = 0L, k = 10, nprobe = 8, roundTo = 4)
    })

  // ---------------------------------------------------------------- h52

  /** h52 — `multiSearchAllPositions` / `multiSearchFirstPosition` /
    * `multiSearchAny` analogs [public: CH string-search docs]: the
    * positions of three needles in each document (1-based, 0 = absent —
    * CH's convention, identical to `instr` on both engines), the
    * smallest position among the found ones (NULL when none — the
    * all-absent case is populated: ~22% of docs miss each needle), and
    * the any-found flag. Map-only; the 0→sentinel→NULLIF route keeps
    * `LEAST` total on both engines (mixed NULL handling in LEAST is a
    * known cross-engine divergence — never fed one). */
  val h52: Q = Q.fromSql(
    "h52_multi_search",
    """SELECT doc_id,
      |  CAST(instr(text, 'spark') AS INT) AS p_spark,
      |  CAST(instr(text, 'hash') AS INT) AS p_hash,
      |  CAST(instr(text, 'window') AS INT) AS p_window,
      |  CAST(NULLIF(LEAST(
      |    CASE WHEN instr(text, 'spark') = 0 THEN 2147483647
      |         ELSE instr(text, 'spark') END,
      |    CASE WHEN instr(text, 'hash') = 0 THEN 2147483647
      |         ELSE instr(text, 'hash') END,
      |    CASE WHEN instr(text, 'window') = 0 THEN 2147483647
      |         ELSE instr(text, 'window') END), 2147483647) AS INT)
      |    AS first_pos,
      |  CAST(CASE WHEN instr(text, 'spark') + instr(text, 'hash')
      |                 + instr(text, 'window') > 0
      |            THEN 1 ELSE 0 END AS INT) AS any_found
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- j20

  /** j20 — `sequenceMatchEvents` analog [public: CH parametric-aggregate
    * docs — the variant that returns the MATCHED EVENTS' timestamps, not
    * just the boolean]: for the bounded pattern signup →(≤4h)→ click,
    * the FIRST match's event times per user, defined deterministically
    * as t1 = the earliest signup that a click completes within the
    * bound, t2 = the earliest such click after t1 (left-to-right
    * earliest-opener-that-succeeds — the reading under which j13's
    * boolean is `t1 IS NOT NULL`). ONE window pass: a reversed
    * running-min carries each row's NEXT click time as a RANGE frame
    * over integer µs (`rangeBetween(1, ∞)` ⇔ strictly-later — a ROWS
    * frame would diverge from the oracle's `c.t > s.t` on equal
    * timestamps), signup rows test it against their own +4h bound,
    * and the per-user agg takes the earliest qualifying signup with its
    * click riding a min(struct) — no join, no explode, state one struct
    * per row. The ORACLE is an independent pair-join formulation (every
    * (signup, click) pair within bound → min signup → min click). All
    * exact µs integers; 90 of 150 sf0.01 users match and the NULL
    * (no-match) side is populated. */
  val j20: Q = Q(
    "j20_sequence_match_events",
    """WITH s AS (SELECT user_id, epoch_us(ts) AS t FROM events
      |           WHERE event_type = 'signup'),
      |c AS (SELECT user_id, epoch_us(ts) AS t FROM events
      |      WHERE event_type = 'click'),
      |pair AS (
      |  SELECT s.user_id, s.t AS t1, c.t AS t2
      |  FROM s JOIN c ON c.user_id = s.user_id
      |   AND c.t > s.t AND c.t <= s.t + 14400000000),
      |m AS (SELECT user_id, MIN(t1) AS t1 FROM pair GROUP BY user_id),
      |mm AS (
      |  SELECT m.user_id, m.t1, MIN(p.t2) AS t2
      |  FROM m JOIN pair p ON p.user_id = m.user_id AND p.t1 = m.t1
      |  GROUP BY m.user_id, m.t1)
      |SELECT u.user_id AS user_id, mm.t1 AS t1_us, mm.t2 AS t2_us,
      |  CAST(CASE WHEN mm.t1 IS NULL THEN 0 ELSE 1 END AS INT) AS matched
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN mm ON mm.user_id = u.user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("t"))
        .rangeBetween(1, Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("t"))
        .withColumn("next_click",
          min(when(col("event_type") === "click", col("t"))).over(w))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "signup" &&
                      col("next_click") <= col("t") + 14400000000L,
                      struct(col("t"), col("next_click")))).as("m"))
        .select(col("user_id"),
                col("m.t").as("t1_us"),
                col("m.next_click").as("t2_us"),
                when(col("m").isNotNull, 1).otherwise(0).cast("int")
                  .as("matched"))
        .orderBy(asc_nulls_last("user_id"))
    })

  // ---------------------------------------------------------------- d59

  /** d59 — `quantileExactLow` / `quantileExactHigh` analogs [public: CH
    * aggregate-function docs — the lower/higher-order-statistic members;
    * d49 declares the interpolating types 6/7]: the two order statistics
    * straddling rank p·(n−1), selected EXACTLY off the d49 cents grid —
    * conditional minima against the cumulative window, k indices from
    * FLOOR/CEIL of a dyadic product (p ∈ {0.5, 0.75} exact in double),
    * NO data-sized sort, NO interpolation, ALL-INTEGER output (the
    * zero-float class — stronger than d49, whose interpolation needs the
    * dyadic-fraction argument). The Spark side is an INDEPENDENT
    * DataFrame formulation (r12 brief item 3 — it previously ran the
    * oracle text verbatim): the k rank indices are computed INLINE as
    * expressions of the per-row `n` window column, so the DataFrame plan
    * has NO join at all where the portable SQL needs the DISTINCT-n CTE
    * joined back — one grid aggregate, one exchange, two window specs,
    * one final hash agg (pinned join-free in PlanShapeSpec). */
  val d59: Q = Q(
    "d59_quantile_low_high",
    """WITH g AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, c,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY c ASC) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM g),
      |k AS (
      |  SELECT event_type AS et,
      |    CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS kl50,
      |    CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS kh50,
      |    CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.75) AS BIGINT) AS kl75,
      |    CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.75) AS BIGINT) AS kh75
      |  FROM (SELECT DISTINCT event_type, n FROM w))
      |SELECT w.event_type AS event_type, CAST(MAX(w.n) AS BIGINT) AS n_rows,
      |  CAST(MIN(CASE WHEN cum >= kl50 + 1 THEN c END) AS BIGINT) AS p50_low,
      |  CAST(MIN(CASE WHEN cum >= kh50 + 1 THEN c END) AS BIGINT) AS p50_high,
      |  CAST(MIN(CASE WHEN cum >= kl75 + 1 THEN c END) AS BIGINT) AS p75_low,
      |  CAST(MIN(CASE WHEN cum >= kh75 + 1 THEN c END) AS BIGINT) AS p75_high
      |FROM w JOIN k ON w.event_type = k.et
      |GROUP BY w.event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val g = Tables.events(s, dir)
        .groupBy(col("event_type"), cents.as("c"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy(asc("c"))
      val wAll = Window.partitionBy("event_type")
      val w = g.select(col("event_type"), col("c"),
                       sum("cnt").over(wCum).as("cum"),
                       sum("cnt").over(wAll).as("n"))
      def kOf(p: Double, up: Boolean): Column = {
        val h = (col("n") - 1).cast("double") * p
        (if (up) ceil(h) else floor(h)).cast("long")
      }
      def sel(k: Column): Column =
        min(when(col("cum") >= k + 1, col("c"))).cast("long")
      w.groupBy("event_type")
        .agg(max("n").cast("long").as("n_rows"),
             sel(kOf(0.5, up = false)).as("p50_low"),
             sel(kOf(0.5, up = true)).as("p50_high"),
             sel(kOf(0.75, up = false)).as("p75_low"),
             sel(kOf(0.75, up = true)).as("p75_high"))
        .orderBy(asc_nulls_last("event_type"))
    })

  // ---------------------------------------------------------------- d60

  /** d60 — the WEIGHTED Misra-Gries sketch
    * ([[graft.operators.HeavyHitters.MisraGriesWeighted]], the CH
    * `topKWeighted` sketch) in its EXACT regime — d57 gates the
    * unweighted aggregator; this gates the weighted one, the last
    * aggregator face not yet under the oracle: with capacity ≥ |domain|
    * the weighted reduce always finds room (never the decrement branch)
    * and the merge union never trims, so every counter is the TRUE
    * weight total under any partial-merge order. Declared face: per day,
    * top-3 event types by total value CENTS (the exact decimal(18,2)
    * route feeding the weights), through the full udaf → merge → finish
    * → posexplode path; ties (weight DESC, value ASC) identical to the
    * oracle's ROW_NUMBER. d55 declares the same QUESTION through stacked
    * exact aggs — two independent mechanisms for the family, both gated.
    *
    * WEIGHT DOMAIN (r12 ADVICE): Misra-Gries weights are positive by
    * contract — the reduce skips `w <= 0` (a negative weight would break
    * the decrement invariant), while a SUM oracle would include it. The
    * face makes the domains identical BY CONSTRUCTION: both engines
    * filter to `cents > 0` before aggregating (the fixture's only
    * non-positive values are exact zeros — sf0.1 carries 6 — which a SUM
    * ignores anyway; the filter also settles the would-be divergence
    * where an all-zero (day, type) group appears as a 0-total oracle row
    * but never enters the sketch). */
  val d60: Q = Q(
    "d60_topk_weighted_exact_regime",
    """SELECT day, value, approx_count, rank FROM (
      |  SELECT day, value, approx_count,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY day
      |      ORDER BY approx_count DESC, value ASC) AS INT) AS rank
      |  FROM (
      |    SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
      |      event_type AS value,
      |      CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |           AS BIGINT) AS approx_count
      |    FROM events
      |    WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
      |    GROUP BY 1, 2))
      |WHERE rank <= 3
      |ORDER BY day ASC NULLS LAST, rank ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"),
                (col("value").cast("decimal(18,2)") * 100).cast("long")
                  .as("cents"))
        .filter(col("cents") > 0)
        .groupBy("day")
        .agg(graft.operators.HeavyHitters.approxTopKWeighted(
               col("event_type"), col("cents"), k = 3, capacity = 64)
               .as("__tk"))
        .select(col("day"), posexplode(col("__tk")))
        .select(col("day"), col("col._1").as("value"),
                col("col._2").as("approx_count"),
                (col("pos") + 1).cast("int").as("rank"))
        .orderBy(asc_nulls_last("day"), asc_nulls_last("rank")))

  def ops: Vector[Q] = Vector(h50, h51, j19, e28, d56, d57, d58, k43,
                              h52, j20, d59, d60)
}
