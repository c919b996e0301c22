package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 declared queries — the first consumers of the
  * [[graft.operators.SequenceMatch]] pattern compiler beyond the six
  * re-expressed fixtures:
  *
  *  - `j13_sequence_match_cooldown` — the `(?t>N)` lower-bound time
  *    constraint (cooldown) form, compiled to the earliest-preceding
  *    running-min closed form.
  *
  *  - `j14_sequence_match_mixed` — the mixed `.*`-gap + adjacency-run
  *    pattern form, compiled vs an independent string-render oracle.
  *  - `j15_sequence_match_context` — one time constraint IN pattern
  *    context (prefix + constrained pair), the form the r9 compiler
  *    generalization unlocked, vs an independent rn-window oracle.
  *  - `f05_limit_by` — CH's per-group `LIMIT n BY` clause on the
  *    WindowGroupLimit shape.
  *  - `h43_arr_sort_by` — `arraySort(lambda)` via the real comparator
  *    `array_sort`, vs the padded-sort-key oracle formulation.
  *  - `e26_nonneg_derivative` — `nonNegativeDerivative` with an
  *    integer-decided clamp on e12's exact rate form.
  *  - `e27_running_concurrency` — `runningConcurrency` as a ±1 sweep
  *    with one cumulative per-user window (half-open tie pinned).
  *  - `h44_arr_rotate_shift` — `arrayRotateLeft`/`arrayShiftLeft` with
  *    the out-of-range slicing dialect edge handled per side.
  *  - `h45_arr_fill` — `arrayFill` forward-fill as one struct-state
  *    `aggregate` fold vs an IGNORE NULLS window oracle.
  *
  * Plus the CH array-surface stragglers the r8 verdict listed and their
  * round-12 siblings:
  *
  *  - `e24_group_array_moving_avg` — `groupArrayMovingAvg(5)` on the
  *    e17 bounded-frame recipe (CH divides by the WINDOW SIZE even over
  *    the short prefix — integer division, exact).
  *  - `e25_running_distinct` — `runningAccumulate(uniqExactState)` via
  *    the first-occurrence-flag cumsum closed form.
  *  - `h41_arr_compact_zip` — `arrayCompact` (consecutive-dup removal as
  *    an indexed filter HOF, no explode) + `arrayZip` (a real two-array
  *    `zip_with`).
  *  - `h42_arr_set_ops` — scalar array intersect/union/except, sorted
  *    sets (engine element orders differ).
  *  - `d52_group_uniq_array` — `groupUniqArray`, the distinct-set form
  *    beside d11's duplicate-keeping collect.
  *  - `k39_chunk_dup_fraction` — the Gopher/RefinedWeb/Dolma
  *    paragraph-level cross-corpus dedup metric over k35's chunk
  *    discipline (k30's across-corpus complement).
  *
  * Every query follows the SURVEY §2 determinism rules (explicit NULLS,
  * total ORDER BY, integer-exact arithmetic end-to-end).
  */
object Round12Ops {

  // ---------------------------------------------------------------- j13

  /** j13 — cooldown sequence match (ClickHouse
    * `sequenceMatch('(?1)(?t>3600)(?2)')(ts, type='signup',
    * type='purchase')` analog [public: CH parametric-aggregate docs]).
    * j12 covers the upper-bound `(?t<=N)` form; this declares the
    * LOWER-bound `(?t>N)` form the compiler also emits: does a purchase
    * occur MORE than 1 hour after some preceding signup (a cooldown /
    * incubation constraint — "did the user come back later"), intervening
    * events allowed. The matching pair maximizing the gap uses the
    * EARLIEST preceding signup, so one running-MIN window decides
    * existence (the mirror of j12's running max): per-user work is a
    * running scalar, no pair join, no state machine — the same shape at
    * 100 TB. `n_cooldown` counts the matching purchases. All comparisons
    * on exact µs integers (INTERVAL arithmetic on both sides is exact µs
    * addition); ties break on event_id in both engines. The Spark side is
    * COMPILED from the grammar string by
    * [[graft.operators.SequenceMatch.withMatch]]; the oracle is the
    * independent hand-written window form. */
  val j13: Q = Q(
    "j13_sequence_match_cooldown",
    """WITH w AS (
      |  SELECT user_id, event_type, ts,
      |    MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER
      |      (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_signup
      |  FROM events),
      |m AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND first_signup IS NOT NULL
      |              AND ts > first_signup + INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS m_cooldown,
      |    SUM(CASE WHEN event_type = 'purchase' AND first_signup IS NOT NULL
      |              AND ts > first_signup + INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS n_cooldown,
      |    COUNT(*) AS n_events
      |  FROM w GROUP BY user_id)
      |SELECT user_id, CAST(m_cooldown AS INT) AS m_cooldown,
      |  CAST(n_cooldown AS BIGINT) AS n_cooldown,
      |  CAST(n_events AS BIGINT) AS n_events
      |FROM m
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.SequenceMatch.withMatch(
          Tables.events(s, dir), "user_id", unix_micros(col("ts")),
          col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "purchase"),
          "(?1)(?t>3600)(?2)", "__hit")
        .groupBy("user_id")
        .agg(max(col("__hit")).cast("int").as("m_cooldown"),
             sum(col("__hit")).cast("long").as("n_cooldown"),
             count(lit(1)).cast("long").as("n_events"))
        .orderBy(asc_nulls_last("user_id")))

  // ---------------------------------------------------------------- j15

  /** j15 — time-constrained sequence match IN CONTEXT
    * (`sequenceMatch('(?1).*(?2)(?t<=3600)(?3)')` analog [public: CH
    * parametric-aggregate docs]): a signup anywhere, then a purchase
    * within 1 hour of a PRECEDING post-signup click — the single-time-
    * constraint-with-prefix form the r9 compiler generalization unlocked
    * (j12/j13 cover the bare two-step pairs). Compiled plan: greedy
    * first-signup prefix (dominant — position constraints are monotone),
    * nearest preceding VALID click (post-signup only) via one running-max
    * window, bound check per purchase row; `n_hits` counts the closing
    * purchases. The ORACLE is an independent hand-written rn-window
    * formulation (first-signup rank join + conditional running max) —
    * two formulations must agree. All comparisons exact µs integers. */
  val j15: Q = Q(
    "j15_sequence_match_context",
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      |  FROM events),
      |s1 AS (SELECT user_id, MIN(rn) AS r1 FROM o
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |w AS (SELECT o.*, s1.r1 FROM o LEFT JOIN s1 USING (user_id)),
      |v AS (
      |  SELECT user_id, ts, event_type,
      |    MAX(CASE WHEN event_type = 'click' AND rn > r1 THEN ts END) OVER
      |      (PARTITION BY user_id ORDER BY rn ASC
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click
      |  FROM w),
      |m AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND prev_click IS NOT NULL
      |              AND ts <= prev_click + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
      |      AS m_funnel,
      |    SUM(CASE WHEN event_type = 'purchase' AND prev_click IS NOT NULL
      |              AND ts <= prev_click + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
      |      AS n_hits,
      |    COUNT(*) AS n_events
      |  FROM v GROUP BY user_id)
      |SELECT user_id, CAST(m_funnel AS INT) AS m_funnel,
      |  CAST(n_hits AS BIGINT) AS n_hits,
      |  CAST(n_events AS BIGINT) AS n_events
      |FROM m
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.SequenceMatch.withMatch(
          Tables.events(s, dir), "user_id", unix_micros(col("ts")),
          col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "click",
              col("event_type") === "purchase"),
          "(?1).*(?2)(?t<=3600)(?3)", "__hit")
        .groupBy("user_id")
        .agg(max(col("__hit")).cast("int").as("m_funnel"),
             sum(col("__hit")).cast("long").as("n_hits"),
             count(lit(1)).cast("long").as("n_events"))
        .orderBy(asc_nulls_last("user_id")))

  // ---------------------------------------------------------------- e24

  /** e24 — `groupArrayMovingAvg(5)` analog (ClickHouse parametric
    * aggregates [public: CH docs]), completing e17's `groupArrayMovingSum`
    * twin: per user (the e17 %7 slice keeps output bounded), each event's
    * 5-frame moving average of value cents in (ts, event_id) order.
    * Faithful CH detail: the divisor is the WINDOW SIZE (5), not the
    * actual element count — the first 4 elements of each group average
    * over a short prefix divided by the full 5, and the division is
    * INTEGER. Rounding dialect (DELIBERATE divergence from CH): both
    * sides here use FLOOR division (`//` in DuckDB; the
    * `(s − pmod(s, 5)) div 5` identity in Spark, since Spark's `div`
    * truncates toward zero and the two diverge on a negative moving sum
    * — the r9 advice edge). ClickHouse `intDiv` TRUNCATES toward zero,
    * so on a NEGATIVE 5-frame moving sum this query floors where CH
    * would truncate — floor is chosen because it keeps the cross-engine
    * pair exact for ANY value range with no positivity precondition; a
    * CH-truncating variant is the same recipe with Spark's bare `div`
    * and `CAST(TRUNC(SUM(...)/5) AS BIGINT)` in the oracle. One bounded-frame window over
    * the e17 exchange shape — per-row state is 5 longs at any scale,
    * all int64, zero float. */
  val e24: Q = Q(
    "e24_group_array_moving_avg",
    """SELECT user_id, event_id,
      |  CAST(SUM(cents) OVER w AS BIGINT) AS msum5_cents,
      |  CAST(SUM(cents) OVER w // 5 AS BIGINT) AS mavg5_cents
      |FROM (SELECT user_id, event_id, ts,
      |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM events WHERE user_id % 7 = 0)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, dir)
        .where(col("user_id") % 7 === 0)
        .select(col("user_id"), col("event_id"), col("ts"),
                (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .withColumn("msum5_cents", sum(col("cents")).over(w).cast("long"))
        .withColumn("mavg5_cents",
          expr("(msum5_cents - pmod(msum5_cents, 5)) div 5").cast("long"))
        .select("user_id", "event_id", "msum5_cents", "mavg5_cents")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("event_id"))
    })

  // ---------------------------------------------------------------- h41

  /** h41 — `arrayCompact` + `arrayZip` analogs (ClickHouse array
    * functions [public: CH array-function docs]) over the tokenized
    * documents. `arrayCompact` removes CONSECUTIVE duplicate tokens —
    * compiled as an INDEXED `filter` HOF (keep position i iff i = 0 or
    * t[i] ≠ t[i−1]) — map-only, no explode, no shuffle beyond the final
    * sort; the dialect edge is the lambda index base (Spark 0-based `[]`
    * access vs DuckDB 1-based), handled per side. `arrayZip` is a REAL
    * two-array `zip_with` (tokens ⊗ their per-token char lengths,
    * rendered `tok:len`) — the Spark side exercises the codegen'd
    * `zip_with` builtin, the oracle the equivalent single-pass
    * transform. All-string/int, rule-6 serialization. */
  val h41: Q = Q(
    "h41_arr_compact_zip",
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |c AS (SELECT doc_id, t,
      |        list_filter(t, (x, i) -> i = 1 OR x <> t[i - 1]) AS ct
      |      FROM s)
      |SELECT doc_id,
      |  CAST(len(t) AS INT) AS n_toks,
      |  CAST(len(ct) AS INT) AS n_compact,
      |  ARRAY_TO_STRING(ct, '|') AS compact_toks,
      |  ARRAY_TO_STRING(list_transform(t,
      |    x -> x || ':' || CAST(LEN(x) AS VARCHAR)), '|') AS zipped
      |FROM c
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
                size(col("t")).cast("int").as("n_toks"),
                expr("filter(t, (x, i) -> i = 0 OR x != t[i - 1])").as("ct"),
                zip_with(col("t"),
                         transform(col("t"), x => length(x)),
                         (a, b) => concat(a, lit(":"), b.cast("string")))
                  .as("z"))
        .select(col("doc_id"), col("n_toks"),
                size(col("ct")).cast("int").as("n_compact"),
                array_join(col("ct"), "|").as("compact_toks"),
                array_join(col("z"), "|").as("zipped"))
        .orderBy(asc_nulls_last("doc_id")))

  // ---------------------------------------------------------------- j14

  /** j14 — mixed-gap sequence match
    * (`sequenceMatch('(?1).*(?2)(?3)')(...)` analog [public: CH
    * parametric-aggregate docs]): a signup anywhere before an ADJACENT
    * click→purchase pair — the pattern form mixing a `.*` gap with an
    * adjacency run, which neither j07 (single-gap forms) nor j10 (pure
    * runs) declared. The Spark side is COMPILED from the grammar by
    * [[graft.operators.SequenceMatch.withMatch]] (rn-chained window
    * minima + a lead-conjunction run flag, one shared per-user
    * exchange); the ORACLE is the independent string-render formulation
    * (j07's original recipe): the per-user event-type string in
    * (ts, event_id) order LIKE-scanned for `%signup%click purchase%` —
    * two formulations must agree (the d34/j10 pairing). The five type
    * names are substring-free of each other, so the LIKE is exact. */
  val j14: Q = Q(
    "j14_sequence_match_mixed",
    """SELECT user_id,
      |  CAST(seq LIKE '%signup%click purchase%' AS INT) AS m_mixed,
      |  CAST(n AS BIGINT) AS n_events
      |FROM (SELECT user_id,
      |        STRING_AGG(event_type, ' ' ORDER BY ts, event_id) AS seq,
      |        COUNT(*) AS n
      |      FROM events GROUP BY 1)
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.SequenceMatch.withMatch(
          Tables.events(s, dir), "user_id", unix_micros(col("ts")),
          col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "click",
              col("event_type") === "purchase"),
          "(?1).*(?2)(?3)", "__hit")
        .groupBy("user_id")
        .agg(max(col("__hit")).cast("int").as("m_mixed"),
             count(lit(1)).cast("long").as("n_events"))
        .orderBy(asc_nulls_last("user_id")))

  // ---------------------------------------------------------------- d52

  /** d52 — `groupUniqArray` analog (ClickHouse aggregate-function docs
    * [public]): per event type, the sorted DISTINCT user ids serialized
    * per rule 6, plus the distinct count — d11's collect_sorted keeps
    * duplicates, this is the set form CH users reach for beside it.
    * Spark `collect_set` is a hash-set aggregate state (bounded by the
    * per-group distinct cardinality, mergeable map-side); the sort is a
    * per-group array sort at emission, never a data-sized exchange
    * order. */
  val d52: Q = Q(
    "d52_group_uniq_array",
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_uniq,
      |  ARRAY_TO_STRING(list_sort(list_distinct(list(user_id))), '|') AS uniq_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct("user_id").cast("long").as("n_uniq"),
             array_join(array_sort(collect_set(col("user_id"))), "|")
               .as("uniq_users"))
        .orderBy(asc_nulls_last("event_type")))

  // ---------------------------------------------------------------- h42

  /** h42 — scalar array SET operations (ClickHouse `arrayIntersect` /
    * `arrayUnion`-shape / `arrayExcept`-shape analogs [public: CH
    * array-function docs]) between each document's odd-position and
    * even-position token sets (the index-parity split gives every doc two
    * non-trivial operand arrays with no slicing-dialect edge). All three
    * results are SORTED before serialization, because the engines'
    * element-order conventions differ (Spark's builtins keep first-array
    * order; the DuckDB side is composed from filter/distinct) — the
    * sorted set is the well-defined value (an EMPTY set renders NULL in
    * the DuckDB composition — COALESCE'd to '', the d50 dialect edge;
    * observed live on doc 110's empty intersection). Map-only codegen'd
    * builtins on the Spark side: array_intersect/array_union/
    * array_except. */
  val h42: Q = Q(
    "h42_arr_set_ops",
    """WITH s AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(string_split(text, ' '), (x, i) -> i % 2 = 1)) AS a,
      |    list_distinct(list_filter(string_split(text, ' '), (x, i) -> i % 2 = 0)) AS b
      |  FROM documents)
      |SELECT doc_id,
      |  COALESCE(ARRAY_TO_STRING(list_sort(list_distinct(
      |    list_filter(a, x -> list_contains(b, x)))), '|'), '') AS inter_toks,
      |  COALESCE(ARRAY_TO_STRING(list_sort(list_distinct(list_concat(a, b))), '|'),
      |    '') AS union_toks,
      |  COALESCE(ARRAY_TO_STRING(list_sort(list_distinct(
      |    list_filter(a, x -> NOT list_contains(b, x)))), '|'), '') AS except_toks
      |FROM s
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
                array_distinct(expr(
                  "filter(split(text, ' '), (x, i) -> i % 2 = 0)")).as("a"),
                array_distinct(expr(
                  "filter(split(text, ' '), (x, i) -> i % 2 = 1)")).as("b"))
        .select(col("doc_id"),
                array_join(array_sort(array_intersect(col("a"), col("b"))), "|")
                  .as("inter_toks"),
                array_join(array_sort(array_union(col("a"), col("b"))), "|")
                  .as("union_toks"),
                array_join(array_sort(array_except(col("a"), col("b"))), "|")
                  .as("except_toks"))
        .orderBy(asc_nulls_last("doc_id")))

  // ---------------------------------------------------------------- e25

  /** e25 — running DISTINCT count (ClickHouse
    * `runningAccumulate(uniqExactState(...))` analog [public: CH docs]):
    * per user (the e17 %7 slice), each event's count of distinct event
    * types seen SO FAR in (ts, event_id) order. Windowed count-distinct
    * doesn't exist in either engine's window set; the closed form is the
    * FIRST-OCCURRENCE flag (row_number = 1 over (user, type)) cumulated
    * by the ordered per-user window — two exchanges ((user,type) then
    * user), each a plain hash partition, per-key window state one long.
    * All integer. */
  val e25: Q = Q.fromSql(
    "e25_running_distinct",
    """SELECT user_id, event_id, run_uniq_types FROM (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS run_uniq_types
      |  FROM (SELECT user_id, event_id, ts,
      |          ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                             ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      |        FROM events WHERE user_id % 7 = 0))
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- k39

  /** k39 — cross-document chunk-duplication fraction (the paragraph-level
    * dedup metric of large-corpus cleaning [public: Rae et al. 2021
    * (Gopher/MassiveText); Penedo et al. 2023 (RefinedWeb); Soldaini et
    * al. 2024 (Dolma)] — documents whose "paragraphs" mostly appear
    * elsewhere in the corpus are boilerplate/mirror pages and get
    * dropped). The fixture corpus has no paragraph marks, so the
    * paragraph unit is the NON-overlapping 20-token chunk (k35's chunk
    * discipline, stride = size): md5 each chunk, count DISTINCT documents
    * per chunk hash corpus-wide, and per document report the fraction of
    * its chunks appearing in ≥ 2 documents. k30 measures WITHIN-doc
    * repetition; this is the ACROSS-corpus complement. The drop flag
    * compares integers (10·n_dup ≥ 3·n_chunks, threshold 0.3) — no float
    * decides it; the fraction is one division of bit-identical ints.
    * Shape: linear explode → one hash-count on the chunk digest → a
    * digest-keyed join back → per-doc agg; every exchange is a plain
    * hash partition on digest or doc id, state bounded by chunk counts. */
  val k39: Q = Q(
    "k39_chunk_dup_fraction",
    """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id,
      |        MD5(ARRAY_TO_STRING(toks[st : LEAST(st + 19, LEN(toks))], ' ')) AS h
      |      FROM (SELECT doc_id, UNNEST(RANGE(1, LEN(toks) + 1, 20)) AS st, toks
      |            FROM t)),
      |g AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      |      FROM c GROUP BY h),
      |d AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |        CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |      FROM c JOIN g USING (h) GROUP BY c.doc_id)
      |SELECT doc_id, n_chunks, n_dup,
      |  CAST(n_dup AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS dup_frac,
      |  CAST(CASE WHEN 10 * n_dup >= 3 * n_chunks THEN 1 ELSE 0 END AS INT)
      |    AS drop_flag
      |FROM d
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      // r19 narrowing (the Spans r18 argument): the chunk digest is an
      // INTERNAL group/join key — never output — so it rides as 16-byte
      // binary (unhex(md5)) instead of the 32-char hex string, halving
      // the key column through the count exchange and the join back.
      // hex↔binary is a bijection: grouping, countDistinct, and the join
      // equality are unchanged (the oracle keeps its hex formulation and
      // only ever tests digest equality).
      val c = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(__t), 20), " +
          "st -> unhex(md5(concat_ws(' ', slice(__t, st, 20)))))")).as("h"))
      val g = c.groupBy("h")
        .agg(countDistinct("doc_id").cast("long").as("nd"))
      c.join(g, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_chunks"),
             sum(when(col("nd") >= 2, 1).otherwise(0)).cast("long").as("n_dup"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
                (col("n_dup").cast("double") / col("n_chunks").cast("double"))
                  .as("dup_frac"),
                when(lit(10) * col("n_dup") >= lit(3) * col("n_chunks"), 1)
                  .otherwise(0).cast("int").as("drop_flag"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  // ---------------------------------------------------------------- f05

  /** f05 — `LIMIT n BY col` analog (ClickHouse's distinctive per-group
    * limit clause [public: CH SELECT docs], distinct from LIMIT): the 2
    * most recent events PER USER (the e17 %7 slice bounds output),
    * keeping whole rows — relationally `row_number() ≤ n` over the group
    * order, which Spark plans through the WindowGroupLimit pushdown (only
    * per-partition top-n candidates reach the rank exchange — d51's
    * plan-pinned shape, here on the row-preserving form CH users write
    * daily). (ts DESC, event_id DESC) is a total order, so both engines
    * keep identical rows; all integer/string. */
  val f05: Q = Q.fromSql(
    "f05_limit_by",
    """SELECT user_id, event_id, event_type,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE user_id % 7 = 0)
      |WHERE rn <= 2
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- h43

  /** h43 — `arraySort(lambda)` analog (ClickHouse's sort-by-key array
    * function [public: CH array-function docs]): tokens sorted by
    * (length ASC, lexicographic ASC). TWO INDEPENDENT formulations: the
    * Spark side exercises the real three-arg `array_sort` COMPARATOR
    * lambda (codegen'd; returns −1/0/1), the oracle the classic padded
    * sort-key trick (`lpad(len,4,'0') || ':' || tok`, sort, strip — the
    * fixture's tokens are colon-free, and 4 digits bound any fixture
    * token length) — the two must agree element-for-element, which also
    * pins that Spark's comparator sort is STABLE-equivalent here because
    * the (length, value) key is total. Map-only, no shuffle beyond the
    * final sort. */
  val h43: Q = Q(
    "h43_arr_sort_by",
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |SELECT doc_id,
      |  ARRAY_TO_STRING(list_transform(
      |    list_sort(list_transform(t,
      |      x -> lpad(CAST(len(x) AS VARCHAR), 4, '0') || ':' || x)),
      |    s -> substr(s, 6)), '|') AS by_len,
      |  CAST(len(t) AS INT) AS n_toks
      |FROM s
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
                array_join(expr(
                  """array_sort(t, (l, r) ->
                    |  CASE WHEN length(l) < length(r) THEN -1
                    |       WHEN length(l) > length(r) THEN 1
                    |       WHEN l < r THEN -1 WHEN l > r THEN 1
                    |       ELSE 0 END)""".stripMargin), "|").as("by_len"),
                size(col("t")).cast("int").as("n_toks"))
        .orderBy(asc_nulls_last("doc_id")))

  // ---------------------------------------------------------------- e26

  /** e26 — `nonNegativeDerivative(value, ts)` analog (ClickHouse window
    * function [public: CH window-function docs]), completing e12's
    * running derivative: the per-second rate of change of value cents per
    * user, CLAMPED to 0 when the value decreased (the monotonic-counter
    * reading — CH built it for Prometheus-style gauges). The clamp
    * DECIDES on integers (Δcents ≤ 0), never on a float; the emitted
    * rate is e12's proven exact form — one float division of two exact
    * int64 casts (Δcents·1e6 / Δµs) — and first rows are NULL in both
    * engines. One lag window on the e17 slice, all else map-only. */
  val e26: Q = Q(
    "e26_nonneg_derivative",
    """SELECT user_id, event_id,
      |  CASE WHEN d IS NULL THEN NULL
      |       WHEN d <= 0 THEN 0.0
      |       ELSE CAST(d * 1000000 AS DOUBLE) / CAST(dt AS DOUBLE) END
      |    AS rate_cents_per_s
      |FROM (
      |  SELECT user_id, event_id,
      |    c - LAG(c) OVER w AS d, us - LAG(us) OVER w AS dt
      |  FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
      |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |        FROM events WHERE user_id % 7 = 0)
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST))
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("us"), asc_nulls_last("event_id"))
      Tables.events(s, dir)
        .where(col("user_id") % 7 === 0)
        .select(col("user_id"), col("event_id"),
                unix_micros(col("ts")).as("us"),
                (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .withColumn("d", col("c") - lag("c", 1).over(w))
        .withColumn("dt", col("us") - lag("us", 1).over(w))
        .select(col("user_id"), col("event_id"),
                when(col("d").isNull, lit(null).cast("double"))
                  .when(col("d") <= 0, lit(0.0))
                  .otherwise((col("d") * 1000000L).cast("double") /
                             col("dt").cast("double"))
                  .as("rate_cents_per_s"))
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("event_id"))
    })

  // ---------------------------------------------------------------- h44

  /** h44 — `arrayRotateLeft` / `arrayShiftLeft` analogs (ClickHouse 23.8
    * array functions [public: CH array-function docs]) over the tokenized
    * documents: rotate by 3 (mod length — CH wraps) and shift by 3 with a
    * `'_'` fill, length preserved. Pure slice/concat compositions —
    * map-only, codegen'd, no explode; the only dialect care is slice
    * OUT-OF-RANGE semantics (DuckDB's `t[4:n]` self-clamps, Spark's
    * `slice(t, 4, len)` needs `greatest(0, n−3)` because a negative
    * length THROWS — a recorded drift edge, handled per side). */
  val h44: Q = Q(
    "h44_arr_rotate_shift",
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |r AS (SELECT doc_id, t, len(t) AS n, 3 % len(t) AS k FROM s
      |      WHERE len(t) > 0)
      |SELECT doc_id,
      |  ARRAY_TO_STRING(list_concat(t[k + 1:n], t[1:k]), '|') AS rot3,
      |  ARRAY_TO_STRING(list_concat(t[4:n], ['_', '_', '_'][1:LEAST(3, n)]), '|')
      |    AS shl3
      |FROM r
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) > 0)
        .withColumn("n", size(col("t")))
        .withColumn("k", pmod(lit(3), col("n")))
        .select(col("doc_id"),
                array_join(concat(
                  expr("slice(t, k + 1, n - k)"),
                  expr("slice(t, 1, k)")), "|").as("rot3"),
                array_join(concat(
                  expr("slice(t, 4, greatest(0, n - 3))"),
                  expr("slice(array('_', '_', '_'), 1, least(3, n))")), "|")
                  .as("shl3"))
        .orderBy(asc_nulls_last("doc_id")))

  // ---------------------------------------------------------------- e27

  /** e27 — `runningConcurrency(begin, end)` analog (ClickHouse
    * [public: CH function docs]): for every purchase's 2-hour attention
    * interval, how many of the SAME USER's intervals are open at its
    * start — the per-row face of e16's sweep (e16 reports only the
    * global max). Closed form: explode each interval into (+1 at start,
    * −1 at end) sweep events, one cumulative window in (t, kind,
    * event_id) order with ENDS BEFORE STARTS at equal t (kind 0 < 1 —
    * the half-open [s, e) convention both engines share by the shared
    * ORDER BY), keep the start rows. All integer; the explode is 2×
    * linear, the window one per-user exchange. */
  val e27: Q = Q(
    "e27_running_concurrency",
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + 7200000000 AS e
      |  FROM events WHERE event_type = 'purchase'),
      |ev AS (
      |  SELECT user_id, event_id, s AS t, 1 AS kind, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT user_id, event_id, e AS t, 0 AS kind, -1 AS delta FROM iv),
      |c AS (
      |  SELECT user_id, event_id, kind,
      |    CAST(SUM(delta) OVER (PARTITION BY user_id
      |      ORDER BY t ASC, kind ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS concurrency
      |  FROM ev)
      |SELECT user_id, event_id, concurrency
      |FROM c WHERE kind = 1
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val iv = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
                unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + 7200000000L)
      val ev = iv.select(col("user_id"), col("event_id"), col("s").as("t"),
                         lit(1).as("kind"), lit(1L).as("delta"))
        .unionByName(iv.select(col("user_id"), col("event_id"),
                               col("e").as("t"), lit(0).as("kind"),
                               lit(-1L).as("delta")))
      val w = Window.partitionBy("user_id")
        .orderBy(asc("t"), asc("kind"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("concurrency", sum("delta").over(w).cast("long"))
        .filter(col("kind") === 1)
        .select("user_id", "event_id", "concurrency")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("event_id"))
    })

  // ---------------------------------------------------------------- h45

  /** h45 — `arrayFill(cond, arr)` analog (ClickHouse array functions
    * [public: CH docs]): forward-fill — elements failing the condition
    * (negative grid values here) are replaced by the LAST preceding
    * element that passed; LEADING failures stay unchanged (the CH
    * semantics). Elements quantize first onto h36's exact integer grid
    * (`FLOOR(x·2¹⁴)`), so the whole op is int64. TWO INDEPENDENT
    * formulations: the Spark side is ONE `aggregate` fold whose state is
    * (filled-prefix, last-good) — map-only, no explode; the oracle
    * unnests to an `IGNORE NULLS` running last_value window (the e10
    * machinery), then LEFT JOINs back to embeddings with COALESCE('')
    * so a vec with an EMPTY embedding array still emits its row (the
    * h36/d50 empty-group dialect edge — the unnest CTE drops it, the
    * Spark fold renders ''). 15,556 of 32,000 fixture cells actually
    * fill — non-degenerate on both branches. */
  val h45: Q = Q(
    "h45_arr_fill",
    """WITH u AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 16384) AS BIGINT)) AS q
      |  FROM embeddings),
      |e AS (SELECT vec_id, t.i AS i, q[t.i] AS v
      |      FROM u, unnest(generate_series(1, len(q))) AS t(i)),
      |f AS (SELECT vec_id, i,
      |        COALESCE(LAST_VALUE(CASE WHEN v >= 0 THEN v END IGNORE NULLS)
      |          OVER (PARTITION BY vec_id ORDER BY i
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), v)
      |          AS fv
      |      FROM e),
      |g AS (SELECT vec_id,
      |        ARRAY_TO_STRING(list(CAST(fv AS VARCHAR) ORDER BY i), '|') AS filled
      |      FROM f GROUP BY vec_id)
      |SELECT u.vec_id, COALESCE(g.filled, '') AS filled
      |FROM u LEFT JOIN g USING (vec_id)
      |ORDER BY u.vec_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("q", transform(col("embedding"),
          e => floor(e.cast("double") * 16384).cast("long")))
        .select(col("vec_id"),
                array_join(expr(
                  """aggregate(q,
                    |  named_struct('a', cast(array() as array<bigint>),
                    |               'lg', cast(null as bigint)),
                    |  (st, x) -> named_struct(
                    |    'a', concat(st.a, array(CASE WHEN x >= 0 THEN x
                    |                            ELSE coalesce(st.lg, x) END)),
                    |    'lg', CASE WHEN x >= 0 THEN x ELSE st.lg END),
                    |  st -> transform(st.a, v -> cast(v as string)))""".stripMargin),
                  "|").as("filled"))
        .orderBy(asc_nulls_last("vec_id")))

  // ---------------------------------------------------------------- d53

  /** d53 — `mapPopulateSeries` analog (ClickHouse map functions [public:
    * CH docs]): per event type, the (k → count) map of high-value rows'
    * `props.k` JSON keys POPULATED over the full contiguous [min, max]
    * key range with zeros — the step CH users run before plotting or
    * joining sparse keyed series (the value > 200 slice leaves 333 of
    * 471 cells to fill at sf0.01, so the fill path is hot, not
    * decorative). Shape: one hash agg to the present cells, a per-type
    * bounds agg (5 rows), a generated dense key spine (explode of
    * `sequence(mn, mx)` — bounded by the key DOMAIN, not the data), and
    * one left join back; serialized sorted per rule 6, all integer.
    * The spine rides [[Guards.boundedSequence]] (span ≤ 1,000,000
    * enforced per row at runtime): "bounded by the key domain" is only
    * true when the domain is, and one outlier key (a timestamp-valued
    * `k` in a single JSON blob) would otherwise explode ~10¹² rows
    * before any filter could intervene — the r9 verdict watch item,
    * closed with a loud runtime error instead of a silent bomb. */
  val d53: Q = Q(
    "d53_map_populate_series",
    """WITH kv AS (
      |  SELECT event_type, CAST(json_extract(props, 'k') AS BIGINT) AS k,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events WHERE value > 200 GROUP BY 1, 2),
      |b AS (SELECT event_type, MIN(k) AS mn, MAX(k) AS mx FROM kv GROUP BY 1),
      |g AS (SELECT b.event_type, t.k AS k
      |      FROM b, unnest(generate_series(b.mn, b.mx)) AS t(k)),
      |f AS (SELECT g.event_type, g.k, COALESCE(kv.n, 0) AS n
      |      FROM g LEFT JOIN kv ON kv.event_type = g.event_type AND kv.k = g.k)
      |SELECT event_type,
      |  ARRAY_TO_STRING(list(CAST(k AS VARCHAR) || ':' || CAST(n AS VARCHAR)
      |    ORDER BY k), '|') AS series,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
      |FROM f GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val kv = Tables.events(s, dir)
        .filter(col("value") > 200)
        .select(col("event_type"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type", "k")
        .agg(count(lit(1)).cast("long").as("n"))
      val g = kv.groupBy("event_type")
        .agg(min("k").as("mn"), max("k").as("mx"))
        .select(col("event_type").as("g_type"),
                explode(Guards.boundedSequence(col("mn"), col("mx"),
                  1000000L, "d53 mapPopulateSeries")).as("g_k"))
      g.join(kv, col("g_type") === col("event_type") && col("g_k") === col("k"),
             "left")
        .select(col("g_type").as("event_type"), col("g_k").as("k"),
                coalesce(col("n"), lit(0L)).as("n"))
        .groupBy("event_type")
        .agg(array_join(transform(array_sort(collect_list(
               struct(col("k"), col("n")))),
               p => concat(p.getField("k").cast("string"), lit(":"),
                           p.getField("n").cast("string"))), "|").as("series"),
             count(lit(1)).cast("long").as("n_keys"),
             sum(when(col("n") === 0, 1).otherwise(0)).cast("long")
               .as("n_filled"))
        .orderBy(asc_nulls_last("event_type"))
    })

  def ops: Vector[Q] = Vector(j13, e24, h41, j14, d52, h42, e25, k39, f05,
                              j15, h43, e26, h44, e27, h45, d53)
}
