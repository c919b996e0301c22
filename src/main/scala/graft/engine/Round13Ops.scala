package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

/** Round-13 declared queries — the r10 verdict's brief made real:
  *
  *  - `j16_sequence_match_two_bounds` — the multi-time-constraint
  *    `sequenceMatch` form the per-row compiler rejects loudly, decided
  *    EXACTLY by [[graft.operators.SequenceMatch.foldMatch]]'s bounded
  *    min/max-frontier fold (round 10 wrote the fold; this declares its
  *    first oracle-gated consumer).
  *  - `j17_sequence_match_ch_skip` — the ClickHouse skip-rule adjacency
  *    dialect via `withMatch(skipNonMatching = true)`, declared SIDE BY
  *    SIDE with the stream-adjacency reading so the dialect divergence
  *    is visible in the result itself (84 of 150 sf0.01 users differ).
  *  - `h46_json_extract_schema` — the full-schema `from_json` family
  *    (CH `JSONExtract`): struct parse, array-document parse, explode —
  *    vs a DuckDB `json_extract` oracle that never sees the Spark-built
  *    array document (independent formulations).
  *  - `f06_limit_offset_by` — CH `LIMIT n, m BY col` (the OFFSET form
  *    of f05).
  *  - `d54_group_array_last` — CH `groupArrayLast(N)` (d51's DESC
  *    mirror: the last N in arrival order).
  *  - `h47_map_filter_apply` — CH `mapFilter`/`mapApply` over REAL
  *    MapType values (not d25's serialized strings): build, filter by a
  *    value predicate, transform values, serialize sorted.
  *
  * Every query follows the SURVEY §2 determinism rules (explicit NULLS,
  * total ORDER BY, integer-exact arithmetic end-to-end).
  */
object Round13Ops {

  // ---------------------------------------------------------------- j16

  /** j16 — `sequenceMatch('(?1)(?t<=14400)(?2)(?t>86400)(?3)')` analog
    * [public: CH parametric-aggregate docs]: a click within 4 hours of
    * some preceding signup, then a purchase MORE than a day after such a
    * click — TWO time constraints, the form the per-row window compiler
    * rejects loudly (greedy opener choice is provably wrong there: the
    * feasible set is a Pareto frontier, not an extremum). Decided
    * EXACTLY by [[graft.operators.SequenceMatch.foldMatch]]: one sorted
    * per-key fold whose state is (min, max) completion time per pattern
    * position — each gap constraint is one-sided in t_prev, so the two
    * extrema are a sufficient statistic and the fold never commits to an
    * opener. Per-key state is 2·3+1 longs at any scale; one hash
    * exchange. BOTH bounds bite in the fixture: at sf0.01, relaxing
    * `t<=14400` → matched 82 users (vs 79), relaxing `t>86400` →
    * n_hits 598 (vs 570). The ORACLE is an independent reachability
    * formulation — per-position completion sets via rn-ordered
    * DISTINCT joins (affordable at oracle SF; the fold must agree
    * set-for-set). All comparisons exact µs integers; ties break on
    * event_id in both engines. */
  val j16: Q = Q(
    "j16_sequence_match_two_bounds",
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      |  FROM events),
      |p2 AS (
      |  SELECT DISTINCT b.user_id, b.rn, b.ts
      |  FROM o a JOIN o b ON a.user_id = b.user_id AND a.rn < b.rn
      |  WHERE a.event_type = 'signup' AND b.event_type = 'click'
      |    AND b.ts <= a.ts + INTERVAL 14400 SECOND),
      |p3 AS (
      |  SELECT DISTINCT b.user_id, b.rn
      |  FROM p2 a JOIN o b ON a.user_id = b.user_id AND a.rn < b.rn
      |  WHERE b.event_type = 'purchase' AND b.ts > a.ts + INTERVAL 86400 SECOND),
      |h AS (SELECT user_id, COUNT(*) AS n_hits FROM p3 GROUP BY user_id),
      |base AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
      |SELECT base.user_id,
      |  CAST(CASE WHEN h.n_hits IS NOT NULL THEN 1 ELSE 0 END AS INT) AS matched,
      |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(base.n_events AS BIGINT) AS n_events
      |FROM base LEFT JOIN h USING (user_id)
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.SequenceMatch.foldMatch(
          Tables.events(s, dir), "user_id", unix_micros(col("ts")),
          col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "click",
              col("event_type") === "purchase"),
          "(?1)(?t<=14400)(?2)(?t>86400)(?3)")
        .orderBy(asc_nulls_last("user_id")))

  // ---------------------------------------------------------------- j17

  /** j17 — the ClickHouse skip-rule adjacency dialect
    * (`sequenceMatch('(?1)(?2)(?2)')` [public: CH parametric-aggregate
    * docs state events matching no condition are skipped before pattern
    * evaluation]) DECLARED BESIDE the stream-adjacency reading, honoring
    * the compiler scaladoc's promise: a click followed by two purchases
    * — `m_strict` demands the three be literally consecutive in the
    * event stream (nothing at all in between), `m_skip` only within the
    * condition-matching (click|purchase) subsequence, which is exactly
    * CH's skip rule (`withMatch(skipNonMatching = true)` pre-filters —
    * semantics-preserving for `.*`/time gaps, dialect-changing for
    * adjacency). The fixture separates them hard: 63 vs 147 of 150
    * sf0.01 users match, 84 differ. Both modes compile to
    * lead-conjunction run flags on ONE per-user exchange each; the
    * oracle is the equivalent window SQL over the raw resp. pre-filtered
    * stream. `n_cond_events` counts the surviving (condition-matching)
    * rows — the CH skip-rule reading of the frame. */
  val j17: Q = Q(
    "j17_sequence_match_ch_skip",
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type, 1) OVER w AS n1, LEAD(event_type, 2) OVER w AS n2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)),
      |strict AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'click' AND n1 = 'purchase'
      |              AND n2 = 'purchase' THEN 1 ELSE 0 END) AS m_strict,
      |    COUNT(*) AS n_events
      |  FROM s GROUP BY user_id),
      |f AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type, 1) OVER w AS n1, LEAD(event_type, 2) OVER w AS n2
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)),
      |sk AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'click' AND n1 = 'purchase'
      |              AND n2 = 'purchase' THEN 1 ELSE 0 END) AS m_skip,
      |    COUNT(*) AS n_cond_events
      |  FROM f GROUP BY user_id)
      |SELECT strict.user_id, CAST(m_strict AS INT) AS m_strict,
      |  CAST(COALESCE(m_skip, 0) AS INT) AS m_skip,
      |  CAST(COALESCE(n_cond_events, 0) AS BIGINT) AS n_cond_events,
      |  CAST(n_events AS BIGINT) AS n_events
      |FROM strict LEFT JOIN sk USING (user_id)
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val conds = Seq(col("event_type") === "click",
                      col("event_type") === "purchase")
      def modeAgg(skip: Boolean, mName: String, nName: String) =
        graft.operators.SequenceMatch.withMatch(
            ev, "user_id", unix_micros(col("ts")), col("event_id"),
            conds, "(?1)(?2)(?2)", "__m", skipNonMatching = skip)
          .groupBy("user_id")
          .agg(max(col("__m")).cast("int").as(mName),
               count(lit(1)).cast("long").as(nName))
      modeAgg(skip = false, "m_strict", "n_events")
        .join(modeAgg(skip = true, "m_skip", "n_cond_events"),
              Seq("user_id"), "left")
        .select(col("user_id"), col("m_strict"),
                coalesce(col("m_skip"), lit(0)).cast("int").as("m_skip"),
                coalesce(col("n_cond_events"), lit(0L)).cast("long")
                  .as("n_cond_events"),
                col("n_events"))
        .orderBy(asc_nulls_last("user_id"))
    })

  // ---------------------------------------------------------------- h46

  /** h46 — the full-schema JSON extraction family (ClickHouse
    * `JSONExtract(json, 'Tuple(...)')` / `JSONExtractArrayRaw` [public:
    * CH JSON-function docs]; h08 covers only scalar path extraction):
    * `events.props` parsed with an EXPLICIT schema. Two real parse paths
    * on the Spark side: (a) per-row `from_json(props, 'k INT')` struct
    * extraction feeding `max_k`; (b) a per-user JSON ARRAY document
    * assembled from the rows (deterministic event_id order), parsed with
    * `from_json(ArrayType(Struct(k INT)))`, EXPLODED back to elements,
    * feeding `sum_k`/`n_items` — schema-checked array-of-struct
    * round-trip, the shape `JSONExtract(Array(Tuple(...)))` users port.
    * The ORACLE never builds the array document: it extracts `$.k` per
    * row directly (`json_extract`) and aggregates — the two independent
    * formulations must agree on every user. Parsing is Jackson-backed
    * codegen'd `JsonToStructs` (no UDF); the array build is one
    * sorted-struct collect per user — state bounded by a user's events,
    * the same posture as every j-block fold.
    *
    * DIRTY-DATA POSTURE (not just the clean fixture): admission into the
    * array leg is `try_parse_json(props).isNotNull` — the Spark-4 variant
    * parse, which is TRUE for any well-formed JSON document (object,
    * array, scalar, the `null` literal) and NULL for malformed text or
    * SQL NULL, i.e. the exact mirror of the oracle's `json_valid`. (The
    * earlier `from_json(...).isNotNull` guard was a NO-OP: PERMISSIVE
    * `from_json` returns a non-null all-null-field struct for malformed
    * input — r12 ADVICE.) A valid NON-OBJECT element (`[1,2]`, `5`,
    * `null`) would still poison the per-user array document — probed:
    * `from_json('[{"k":1},[1,2]]', array<struct>)` is NULL — so each
    * admitted element contributes its RAW text when it is an object
    * (trimmed text starts with `{`; valid JSON makes that test exact)
    * and the placeholder `{}` otherwise, which parses to a null-`k`
    * struct: counted by `n_items`, invisible to `sum_k` — precisely the
    * oracle's `CAST(json_extract(non_object, '$.k') AS INT) IS NULL`
    * semantics. Pinned on a synthetic dirty fixture in Round13Spec.
    * The legs meet in a LEFT join from the all-users row path (its
    * groupBy sees every user), so a user with zero parseable props
    * still reports `n_items = 0` instead of vanishing. */
  def h46Plan(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val arrSchema = ArrayType(StructType(Seq(StructField("k", IntegerType))))
    val rowStruct = from_json(col("props"), "k INT",
                              Map.empty[String, String])
    val validJson = try_parse_json(col("props")).isNotNull
    // the JSON spec allows all four whitespace chars before the root
    // token — a bare ltrim trims spaces only and would misroute a
    // tab-prefixed object to the placeholder (counted, not summed)
    val elemText = when(
      startswith(expr("trim(LEADING ' \t\r\n' FROM props)"), lit("{")),
      col("props")).otherwise(lit("{}"))
    val arrPath = ev
      .filter(validJson)
      .select(col("user_id"), col("event_id"), elemText.as("__elem"))
      .groupBy("user_id")
      .agg(concat(lit("["),
             array_join(transform(
               array_sort(collect_list(struct(col("event_id"), col("__elem")))),
               p => p.getField("__elem")), ","),
             lit("]")).as("doc"))
      .select(col("user_id"),
              explode(from_json(col("doc"), arrSchema)).as("e"))
      .groupBy("user_id")
      .agg(sum(col("e.k")).cast("long").as("sum_k"),
           count(lit(1)).cast("long").as("n_items"))
    val rowPath = ev
      .select(col("user_id"),
              when(validJson, rowStruct.getField("k")).as("k"))
      .groupBy("user_id")
      .agg(max(col("k")).cast("int").as("max_k"))
    rowPath.join(arrPath, Seq("user_id"), "left")
      .select(col("user_id"), col("sum_k"), col("max_k"),
              coalesce(col("n_items"), lit(0L)).cast("long").as("n_items"))
      .orderBy(asc_nulls_last("user_id"))
  }

  val h46: Q = Q(
    "h46_json_extract_schema",
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN props IS NOT NULL AND json_valid(props)
      |           THEN CAST(json_extract(props, '$.k') AS INT) END) AS BIGINT)
      |    AS sum_k,
      |  CAST(MAX(CASE WHEN props IS NOT NULL AND json_valid(props)
      |           THEN CAST(json_extract(props, '$.k') AS INT) END) AS INT)
      |    AS max_k,
      |  CAST(COUNT(CASE WHEN props IS NOT NULL AND json_valid(props)
      |             THEN 1 END) AS BIGINT) AS n_items
      |FROM events GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => h46Plan(Tables.events(s, dir)))

  // ---------------------------------------------------------------- f06

  /** f06 — `LIMIT n, m BY col` analog (ClickHouse's OFFSET form of the
    * per-group limit clause [public: CH SELECT docs]; f05 declares the
    * plain `LIMIT m BY`): skip the single most recent event per user,
    * keep the next 2 — `rn > n AND rn <= n + m` on f05's
    * WindowGroupLimit shape (the rank filter's upper bound still prunes
    * to per-partition top-(n+m) candidates before the exchange). Same
    * (ts, event_id) DESC total order ⇒ identical rows both engines. */
  val f06: Q = Q.fromSql(
    "f06_limit_offset_by",
    """SELECT user_id, event_id, event_type,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE user_id % 7 = 0)
      |WHERE rn > 1 AND rn <= 3
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- d54

  /** d54 — `groupArrayLast(N)` analog (ClickHouse array aggregates
    * [public: CH docs]) — d51's DESC mirror: per event type the 5 MOST
    * RECENT value cents, serialized in ARRIVAL (ts, event_id ASC) order
    * (CH keeps the last N in insertion order). Same WindowGroupLimit
    * recovery of the bounded aggregate state — the rank runs DESC so
    * only per-partition newest-5 candidates reach the exchange — then a
    * sorted-struct render on the (µs, event_id) total order. All
    * integer/string. */
  val d54: Q = Q(
    "d54_group_array_last",
    """SELECT event_type,
      |  ARRAY_TO_STRING(list(CAST(c AS VARCHAR) ORDER BY ts ASC, event_id ASC), '|')
      |    AS last5,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept
      |FROM (
      |  SELECT event_type, ts, event_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM (SELECT event_type, ts, event_id,
      |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |        FROM events))
      |WHERE rn <= 5
      |GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
                unix_micros(col("ts")).as("tus"),
                (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("tus"), desc("event_id"))))
        .filter(col("rn") <= 5)
        .groupBy("event_type")
        .agg(array_join(transform(
               array_sort(collect_list(struct(col("tus"), col("event_id"),
                                              col("c")))),
               p => p.getField("c").cast("string")), "|").as("last5"),
             count(lit(1)).cast("long").as("n_kept"))
        .orderBy(asc_nulls_last("event_type"))
    })

  // ---------------------------------------------------------------- h47

  /** h47 — `mapFilter` / `mapApply` analogs (ClickHouse map functions
    * [public: CH map-function docs]) over REAL `MapType` values — d25
    * declares the map-valued AGGREGATION but serializes straight to
    * strings; this declares the map TRANSFORMS CH users port:
    * `map_from_entries` builds the per-day (event_type → cents) map,
    * `map_filter` keeps even-cent entries (the value-predicate form),
    * `transform_values` rescales survivors to whole units (cents div
    * 100 — all sums positive in the fixture, trunc = floor), then the
    * d25 sorted-serialization renders the result (keys are unique and
    * prefix-free, so sorting the `k:v` strings IS key order). A day
    * whose entries ALL fail the predicate serializes as NULL on both
    * engines (DuckDB STRING_AGG skips all-NULL groups; the Spark side
    * maps the empty render to NULL explicitly). Values ride decimal(18,2)
    * (the f06/d54 route: inputs are 2-dp, so ·100 is integral BY
    * CONSTRUCTION and the BIGINT cast cannot hit the Spark-truncates /
    * DuckDB-rounds divergence a sub-cent residue under 18,6 could); the
    * whole transform chain is codegen'd HOFs on a vocab-sized frame
    * (5 types × days). */
  val h47: Q = Q(
    "h47_map_filter_apply",
    """WITH per AS (
      |  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_c
      |  FROM events GROUP BY 1, 2)
      |SELECT day,
      |  STRING_AGG(CASE WHEN sum_c % 2 = 0
      |                  THEN event_type || ':' || CAST(sum_c // 100 AS VARCHAR)
      |             END, ','
      |             ORDER BY event_type || ':' || CAST(sum_c // 100 AS VARCHAR) ASC)
      |    AS kept_map,
      |  CAST(SUM(CASE WHEN sum_c % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) AS BIGINT) AS n_total
      |FROM per GROUP BY day
      |ORDER BY day ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long")
               .as("sum_c"))
        .groupBy("day")
        .agg(map_from_entries(collect_list(
               struct(col("event_type"), col("sum_c")))).as("m"),
             count(lit(1)).cast("long").as("n_total"))
        .withColumn("app", expr(
          "transform_values(map_filter(m, (k, v) -> v % 2 = 0), " +
          "(k, v) -> v div 100)"))
        .withColumn("rendered", array_join(sort_array(expr(
          "transform(map_entries(app), " +
          "e -> concat(e.key, ':', cast(e.value as string)))")), ","))
        .select(col("day"),
                when(col("rendered") === "", lit(null).cast("string"))
                  .otherwise(col("rendered")).as("kept_map"),
                expr("cardinality(app)").cast("long").as("n_kept"),
                col("n_total"))
        .orderBy(asc_nulls_last("day")))

  // ---------------------------------------------------------------- j18

  /** j18 — time-bounded `sequenceCount` analog
    * (`sequenceCount('(?1)(?t<=14400)(?2)')` [public: CH
    * parametric-aggregate docs]): the number of SPAN-DISJOINT
    * signup→click chains with the click within 4 hours, per user —
    * j08 counts the unbounded `.*` form via bracket matching; this is
    * the time-constrained member, computed by
    * [[graft.operators.SequenceMatch.countChainsBounded]]'s 2-long
    * restart fold (best-opener-since-restart + count; the
    * earliest-ending greedy is both CH's documented restart behavior
    * and provably count-maximal — the interval-scheduling exchange
    * argument). Non-trivial at sf0.01: 130 chains over 90 of 150 users,
    * max 4 per user. The ORACLE is an independent implementation of the
    * same deterministic automaton — a recursive CTE advancing every
    * user one event per step (b09's recursion posture; state columns,
    * not a fold) — so the two sides share only the semantics, not the
    * mechanism. All comparisons exact µs integers; ties break on
    * event_id. */
  val j18: Q = Q(
    "j18_sequence_count_bounded",
    """WITH RECURSIVE o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      |  FROM events),
      |mx AS (SELECT user_id, MAX(rn) AS mrn FROM o GROUP BY user_id),
      |st AS (
      |  SELECT user_id, 0 AS rn, CAST(NULL AS TIMESTAMP) AS besta, 0 AS cnt
      |  FROM mx
      |  UNION ALL
      |  SELECT st.user_id, st.rn + 1,
      |    CASE WHEN o.event_type = 'click' AND st.besta IS NOT NULL
      |              AND o.ts <= st.besta + INTERVAL 14400 SECOND THEN NULL
      |         WHEN o.event_type = 'signup'
      |           THEN GREATEST(COALESCE(st.besta, o.ts), o.ts)
      |         ELSE st.besta END,
      |    st.cnt + CASE WHEN o.event_type = 'click' AND st.besta IS NOT NULL
      |                   AND o.ts <= st.besta + INTERVAL 14400 SECOND
      |                  THEN 1 ELSE 0 END
      |  FROM st JOIN o ON o.user_id = st.user_id AND o.rn = st.rn + 1)
      |SELECT st.user_id AS user_id, CAST(st.cnt AS BIGINT) AS n_chains,
      |  CAST(mx.mrn AS BIGINT) AS n_events
      |FROM st JOIN mx ON st.user_id = mx.user_id AND st.rn = mx.mrn
      |ORDER BY st.user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.SequenceMatch.countChainsBounded(
          Tables.events(s, dir), "user_id", unix_micros(col("ts")),
          col("event_id"),
          col("event_type") === "signup", col("event_type") === "click",
          "<=", 14400L * 1000000L)
        .orderBy(asc_nulls_last("user_id")))

  // ---------------------------------------------------------------- k40

  /** k40 — unigram-LM log-probability quality filter (the CCNet-style
    * perplexity proxy [public: Wenzek et al. 2020, "CCNet: Extracting
    * high quality monolingual datasets"; CCNet thresholds a KenLM
    * perplexity — the corpus-unigram mean negative log-likelihood is its
    * model-free analog]): per document, mean −ln p(token) under the
    * CORPUS unigram distribution; boilerplate built from common tokens
    * scores low (predictable), rare-token-heavy docs score high — the
    * filter axis k36's WITHIN-doc entropy cannot see (k36 measures
    * self-repetition; this measures corpus-typicality). Shape: tokens
    * explode → vocab-sized corpus counts + a 1-row total (broadcast) →
    * per-(doc, token-type) join → per-doc agg over ≤vocab terms. The
    * `ln` rides the k20/k36 recipe: both engines evaluate IEEE ln on
    * the SAME double (ct/tot of exact integers), and ROUND 4 absorbs
    * the ≤1-ulp divergence; the drop flag decides on the ROUNDED value
    * so both engines compare identical doubles. */
  val k40: Q = Q(
    "k40_unigram_logprob",
    """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |             FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |cf AS (SELECT t, COUNT(*) AS ct FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*) AS tot FROM tok),
      |per AS (
      |  SELECT tf.doc_id, SUM(tf.c) AS n_tok,
      |    -SUM(tf.c * LN(CAST(ct AS DOUBLE) / tot)) AS nll
      |  FROM tf JOIN cf ON tf.t = cf.t CROSS JOIN n
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
      |  ROUND(nll / n_tok, 4) AS mean_nll,
      |  CAST(CASE WHEN ROUND(nll / n_tok, 4) > 3.45 THEN 1 ELSE 0 END AS INT)
      |    AS high_surprise
      |FROM per ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      val cf = tok.groupBy("t").agg(count(lit(1)).as("ct"))
      val tot = tok.agg(count(lit(1)).as("tot"))
      tf.join(cf, "t")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(sum(col("c")).cast("long").as("n_tokens"),
             (-sum(col("c") * log(col("ct").cast("double") / col("tot"))))
               .as("nll"))
        .select(col("doc_id"), col("n_tokens"),
                round(col("nll") / col("n_tokens"), 4).as("mean_nll"),
                when(round(col("nll") / col("n_tokens"), 4) > 3.45, 1)
                  .otherwise(0).cast("int").as("high_surprise"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  // ---------------------------------------------------------------- h48

  /** h48 — `mapAdd` / `mapSubtract` analogs (ClickHouse map functions
    * [public: CH map-function docs]) via the real `map_zip_with` HOF —
    * h47 covers filter/apply on ONE map; this is the two-map key-wise
    * ARITHMETIC whose whole point is ASYMMETRIC key sets (CH merges key
    * unions, absent keys read 0): per day, map A = event types' counts
    * of high-value rows (value > 150), map B = counts of near-zero rows
    * (value < 1). At sf0.01 every asymmetry class is populated — 45
    * cells A-only, 6 B-only, 1 in NEITHER map, and the subtraction goes
    * negative in 21 cells — so the `coalesce(x, 0)` union semantics are
    * load-bearing, not decorative. `map_zip_with` merges the key union
    * in one codegen'd pass; the d25 sorted serialization renders (keys
    * unique + prefix-free ⇒ string sort = key order, negative values
    * inside the value region never reorder keys). The oracle computes
    * the same cells by direct conditional aggregation — no map type
    * anywhere on its side. All integer counts; the float predicates
    * compare raw doubles against shared literals (the d53 recipe). */
  val h48: Q = Q(
    "h48_map_arithmetic",
    """WITH per AS (
      |  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
      |    SUM(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN value < 1 THEN 1 ELSE 0 END) AS b
      |  FROM events GROUP BY 1, 2)
      |SELECT day,
      |  STRING_AGG(CASE WHEN a + b > 0
      |                  THEN event_type || ':' || CAST(a + b AS VARCHAR) END,
      |             ',' ORDER BY event_type ASC) AS add_map,
      |  STRING_AGG(CASE WHEN a + b > 0
      |                  THEN event_type || ':' || CAST(a - b AS VARCHAR) END,
      |             ',' ORDER BY event_type ASC) AS sub_map,
      |  CAST(SUM(CASE WHEN a + b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keys
      |FROM per GROUP BY day
      |ORDER BY day ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(sum(when(col("value") > 150, 1).otherwise(0)).cast("long").as("a"),
             sum(when(col("value") < 1, 1).otherwise(0)).cast("long").as("b"))
        .groupBy("day")
        .agg(map_from_entries(collect_list(
               when(col("a") > 0, struct(col("event_type"), col("a")))))
               .as("ma"),
             map_from_entries(collect_list(
               when(col("b") > 0, struct(col("event_type"), col("b")))))
               .as("mb"))
        .withColumn("madd", expr(
          "map_zip_with(ma, mb, (k, x, y) -> coalesce(x, 0L) + coalesce(y, 0L))"))
        .withColumn("msub", expr(
          "map_zip_with(ma, mb, (k, x, y) -> coalesce(x, 0L) - coalesce(y, 0L))"))
        .select(col("day"),
                array_join(sort_array(expr(
                  "transform(map_entries(madd), " +
                  "e -> concat(e.key, ':', cast(e.value as string)))")), ",")
                  .as("r_add"),
                array_join(sort_array(expr(
                  "transform(map_entries(msub), " +
                  "e -> concat(e.key, ':', cast(e.value as string)))")), ",")
                  .as("r_sub"),
                expr("cardinality(madd)").cast("long").as("n_keys"))
        .select(col("day"),
                when(col("r_add") === "", lit(null).cast("string"))
                  .otherwise(col("r_add")).as("add_map"),
                when(col("r_sub") === "", lit(null).cast("string"))
                  .otherwise(col("r_sub")).as("sub_map"),
                col("n_keys"))
        .orderBy(asc_nulls_last("day")))

  // ---------------------------------------------------------------- k41

  /** k41 — Gopher-style hard quality GATE (the rule-based document filter
    * [public: Rae et al. 2021, "Scaling Language Models: Methods, Analysis
    * & Insights from Training Gopher", Table A1 quality rules]): unlike
    * k09's soft composite SCORE and k37's repetition metrics, this is the
    * binary keep/drop gate a pretraining pipeline actually applies, with
    * per-rule flags so drops are attributable. Rules adapted to rules that
    * BIND on this fixture (each populates both flag values at sf0.01, probed
    * before declaring): word count ≥ 50 (Gopher's 50–100k band, 223/500
    * fail), ≥ 2 distinct stopwords present (Gopher's stop-word rule, 50/500
    * fail), top-token mass fraction ≤ 0.1 (the repetition-family analog of
    * Gopher's duplicate-line fractions — the fixture has no line structure;
    * 188/500 fail). Shape: the concentration leg explodes tokens →
    * per-(doc, type) counts → per-doc max/sum — O(tokens) DISTRIBUTED (the
    * all-array alternative `array_max(transform(array_distinct...))` is
    * O(types²) per doc and was rejected: a 100 TB corpus has MB-scale
    * documents). ONE scan, ONE explode, NO join: after the (doc, type)
    * count aggregation every token type appears once per doc, so counting
    * stopword rows THERE is exactly the distinct-kind count, n_tokens is
    * the count sum, and the whole gate folds into the two stacked
    * aggregations (a first cut joined a separate per-doc array leg to the
    * concentration leg — a second full scan plus a document-count-sized
    * join, both deleted by this derivation). Flags decide on the RAW mc/n
    * quotient (exact-integer operands ⇒ identical IEEE division both
    * engines); the display ratio rounds at 9 where dyadic token counts
    * (16/32/64) terminate earlier, so no round-tie exists (the k09
    * precedent). */
  val k41: Q = Q(
    "k41_gopher_quality_gate",
    """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(LEN(toks) AS INT) AS n_tokens,
      |    CAST(LEN(list_filter(['a', 'the', 'of', 'and', 'to', 'value', 'data'],
      |      w -> list_contains(toks, w))) AS INT) AS n_stop_kinds
      |  FROM t),
      |tok AS (SELECT doc_id, UNNEST(toks) AS w FROM t),
      |c AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |conc AS (SELECT doc_id, MAX(c) AS mc, SUM(c) AS n FROM c GROUP BY 1)
      |SELECT b.doc_id, b.n_tokens, b.n_stop_kinds,
      |  ROUND(CAST(mc AS DOUBLE) / n, 9) AS top_frac,
      |  CAST(CASE WHEN b.n_tokens >= 50 THEN 1 ELSE 0 END AS INT) AS wc_ok,
      |  CAST(CASE WHEN b.n_stop_kinds >= 2 THEN 1 ELSE 0 END AS INT) AS stop_ok,
      |  CAST(CASE WHEN CAST(mc AS DOUBLE) / n <= 0.1 THEN 1 ELSE 0 END AS INT)
      |    AS conc_ok,
      |  CAST(CASE WHEN b.n_tokens >= 50 AND b.n_stop_kinds >= 2
      |             AND CAST(mc AS DOUBLE) / n <= 0.1 THEN 1 ELSE 0 END AS INT)
      |    AS keep
      |FROM base b JOIN conc USING (doc_id)
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val stops = Seq("a", "the", "of", "and", "to", "value", "data")
      val frac = col("mc").cast("double") / col("n")
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("mc"), sum(col("c")).as("n"),
             sum(when(col("w").isin(stops: _*), 1).otherwise(0)).cast("int")
               .as("n_stop_kinds"))
        .withColumn("n_tokens", col("n").cast("int"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop_kinds"),
                round(frac, 9).as("top_frac"),
                when(col("n_tokens") >= 50, 1).otherwise(0).cast("int").as("wc_ok"),
                when(col("n_stop_kinds") >= 2, 1).otherwise(0).cast("int")
                  .as("stop_ok"),
                when(frac <= 0.1, 1).otherwise(0).cast("int").as("conc_ok"),
                when(col("n_tokens") >= 50 && col("n_stop_kinds") >= 2 &&
                     frac <= 0.1, 1).otherwise(0).cast("int").as("keep"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  // ---------------------------------------------------------------- d55

  /** d55 — exact `topKWeighted` analog (ClickHouse `topK`/`topKWeighted`
    * [public: CH parametric-aggregate docs] — CH's is an approximate
    * filtered-space-saving sketch; this is the exact deterministic form,
    * correct whenever the grouped domain fits an executor, which per-lang
    * sources always do — the SKETCH form for unbounded domains is the
    * Tier-2 `HeavyHitters` Misra-Gries operator, already guarantee-tested):
    * per lang, the top-3 sources by total character mass, rendered in rank
    * order with deterministic ties (weight DESC, source ASC). Shape: two
    * stacked hash aggregations — (lang, source) sum then per-lang
    * collect of a SOURCE-COUNT-bounded list (≤20 structs/lang; this is the
    * d11 bounded-collect posture, NOT an unbounded groupArray) — sort /
    * slice / render are per-group array ops after the exchange. The sort
    * key embeds the negated weight so one ascending `array_sort` yields
    * (weight DESC, source ASC) without a comparator lambda. */
  val d55: Q = Q(
    "d55_topk_weighted",
    """WITH w AS (SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS wt
      |           FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, source, wt,
      |        ROW_NUMBER() OVER (PARTITION BY lang
      |                           ORDER BY wt DESC, source ASC) AS rn
      |      FROM w)
      |SELECT lang,
      |  STRING_AGG(source || ':' || CAST(wt AS VARCHAR), ',' ORDER BY rn ASC)
      |    AS top_sources,
      |  CAST(MAX(wt) AS BIGINT) AS top_weight,
      |  CAST(COUNT(*) AS BIGINT) AS k
      |FROM r WHERE rn <= 3
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(sum(col("n_chars")).cast("long").as("wt"))
        .groupBy("lang")
        .agg(slice(array_sort(collect_list(struct(
               (-col("wt")).as("nw"), col("source").as("source"),
               col("wt").as("wt")))), 1, 3).as("top"))
        .select(col("lang"),
                array_join(transform(col("top"),
                  e => concat(e("source"), lit(":"),
                              e("wt").cast("string"))), ",").as("top_sources"),
                element_at(col("top"), 1)("wt").as("top_weight"),
                size(col("top")).cast("long").as("k"))
        .orderBy(asc_nulls_last("lang")))

  // ---------------------------------------------------------------- h49

  /** h49 — `extractAll` / `countMatches` / group-extract family (ClickHouse
    * string-search functions [public: CH string-functions docs]) via the
    * codegen'd `regexp_extract_all` (h02 covers single-match regexp ops;
    * this is the ALL-occurrences form): every 'ar'-infixed token occurrence
    * in order (1758 occurrences over sf0.01, 38 docs with zero — the empty
    * case is populated), its count, and the first 'sp'-stem capture group.
    * Cross-engine edges normalized: DuckDB `array_to_string([])` is NULL
    * while Spark `array_join` gives '' — the zero-match doc emits NULL on
    * BOTH sides via an explicit guard; no-match `regexp_extract` is '' on
    * both engines (probed). The pattern stays in RE2∩Java char-class
    * territory (both leftmost-greedy here) — no lookaround, no \b. */
  val h49: Q = Q(
    "h49_extract_all",
    """SELECT doc_id,
      |  CAST(LEN(regexp_extract_all(text, '[a-z]*ar[a-z]*', 0)) AS INT)
      |    AS n_matches,
      |  CASE WHEN LEN(regexp_extract_all(text, '[a-z]*ar[a-z]*', 0)) = 0
      |       THEN NULL
      |       ELSE array_to_string(regexp_extract_all(text, '[a-z]*ar[a-z]*', 0),
      |                            ',') END AS matches,
      |  regexp_extract(text, 'sp([a-z]+)', 1) AS first_sp
      |FROM documents ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val all = regexp_extract_all(col("text"), lit("[a-z]*ar[a-z]*"), lit(0))
      Tables.documents(s, dir)
        .select(col("doc_id"),
                size(all).cast("int").as("n_matches"),
                when(size(all) === 0, lit(null).cast("string"))
                  .otherwise(array_join(all, ",")).as("matches"),
                regexp_extract(col("text"), "sp([a-z]+)", 1).as("first_sp"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  // ---------------------------------------------------------------- k42

  /** k42 — per-cluster embedding DIVERSITY without pair enumeration (the
    * SemDeDup-adjacent corpus statistic [public: Abbas et al. 2023 measure
    * within-cluster pairwise similarity to pick dedup thresholds]): the sum
    * of all pairwise dot products inside a label, computed LINEARLY via the
    * Gram identity 2·Σ_{i<j} vᵢ·vⱼ = ‖Σᵢvᵢ‖² − Σᵢ‖vᵢ‖² — the 100 TB point
    * of the query: per-label pair counts are O(n²) (2k vectors/label = 2M
    * pairs; 1M = half a trillion) but both identity terms are ONE linear
    * pass. The ORACLE deliberately runs the O(n²) formulation (explicit
    * label-blocked pair join, affordable at fixture scale) — two
    * independent formulations of the same integer, the d34/j10 pairing.
    * Exactness: the k38 FLOOR quantization at scale 2¹² (|x| ≤ 0.526
    * probed ⇒ |q| ≤ 2152 < 2¹²), so S_dim ≤ n·2¹², Σ_dim S_dim² ≤
    * 64·n²·2²⁴ — int64-exact through n ≈ 5·10⁵ vectors per label
    * (document bound; beyond it the same identity runs decimal-routed).
    * All outputs exact integers — zero float anywhere. Plan: a map-only
    * norms leg (`aggregate` HOF self-dot, no explode) + a posexplode
    * per-dimension sum leg (two stacked aggs), joined on the
    * label-cardinality-sized key (broadcast). Singleton labels fall out
    * of the identity as exactly 0 (oracle: LEFT JOIN + COALESCE). */
  val k42: Q = Q(
    "k42_embedding_diversity",
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |        CAST(SUM(CAST(list_sum(list_transform(v, x -> x * x))
      |                      AS BIGINT)) AS BIGINT) AS sum_norms_q
      |      FROM q GROUP BY label),
      |p AS (SELECT a.label AS label,
      |        CAST(SUM(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
      |          i -> a.v[i] * b.v[i])) AS BIGINT)) AS BIGINT) AS dots
      |      FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
      |      GROUP BY a.label)
      |SELECT n.label, n.n_vecs, n.sum_norms_q,
      |  CAST(COALESCE(2 * p.dots, 0) AS BIGINT) AS pair_dot_sum_x2
      |FROM n LEFT JOIN p ON n.label = p.label
      |ORDER BY n.label ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val q = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(4096.0)).cast("long")).as("v"))
      val norms = q
        .withColumn("nq", expr("aggregate(v, 0L, (acc, x) -> acc + x * x)"))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
             sum(col("nq")).as("sum_norms_q"))
      val gram = q
        .select(col("label"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("label", "p").agg(sum(col("x")).as("sd"))
        .groupBy("label").agg(sum(col("sd") * col("sd")).as("gram2"))
      norms.join(broadcast(gram), "label")
        .select(col("label"), col("n_vecs"), col("sum_norms_q"),
                (col("gram2") - col("sum_norms_q")).as("pair_dot_sum_x2"))
        .orderBy(asc_nulls_last("label"))
    })

  def ops: Vector[Q] =
    Vector(j16, j17, h46, f06, d54, h47, j18, k40, h48, k41, d55, h49, k42)
}
