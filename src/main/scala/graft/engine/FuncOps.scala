package graft.engine

import org.apache.spark.sql.functions._

/** SURVEY §2.1 block H — scalar functions.
  *
  * Everything here is `org.apache.spark.sql.functions._` (codegen'd, stays
  * inside WholeStageCodegen) — no UDFs. Cross-engine notes from FIXTURES.md
  * are encoded query-by-query (dayofweek conventions, BIGINT vs INT widths,
  * double↔int cast semantics).
  */
object FuncOps {

  /** h01 — string basics over customer names. */
  val h01: Q = Q(
    "h01_str_basic",
    """SELECT c_custkey,
      |  UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
      |  SUBSTRING(c_name, 1, 8) AS sub, TRIM(c_name) AS tr,
      |  CONCAT(c_name, '-', c_mktsegment) AS joined,
      |  CAST(LENGTH(c_name) AS INT) AS len,
      |  REPLACE(c_name, 'Customer', 'Cust') AS rep,
      |  LPAD(CAST(c_custkey AS VARCHAR), 12, '0') AS pad
      |FROM customer
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("up"), lower(col("c_mktsegment")).as("lo"),
          substring(col("c_name"), 1, 8).as("sub"), trim(col("c_name")).as("tr"),
          concat(col("c_name"), lit("-"), col("c_mktsegment")).as("joined"),
          length(col("c_name")).cast("int").as("len"),
          regexp_replace(col("c_name"), "Customer", "Cust").as("rep"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("pad"))
        .orderBy(asc_nulls_last("c_custkey")))

  /** h02 — regex: extract brand digits, vowel-strip names, rlike filter. */
  val h02: Q = Q(
    "h02_str_regexp",
    """SELECT p_partkey,
      |  REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num,
      |  REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devowel
      |FROM part
      |WHERE REGEXP_MATCHES(p_brand, '1[0-9]')
      |ORDER BY p_partkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_brand").rlike("1[0-9]"))
        .select(
          col("p_partkey"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"))
        .orderBy(asc_nulls_last("p_partkey")))

  /** h03 — tokenize: one row per token of each document (lateral explode). */
  val h03: Q = Q(
    "h03_str_split_explode",
    """SELECT doc_id, token FROM
      |  (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
      |ORDER BY doc_id ASC NULLS LAST, token ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .orderBy(asc_nulls_last("doc_id"), asc_nulls_last("token")))

  /** h04 — date part extraction + date arithmetic on orders.
    * Spark dayofweek is 1=Sunday..7; DuckDB dow is 0=Sunday..6 → +1. */
  val h04: Q = Q(
    "h04_date_parts",
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS INT) AS y,
      |  CAST(MONTH(o_orderdate) AS INT) AS m,
      |  CAST(DAY(o_orderdate) AS INT) AS d,
      |  CAST(QUARTER(o_orderdate) AS INT) AS q,
      |  CAST(DATE_PART('dow', o_orderdate) AS INT) + 1 AS dow,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30,
      |  CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          dayofweek(col("o_orderdate")).as("dow"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"))
        .orderBy(asc_nulls_last("o_orderkey")))

  /** h05 — month-truncated revenue series. */
  val h05: Q = Q.fromSql(
    "h05_date_trunc",
    s"""SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS mon,
       |  COUNT(*) AS n, ${Determinism.dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY 1
       |ORDER BY mon ASC NULLS LAST""".stripMargin)

  /** h06 — math expression matrix. Spark ceil/floor(double) yield LONG while
    * DuckDB yields DOUBLE → explicit BIGINT casts; libm 1-ulp drift absorbed
    * by ROUND 4. */
  val h06: Q = Q.fromSql(
    "h06_math",
    """SELECT l_orderkey, l_linenumber,
      |  ABS(0 - l_extendedprice) AS abs_p,
      |  CAST(CEIL(l_discount * 100) AS BIGINT) AS ceil_d,
      |  CAST(FLOOR(l_tax * 100) AS BIGINT) AS floor_t,
      |  ROUND(l_extendedprice, 2) AS round_p,
      |  ROUND(SQRT(l_quantity), 4) AS sqrt_q,
      |  ROUND(LN(l_extendedprice), 4) AS ln_p,
      |  ROUND(EXP(l_discount), 4) AS exp_d,
      |  ROUND(POWER(l_quantity, 2), 4) AS pow_q,
      |  l_orderkey % 7 AS mod7
      |FROM lineitem
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         abs_p ASC NULLS LAST, ceil_d ASC NULLS LAST, floor_t ASC NULLS LAST,
      |         sqrt_q ASC NULLS LAST""".stripMargin)

  /** h07 — array ops on embeddings: size, 1-based element_at, slice,
    * per-element arithmetic via HOF transform, then posexplode back to
    * scalar rows (the driver's row-sort can't order array columns, so the
    * transformed slice is emitted one element per row; ×2 on a float32
    * widened to DOUBLE is exact, no rounding needed). */
  val h07: Q = Q(
    "h07_array_ops",
    """SELECT vec_id, dim, first_el, CAST(u.pos AS INT) AS pos, u.el AS doubled
      |FROM (
      |  SELECT vec_id,
      |    CAST(LEN(embedding) AS INT) AS dim,
      |    CAST(embedding[1] AS DOUBLE) AS first_el,
      |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, 8),
      |      g -> {'pos': g - 1, 'el': CAST(embedding[g] AS DOUBLE) * 2})) AS u
      |  FROM embeddings)
      |ORDER BY vec_id ASC NULLS LAST, pos ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_el"),
          posexplode(transform(slice(col("embedding"), 1, 8),
                               x => x.cast("double") * 2)))
        .withColumnRenamed("col", "doubled")
        .orderBy(asc_nulls_last("vec_id"), asc_nulls_last("pos")))

  /** h08 — JSON extraction from event props, grouped stats. */
  val h08: Q = Q(
    "h08_json_extract",
    """SELECT event_type,
      |  CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(props->>'k' AS INT)) AS min_k,
      |  MAX(CAST(props->>'k' AS INT)) AS max_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("int")
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(sum(k).as("sum_k"), min(k).as("min_k"), max(k).as("max_k"),
             count(lit(1)).as("n"))
        .orderBy(asc_nulls_last("event_type"))
    })

  /** h09 — the §1.2 cast matrix as lossless round-trips. Each engine
    * round-trips its own string rendering of doubles, so the re-parsed value
    * is bit-identical even though intermediate strings differ. */
  val h09: Q = Q(
    "h09_cast_matrix",
    """SELECT o_orderkey,
      |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS rt_long,
      |  CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS rt_double,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS via_decimal,
      |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS rt_ts,
      |  CAST(o_orderkey % 100 AS SMALLINT) AS to_small,
      |  CAST(o_orderkey % 2 AS BOOLEAN) AS to_bool,
      |  CAST(CAST(o_orderkey AS DOUBLE) AS BIGINT) AS dbl_long
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          col("o_orderkey").cast("string").cast("bigint").as("rt_long"),
          col("o_totalprice").cast("string").cast("double").as("rt_double"),
          col("o_totalprice").cast("decimal(18,4)").cast("double").as("via_decimal"),
          col("o_orderdate").cast("date").cast("timestamp").as("rt_ts"),
          (col("o_orderkey") % 100).cast("smallint").as("to_small"),
          (col("o_orderkey") % 2).cast("boolean").as("to_bool"),
          col("o_orderkey").cast("double").cast("bigint").as("dbl_long"))
        .orderBy(asc_nulls_last("o_orderkey")))

  /** h10 — null-handling functions. */
  val h10: Q = Q.fromSql(
    "h10_null_funcs",
    """SELECT o_orderkey,
      |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS st,
      |  LEAST(o_totalprice, 100000.0) AS least_p,
      |  GREATEST(o_totalprice, 50000.0) AS greatest_p,
      |  NULLIF(o_orderpriority, '5-LOW') AS pr
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  /** h11 — cryptographic digests of document texts (k01's primitive;
    * digests verified identical across engines). */
  val h11: Q = Q(
    "h11_hash_funcs",
    """SELECT doc_id, MD5(text) AS h_md5, SHA256(text) AS h_sha
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h_md5"),
                sha2(col("text"), 256).as("h_sha"))
        .orderBy(asc_nulls_last("doc_id")))

  /** h12 — MySQL GROUP_CONCAT analog: comma-joined sorted supplier names
    * per nation (sort_array before the join makes the string deterministic —
    * Spark's collect_list order is not). */
  val h12: Q = Q(
    "h12_group_concat",
    """SELECT s_nationkey,
      |  array_to_string(list_sort(array_agg(s_name)), ',') AS names_csv
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY s_nationkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.supplier(s, dir)
        .groupBy("s_nationkey")
        .agg(concat_ws(",", sort_array(collect_list(col("s_name")))).as("names_csv"))
        .orderBy(asc_nulls_last("s_nationkey")))

  /** h13 — nested types (§1.2 capability tier): construct a struct and a map
    * from scalar columns, extract fields back out. Only the extracted
    * SCALARS are emitted (the driver's row-sort can't order struct/map
    * columns); the construction + extraction round-trip is still the thing
    * under test. DuckDB map extraction yields a LIST → scalarize with [1]. */
  val h13: Q = Q(
    "h13_nested_types",
    """SELECT o_orderkey,
      |  struct_extract({'k': o_orderkey, 'p': o_totalprice}, 'p') AS sp,
      |  MAP(['lo', 'hi'], [LEAST(o_totalprice, 100000.0), GREATEST(o_totalprice, 100000.0)])['lo'][1] AS mlo,
      |  MAP(['lo', 'hi'], [LEAST(o_totalprice, 100000.0), GREATEST(o_totalprice, 100000.0)])['hi'][1] AS mhi
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val st = struct(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val m = map(
        lit("lo"), least(col("o_totalprice"), lit(100000.0)),
        lit("hi"), greatest(col("o_totalprice"), lit(100000.0)))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), st.getField("p").as("sp"),
                element_at(m, "lo").as("mlo"), element_at(m, "hi").as("mhi"))
        .orderBy(asc_nulls_last("o_orderkey"))
    })

  def ops: Vector[Q] = Vector(h01, h02, h03, h04, h05, h06, h07, h08, h09, h10,
                              h11, h12, h13)
}
