package graft.engine

/** SURVEY §2.1 block A — scans / sources.
  *
  * All reads are declarative parquet scans: Catalyst pushes column pruning
  * (a02) and predicate filters (a03) into the vectorized parquet reader, so
  * at 100 TB only the referenced columns / matching row groups are read.
  */
object ScanOps {

  /** a01 — full-scan cardinalities of all 10 tables, unioned. */
  val a01: Q = Q.fromSql(
    "a01_scan_count",
    Tables.names
      .map(n => s"SELECT '$n' AS tbl, COUNT(*) AS n_rows FROM $n")
      .mkString("", " UNION ALL ", " ORDER BY tbl ASC NULLS LAST"))

  /** a02 — column pruning: 3 of 11 lineitem columns, first 100 rows.
    * NOTE (l_orderkey, l_linenumber) is NOT unique in the fixtures — the
    * ORDER BY covers every output column so ties are identical rows and the
    * LIMIT cut is deterministic on both engines. */
  val a02: Q = Q.fromSql(
    "a02_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         l_quantity ASC NULLS LAST
      |LIMIT 100""".stripMargin)

  /** a03 — predicate pushdown: one month of shipments, selective columns.
    * The filter reaches the parquet reader as a row-group predicate. */
  val a03: Q = Q.fromSql(
    "a03_scan_filter_pushdown",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         l_shipdate ASC NULLS LAST, l_quantity ASC NULLS LAST""".stripMargin)

  /** a04 — deterministic fractional sampling by key hash (the `SAMPLE k`
    * clause analog: the engine samples `hash(key) < k * 2^32` so the same key
    * is in or out of the sample forever, and a 1/8 sample is a superset-stable
    * subset of a 1/4 sample [public: ClickHouse SAMPLE docs]). Knuth
    * multiplicative hash `((key mod 2^31) * 2654435761) mod 2^32` in plain
    * int64 arithmetic — bit-identical in both engines, no engine-specific
    * hash. The key is masked into 31 bits BEFORE the multiply: the max
    * intermediate is then 2^31·2654435761 ≈ 5.7e18 < 2^63−1, so the
    * arithmetic can never overflow int64 at ANY key scale (the unmasked
    * form silently wrapped in Spark and errored in DuckDB past ~3.5e9 —
    * exactly the 100 TB key domain; flagged r7). Keys congruent mod 2^31
    * share a sample decision, which is harmless for sampling (the hash is
    * already a many-to-one decision) and preserves the per-key stability
    * and superset-of-smaller-rate properties.
    * Scale: the predicate is evaluated row-local at the scan (map-only, no
    * shuffle until the aggregate); at 100 TB a sample-aware layout would
    * additionally sort row groups by the sample hash so the scan skips
    * (1 − k) of the file bytes via min/max pruning — the arithmetic here is
    * exactly what that layout would order by. Sums routed through DECIMAL
    * (Determinism.dsum) so partial-merge order cannot perturb bits. */
  val a04: Q = Q.fromSql(
    "a04_sample_key",
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${Determinism.dsumSql("o_totalprice")} AS sum_price,
       |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
       |FROM orders
       |WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296 < 536870912
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin)

  def ops: Vector[Q] = Vector(a01, a02, a03, a04)
}
