package graft

/** GraftSession posture + GraftExtensions SQL registration (the SQL-string
  * face of the native expressions — the Column face is covered by the
  * Similarity/engine specs). */
class GraftSessionSpec extends SparkSpec {

  test("builder applies the 100 TB posture confs") {
    // inspect the builder's effect through a config probe: options set on
    // the builder surface in the session conf once applied. The shared test
    // session already exists, so getOrCreate() returns it with the builder's
    // option map applied to its runtime conf (NOTE: withExtensions is a
    // no-op on an existing session — extension wiring is exercised by
    // SparkSpec's own registration, not this test). Snapshot and restore
    // every touched conf so this test cannot order-couple with others.
    val touched = Seq("spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
                      "spark.sql.parquet.aggregatePushDown")
    val before = touched.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      val s = GraftSession.builder("graft-test-probe", Some("local[2]")).getOrCreate()
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.parquet.aggregatePushDown") == "true")
    } finally {
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("all three native functions resolve through the SQL entry point") {
    val s = spark
    import s.implicits._
    Seq((100.0, 0.1, 0.2, Seq(3.0f, 4.0f)))
      .toDF("p", "d", "t", "v").createOrReplaceTempView("gs_probe")
    val r = spark.sql(
      """SELECT graft_charge(p, d, t) AS charge,
        |       graft_dot(graft_unit(v), graft_unit(v)) AS unit_dot,
        |       graft_unit(v)[0] AS u0
        |FROM gs_probe""".stripMargin).collect().head
    assert(math.abs(r.getDouble(0) - 100.0 * 0.9 * 1.2) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)   // unit vector dot itself
    assert(math.abs(r.getDouble(2) - 0.6) < 1e-12)   // 3/5
  }
}
