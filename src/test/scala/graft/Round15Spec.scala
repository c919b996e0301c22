package graft

/** Adversarial edge pins for the round-15 declared queries — cases the
  * fixture cannot force, exercised on synthesized frames through the REAL
  * declared plans ([[graft.engine.Round15Ops.j21Plan]]/[[
  * graft.engine.Round15Ops.d61Plan]] — the h46Plan discipline: the spec
  * drives the shipped plan body, not a hand copy that regressions could
  * silently diverge from). */
class Round15Spec extends SparkSpec {

  test("j21 NULL disambiguation: chain-at-tail vs no-chain vs chain-mid-stream") {
    val sp = spark
    import sp.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    // user 1: click->view->purchase mid-stream, then a SECOND chain
    //   click->view at the tail — first_match must answer off the FIRST
    //   chain ('purchase'), n_chains = 2.
    // user 2: chain exactly at the tail — matched but next is NULL.
    // user 3: click and view present but never adjacent — no chain.
    val ev = Seq(
      (1L, t(1), 10L, "click"), (1L, t(2), 11L, "view"),
      (1L, t(3), 12L, "purchase"), (1L, t(4), 13L, "click"),
      (1L, t(5), 14L, "view"),
      (2L, t(1), 20L, "error"), (2L, t(2), 21L, "click"),
      (2L, t(3), 22L, "view"),
      (3L, t(1), 30L, "click"), (3L, t(2), 31L, "error"),
      (3L, t(3), 32L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.engine.Round15Ops.j21Plan(ev).collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2)))).toMap
    assert(got(1L) == ((Some("purchase"), 2L)), s"first-match broken: ${got(1L)}")
    assert(got(2L) == ((None, 1L)), s"chain-at-tail broken: ${got(2L)}")
    assert(got(3L) == ((None, 0L)), s"no-chain broken: ${got(3L)}")
  }

  test("d61 equal-x tie: event_id struct order decides extremes; dx=0 ratio is NULL") {
    val sp = spark
    import sp.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    // type "a": TWO rows at the min timestamp (ids 1, 2 — id 1 must win
    // lo) and TWO at the max (ids 3, 4 — id 4 must win hi): slope reads
    // (c4 - c1) / dx. type "b": a single point — dx = 0, dy = 0, ratio
    // must be NULL (d27's pinned NULLIF posture for the degenerate
    // group: CH's nan as SQL NULL), never NaN/Infinity.
    val ev = Seq(
      ("a", ts, 1L, 10.00), ("a", ts, 2L, 99.00),
      ("a", ts2, 3L, 50.00), ("a", ts2, 4L, 70.00),
      ("b", ts, 5L, 42.00)
    ).toDF("event_type", "ts", "event_id", "value")
    val got = graft.engine.Round15Ops.d61Plan(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got("a") == ((7000L - 1000L, 3600000000L,
                          Some(6000.0 / 3600000000.0))),
      s"tie-break extremes broken: ${got("a")}")
    assert(got("b") == ((0L, 0L, None)),
      s"single-point group must yield NULL ratio: ${got("b")}")
  }
}
