package graft

/** Pins for [[graft.operators.Temporal.resampleInterpolate]] and
  * [[graft.operators.Temporal.concurrencyCurve]] — the two round-13
  * additions that landed ungated (VERDICT r13 items 1c/4). Hand-sized
  * frames with arithmetic small enough to check by eye.
  */
class TemporalCurveSpec extends SparkTestBase {
  import graft.operators.Temporal

  test("resampleInterpolate: observed buckets keep the last-per-bucket value; gaps blend linearly in exact integer division") {
    val ev = spark.createDataFrame(Seq(
      // key a, bucket 0 holds TWO events: ts=5 (later) must win
      ("a", 1L, 300L, 1L),
      ("a", 5L, 100L, 2L),
      ("a", 35L, 400L, 3L)
    )).toDF("k", "ts", "v", "tie")
    val out = Temporal.resampleInterpolate(ev, "k", "ts", "v", "tie", step = 10L)
      .orderBy("bucket_start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // gaps 1 and 2 blend between (bucket 0, 100) and (bucket 3, 400):
    //   bucket 1: (100*2 + 400*1) div 3 = 200; bucket 2: (100 + 800) div 3 = 300
    assert(out.toSeq === Seq(
      ("a", 0L, 100L), ("a", 10L, 200L), ("a", 20L, 300L), ("a", 30L, 400L)))
  }

  test("resampleInterpolate: negative blends truncate toward zero (div semantics, matching DuckDB //)") {
    val ev = spark.createDataFrame(Seq(
      ("b", 0L, -5L, 1L),
      ("b", 30L, 0L, 2L)
    )).toDF("k", "ts", "v", "tie")
    val out = Temporal.resampleInterpolate(ev, "k", "ts", "v", "tie", step = 10L)
      .orderBy("bucket_start")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // bucket 1: (-5*2 + 0) div 3 = -10 div 3 = -3 (toward zero, not floor -4)
    // bucket 2: (-5*1 + 0) div 3 = -5 div 3 = -1
    assert(out.toSeq === Seq((0L, -5L), (10L, -3L), (20L, -1L), (30L, 0L)))
  }

  test("concurrencyCurve: starts order before equal-ts ends (inclusive overlap); days with open sessions but no boundary emit NO row") {
    val sessions = spark.createDataFrame(Seq(
      // spans days 0..2; its middle day 1 has no boundary at all
      (1L, 0L, 1L, 25L),
      // zero-length session: start == end still counts +1 before -1
      (2L, 0L, 5L, 5L),
      (3L, 0L, 21L, 23L),
      // starts exactly when session 3 ends: inclusive-end overlap
      (4L, 0L, 23L, 29L)
    )).toDF("user_id", "session_idx", "session_start", "session_end")
    val out = Temporal.concurrencyCurve(sessions, "session_start",
        "session_end", tieCols = Seq("user_id", "session_idx"),
        bucketUs = 10L)
      .orderBy("day")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // day 0 sweep: +1(ts1) +1(ts5 start u2) -1(ts5 end u2) -> max 2, 3 boundaries
    // day 1: session 1 is open all day but no boundary falls -> NO ROW
    //        (boundary-day-only semantics, same as the oracle)
    // day 2 sweep: +1(ts21)->2, +1(ts23 start u4)->3 BEFORE -1(ts23 end u3)->2,
    //              -1(ts25)->1, -1(ts29)->0 -> max 3, 5 boundaries
    assert(out.toSeq === Seq((0L, 2L, 3L), (2L, 3L, 5L)))
  }
}
