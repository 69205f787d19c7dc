package graft

import graft.operators.CdcMerge

/** CDC point-in-time recovery and additive schema evolution — the two
  * merge variants layered on applyDelta. The oracle rows pin the
  * end-to-end file-trail forms (q_cdc_asof_snapshot,
  * q_cdc_schema_evolution); this pins the semantics on crafted edges:
  * the inclusive cut boundary, widened-NULL columns, and the
  * non-additive drift abort. */
class CdcEvolutionSpec extends SparkTestBase {
  import spark.implicits._

  private def snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")

  test("snapshotAsOf: the ts cut is inclusive and later ops are invisible") {
    val cdc = Seq(
      (1L, "a1", "U", 1L), // in state at asOf=1
      (2L, "b2", "U", 2L), // after the cut: must NOT apply
      (3L, "c9", "D", 9L)  // after the cut: must NOT delete
    ).toDF("id", "v", CdcMerge.OpColumn, CdcMerge.TsColumn)
    val got = CdcMerge.snapshotAsOf(snap, cdc, Seq("id"), asOfTs = 1L)
      .as[(Long, String)].collect().sorted
    assert(got.toSeq == Seq((1L, "a1"), (2L, "b"), (3L, "c")))
    // asOf at the latest ts reproduces the ordinary full merge
    val full = CdcMerge.applyDelta(snap, cdc, Seq("id"))
      .as[(Long, String)].collect().sorted
    val atEnd = CdcMerge.snapshotAsOf(snap, cdc, Seq("id"), asOfTs = 9L)
      .as[(Long, String)].collect().sorted
    assert(atEnd.toSeq == full.toSeq)
  }

  test("applyDeltaEvolved: new delta column widens the snapshot with typed NULLs") {
    val delta = Seq(
      (2L, "b2", 7L, "U", 1L),  // update carries the new column
      (3L, "c",  0L, "D", 1L),  // delete
      (4L, "d4", 9L, "I", 1L)   // insert carries the new column
    ).toDF("id", "v", "w", CdcMerge.OpColumn, CdcMerge.TsColumn)
    val got = CdcMerge.applyDeltaEvolved(snap, delta, Seq("id"))
    assert(got.columns.toSeq == Seq("id", "v", "w"))
    val rows = got.as[(Long, String, Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "a", None),        // untouched pre-evolution row: NULL w
      (2L, "b2", Some(7L)),
      (4L, "d4", Some(9L))))
  }

  test("applyDeltaEvolved: a snapshot column missing from the delta aborts") {
    val dropped = Seq((2L, "U", 1L))
      .toDF("id", CdcMerge.OpColumn, CdcMerge.TsColumn) // no 'v'
    val e = intercept[IllegalStateException] {
      CdcMerge.applyDeltaEvolved(snap, dropped, Seq("id"))
    }
    assert(e.getMessage.contains("drift"), e.getMessage)
  }

  test("snapshotDiff: added/removed/changed classes, NULL transitions are changes") {
    import spark.implicits._
    val oldS = Seq((1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]),
      (4L, Some("d"))).toDF("k", "v")
    val newS = Seq((1L, Some("a")), (2L, Option.empty[String]), (3L, Some("c")),
      (5L, Some("e"))).toDF("k", "v")
    val got = CdcMerge.snapshotDiff(oldS, newS, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      2L -> "changed", // value -> NULL is a change, not a silent match
      3L -> "changed", // NULL -> value likewise
      4L -> "removed",
      5L -> "added"))  // key 1 unchanged: omitted
  }

  test("scd2: validity intervals, no-op collapse, null-safe attribute compare") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, 1L, Some("A")),
      (1L, 20L, 2L, Some("A")),  // no-op update -> collapses into ts 10
      (1L, 30L, 3L, Some("B")),
      (2L, 10L, 4L, None),
      (2L, 20L, 5L, None),       // null == null under <=> -> collapses
      (2L, 30L, 6L, Some("X"))
    ).toDF("k", "ts", "id", "attr")
    val got = CdcMerge.scd2(changes, Seq("k"), "ts", "id", Seq("attr"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(3)).getOrElse("-"),
        if (r.isNullAt(5)) -1L else r.getLong(5), r.getBoolean(6))).toSet
    // (k, effective_from==ts, attr, effective_to, is_current)
    assert(got == Set(
      (1L, 10L, "A", 30L, false),
      (1L, 30L, "B", -1L, true),
      (2L, 10L, "-", 30L, false),
      (2L, 30L, "X", -1L, true)))
  }
}
