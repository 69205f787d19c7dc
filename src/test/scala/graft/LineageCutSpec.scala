package graft

import org.apache.spark.sql.functions._

import graft.operators.LineageCut

/** The layout-keeping lineage cut: under AQE a plain localCheckpoint
  * reports UnknownPartitioning, so every downstream same-key stage
  * re-shuffles rows the checkpoint already laid out correctly. The cut
  * re-declares the final adaptive plan's partitioning/ordering — gated
  * on the layout being at least defaultParallelism wide, so a
  * coalesced 1–4-partition local layout (which would pin downstream
  * stages to that width) falls back to the plain checkpoint. */
class LineageCutSpec extends SparkTestBase {

  private def aggByK = spark.range(0, 10000)
    .select(col("id"), (col("id") % 97).as("k"))
    .groupBy(col("k")).agg(sum(col("id")).as("s"))

  private def hasExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  /** With coalescing off the aggregation's exchange keeps all shuffle
    * partitions (4 == defaultParallelism on local[4]), so the kept
    * layout passes the width gate. */
  private def withGateOpen(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  test("gate OPEN (full-width layout): downstream same-key aggregation elides its exchange; rows identical") {
    withGateOpen {
      val ck = LineageCut.cut(aggByK)
      val reAgg = ck.groupBy(col("k")).agg(count(lit(1)).as("c"))
      val expected = aggByK.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = reAgg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, "kept layout must not change results")
      assert(!hasExchange(reAgg),
        "a same-key aggregation over a kept full-width layout must not re-shuffle")
      LineageCut.release(ck)
    }
  }

  test("gate OPEN: the rewrapped LogicalRDD keeps the plain checkpoint's origin stats") {
    withGateOpen {
      val ck = LineageCut.cut(aggByK)
      val plain = aggByK.localCheckpoint(eager = true)
      ck.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          assert(lr.outputPartitioning.numPartitions == 4, "the gate must be open here")
        case other => fail(s"expected a LogicalRDD leaf, got ${other.nodeName}")
      }
      val size = ck.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size === plain.queryExecution.optimizedPlan.stats.sizeInBytes)
      // a stats-less LogicalRDD reports spark.sql.defaultSizeInBytes,
      // Long.MaxValue unless configured
      assert(size < BigInt(Long.MaxValue))
      LineageCut.release(ck)
      LineageCut.release(plain)
    }
  }

  test("gate CLOSED (coalesced local layout): the cut stays a plain checkpoint — downstream aggregation re-shuffles at session width") {
    val ck = LineageCut.cut(aggByK) // default AQE coalescing: 10k tiny rows collapse under 4 partitions
    val reAgg = ck.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val expected = aggByK.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = reAgg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(hasExchange(reAgg),
      "a narrower-than-parallelism layout must NOT be kept (it would pin " +
        "downstream stages below the session width)")
    LineageCut.release(ck)
  }

  // ---- PeriodicCut: cut every K rounds of a single-reference chain ----

  /** A 5-round single-reference BSP-shaped chain (each round one
    * aggregation over the previous frame), ending with finish() and a
    * release of the loop-static input — the exact lifecycle the BSP
    * loops run. Returns (rows, jobsLaunched). */
  private def runChain(interval: Int): (Map[Long, Long], Int) = {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val base = LineageCut.cut(spark.range(0, 1000)
        .select((col("id") % 13).as("k"), col("id").as("v")))
      val pc = new LineageCut.PeriodicCut(interval)
      var st: org.apache.spark.sql.DataFrame = base
      for (_ <- 1 to 5) {
        // one aggregation per round, previous frame referenced ONCE —
        // the PeriodicCut chain contract
        st = pc.step(st.groupBy(col("k"))
          .agg((sum(col("v")) % 1000003L).as("v")))
      }
      // finish() must materialize the final frame BEFORE the static
      // input is released — the recompute story: a lazy final round
      // still references up to K-1 uncut predecessors plus the base
      val out = pc.finish(st)
      LineageCut.release(base)
      val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.sql.graftbridge.Bridge
        .flushListenerBus(spark.sparkContext)
      (rows, jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("PeriodicCut: interval 4 = identical rows to interval 1 with fewer driver jobs; finish survives input release") {
    val (rows1, jobs1) = runChain(1)
    val (rows4, jobs4) = runChain(4)
    assert(rows4 === rows1, "lazy rounds must not change the chain's result")
    // interval 1 cuts 5 times (+1 base); interval 4 cuts at round 4 and
    // at finish (round 5) — at least two barriers saved
    assert(jobs4 <= jobs1 - 2,
      s"cut-every-4 must launch materially fewer jobs (got $jobs4 vs $jobs1)")
  }

  test("PeriodicCut: finish is a no-op when the last round already cut") {
    val pc = new LineageCut.PeriodicCut(2)
    val a = pc.step(spark.range(3).toDF("v")) // round 1: lazy
    assert(a.queryExecution.analyzed.collectLeaves().forall(
      !_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      "round below the interval must stay lazy")
    val b = pc.step(a.select((col("v") + 1).as("v"))) // round 2: cut
    assert(pc.finish(b) eq b, "finish on an already-cut frame is identity")
    LineageCut.release(b)
  }
}
