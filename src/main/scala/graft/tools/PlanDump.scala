package graft.tools


import graft.SparkEntry

/** Dumps every SparkEntry query's physical plan + a one-line audit
  * (codegen'd? pushdown? broadcast? shuffles?) to PLANS.md — the
  * explain("formatted") review, persisted.
  * `sbt "runMain graft.tools.PlanDump [sfDir] [outFile]"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.Sessions.local(8, "graft-plandump")

    val sb = new StringBuilder
    sb ++= "# Physical plans — every SparkEntry query at " + sfDir + "\n\n"
    sb ++= "Generated by `graft.tools.PlanDump`. Audit flags: `codegen` =\n"
    sb ++= "WholeStageCodegen stages present; `pushdown` = non-empty\n"
    sb ++= "PushedFilters; `bcast` = broadcast join; `#ex` = shuffle\n"
    sb ++= "exchange count.\n\n"

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // the dedup tier eagerly checkpoints candidate subplans at
      // construction (fn() launches those jobs); the scope frees each
      // query's blocks before the next one, keeping ~90 dumps on
      // local[8] at a flat storage footprint
      try graft.operators.Dedup.withCandidateScope {
        val df = fn(spark, sfDir)
        // run THIS QueryExecution first (toRdd, not a write command,
        // which would plan its own): AQE finalizes at runtime, so the
        // dump shows the REAL shape (whole-stage codegen spans, runtime
        // broadcast conversions, coalesced partitions) instead of
        // isFinalPlan=false placeholders
        df.queryExecution.toRdd.count()
        // keep only the FINAL adaptive plan (the string appends the
        // pre-execution "Initial Plan" section, which would double the
        // audit counts)
        val full = df.queryExecution.executedPlan.toString
        val plan = full.indexOf("== Initial Plan ==") match {
          case -1 => full
          case i => full.substring(0, i)
        }
        val nExchange = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
        val flags = Seq(
          if (plan.contains("*(")) Some("codegen") else None,
          if (plan.contains("PushedFilters: [") &&
              !plan.contains("PushedFilters: []")) Some("pushdown") else None,
          if (plan.contains("Broadcast")) Some("bcast") else None,
          Some(s"${nExchange}ex")).flatten.mkString(", ")
        sb ++= s"## $name  `[$flags]`\n\n```\n"
        // plans can embed literal control chars (e.g. the \x00 in the
        // null-byte sanitizer's contains()) — keep the file text
        sb ++= plan.linesIterator.take(40).mkString("\n")
          .map(c => if (c >= ' ' || c == '\n' || c == '\t') c else '?')
        sb ++= "\n```\n\n"
      } catch {
        case e: Throwable => sb ++= s"## $name\n\nFAILED TO PLAN: ${e.getMessage}\n\n"
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"[plandump] wrote $outFile (${SparkEntry.queries.size} plans)")
    spark.stop()
  }
}
