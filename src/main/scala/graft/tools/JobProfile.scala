package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.SparkEntry

/** Per-job wall-time breakdown for a named SparkEntry query — the
  * measurement tool for overhead-dominated queries (guide §1): prints
  * every Spark job's duration + description plus the driver-side gaps
  * between jobs, so "many tiny materialization jobs" vs "one slow
  * stage" is diagnosable from the console.
  *
  * `sbt "runMain graft.tools.JobProfile <sfDir> q1,q2"`
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val wanted = names.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.local(cpus, "graft-jobprofile")

    final case class J(id: Int, start: Long, var end: Long, desc: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs += J(e.jobId, e.time, -1L,
            Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm the session like Bench does, then drop the warmup jobs
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.contains(n) }
      .foreach { case (name, fn) =>
        // run 1 = warmup (codegen/classloading), run 2 = measured
        (1 to 2).foreach { run =>
          spark.catalog.clearCache()
          jobs.synchronized(jobs.clear())
          val t0 = System.currentTimeMillis()
          graft.operators.Dedup.withCandidateScope {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          val t1 = System.currentTimeMillis()
          if (run == 2) {
            val js = jobs.synchronized(jobs.toList).sortBy(_.start)
            println(s"== $name: total ${t1 - t0} ms, ${js.size} jobs ==")
            var prev = t0
            js.foreach { j =>
              val gap = j.start - prev
              val dur = if (j.end > 0) j.end - j.start else -1
              println(f"  job ${j.id}%3d  gap ${gap}%5d ms  dur ${dur}%5d ms  ${j.desc.take(80)}")
              prev = if (j.end > 0) j.end else j.start
            }
            println(f"  tail gap ${t1 - prev}%5d ms")
          }
        }
      }
    spark.stop()
  }
}
