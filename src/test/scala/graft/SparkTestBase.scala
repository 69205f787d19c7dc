package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks a single test JVM;
  * getOrCreate dedups): the same `Sessions.local` profile Bench and
  * Verify run under, at local[4]. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** events with ts normalized to a µs-epoch BIGINT regardless of which
    * parquet dtype the fixture currently carries (nanos BIGINT or
    * TIMESTAMP_MICROS) — the same dispatch SparkEntry's queries use. */
  def eventsUs(dir: String = "sf0.001"): org.apache.spark.sql.DataFrame =
    SparkEntry.events(spark, sf(dir))
}

object SparkTestBase {
  lazy val session: SparkSession = Sessions.local(4, "graft-test")
}
