package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session profiles as plain data: no session is started here. */
class SessionsSpec extends AnyFunSuite {

  test("shufflePartitions: local[N] and local[N,F] give N, local[*] 32, a cluster master 200") {
    assert(Sessions.shufflePartitions("local[2]") == "2")
    assert(Sessions.shufflePartitions("local[2,2]") == "2")
    assert(Sessions.shufflePartitions("local[*]") == "32")
    assert(Sessions.shufflePartitions("yarn") == "200")
  }

  test("cli settings: exactly the four anonymize CLI settings, no fixture or scan-split keys") {
    val s = Sessions.cliSettings("local[8]")
    assert(s.toMap == Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false"))
    assert(s.size == 4)
    assert(!s.exists { case (k, _) =>
      k.contains("nanosAsLong") || k.contains("maxPartitionBytes") })
  }

  test("local settings: the cli settings at local[cpus] plus the fixture reader and the scan split") {
    val s = Sessions.localSettings(4)
    assert(s.take(4) == Sessions.cliSettings("local[4]"))
    assert(s.drop(4).toMap == Map(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "64k"))
    assert(s.map(_._1).distinct.size == s.size)
  }
}
