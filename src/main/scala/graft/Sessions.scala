package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Two profiles:
  *
  *   - [[cli]]: the `anonymize` CLI on user data — shuffle partitions
  *     from the master, UTC, AQE on, UI off. No `nanosAsLong`: that
  *     would change the column types the CLI writes.
  *   - [[local]]: every in-repo main (Bench, Verify, tools) and the test
  *     suite — the `cli` settings at `local[cpus]` plus the fixture
  *     reader and the row-group scan split, so the oracle dump checks
  *     the same physical plans the bench times.
  *
  * The setting lists are plain data, checkable without a session.
  */
object Sessions {

  /** `spark.sql.shuffle.partitions` for a master URL: N for `local[N]`
    * and `local[N,F]` (F = task retries), 32 for `local[*]`, Spark's
    * default 200 for anything without brackets (a cluster master). */
  def shufflePartitions(master: String): String =
    if (!master.contains("[")) "200"
    else master.dropWhile(_ != '[').drop(1).takeWhile(c => c != ']' && c != ',') match {
      case "*" => "32"
      case n   => n
    }

  def cliSettings(master: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions(master),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  def localSettings(cpus: Int): Seq[(String, String)] =
    cliSettings(s"local[$cpus]") ++ Seq(
      // if the fixture ships events.ts as TIMESTAMP(NANOS), read it as
      // a nanos BIGINT (exact) — SparkEntry.events dispatches on
      // whichever dtype surfaces; harmless for the µs fixture
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // local testdata is a single ~10MB file per table; the 128MB
      // default split => 1 task on 32 cores. Split by row group so the
      // scan parallelizes (at real scale the file count does this).
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "64k")

  def cli(master: String, appName: String): SparkSession =
    build(master, appName, cliSettings(master))

  def local(cpus: Int, appName: String): SparkSession =
    build(s"local[$cpus]", appName, localSettings(cpus))

  private def build(master: String, appName: String,
                    settings: Seq[(String, String)]): SparkSession = {
    val spark = settings
      .foldLeft(SparkSession.builder().master(master).appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
