package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // fixture-drift preamble: name any schema shift up front (r9's
    // regenerated testdata broke 7 queries with zero direct signal)
    graft.sources.FixtureCanary.check(spark, sfDir)
      .foreach(d => System.err.println(s"[canary] FIXTURE DRIFT: $d"))
    // comma-separated allowlist for focused repeat-verify loops (same
    // contract as SPARK_GRAFT_BENCH_ONLY); unset = full surface
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // library ops cache() long-lived artifacts (IvfIndex) and the
      // CacheManager holds them by strong reference; over ~90 queries
      // in one session that accretes — clear between queries (same
      // hygiene as Bench between runs)
      spark.catalog.clearCache()
      // the dedup tier's eager candidate checkpoints live in the block
      // manager (clearCache doesn't reach them); the scope frees them
      // at query end instead of waiting on GC + ContextCleaner
      try graft.operators.Dedup.withCandidateScope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Leave a visible trail: an output dir holding an _ERROR marker
        // and NO parquet makes every downstream reader (driver compare,
        // check_oracles.py) fail loudly on this query → an `err` row in
        // CORRECTNESS instead of the query silently vanishing from the
        // board (r9: seven broken queries were invisible because this
        // catch swallowed them and the absent dir was simply omitted).
        val d = Paths.get(s"$outDir/$name")
        if (Files.exists(d)) { // drop any partial write output first
          import scala.jdk.CollectionConverters._
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
        }
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
