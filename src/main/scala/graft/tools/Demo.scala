package graft.tools

import org.apache.spark.sql.functions._

import graft.config.ConfigLoader
import graft.functions.anon
import graft.pipeline.TablePipeline

/** End-to-end smoke drive of the public API on real testdata: read
  * parquet -> anonymize -> write parquet -> re-read -> assert
  * determinism. `sbt "runMain graft.tools.Demo [sfDir] [configToml]"`.
  * With a second arg, additionally runs the config-driven pipeline
  * (TOML -> plan -> runAll) over customer+supplier+region. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val spark = graft.Sessions.local(4, "graft-demo")
    import spark.implicits._

    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val anonymized = customer.select(
      $"c_custkey",
      anon.fakeName($"c_name").as("c_name"),
      $"c_nationkey",
      anon.fakeEmail($"c_name").as("c_email_from_name"),
      anon.fakePhone(format_string("+30 21%s", $"c_custkey")).as("c_phone"),
      $"c_mktsegment")

    anonymized.write.mode("overwrite").parquet(s"$out/customer")
    val back = spark.read.parquet(s"$out/customer").orderBy($"c_custkey")
    println("=== anonymized sample ===")
    back.show(5, truncate = false)

    // determinism: second independent run must produce identical bytes
    val again = customer.select($"c_custkey", anon.fakeName($"c_name").as("n"))
      .orderBy($"c_custkey").collect()
    val first = back.select($"c_custkey", $"c_name".as("n")).collect()
    val identical = first.length == again.length &&
      first.zip(again).forall { case (a, b) => a == b }
    println(s"determinism across runs: ${if (identical) "OK" else "MISMATCH"}")

    println("=== plan (should be one WholeStageCodegen over the scan) ===")
    anonymized.explain("formatted")

    // pure-SQL surface
    graft.functions.registry.registerAll(spark)
    customer.createOrReplaceTempView("customer")
    println("=== SQL surface ===")
    spark.sql("""SELECT c_custkey, fake_email(c_name) AS email,
                        lang_id(c_mktsegment) AS seg_lang,
                        rolling_fingerprint(c_name) AS fp
                 FROM customer ORDER BY c_custkey LIMIT 3""")
      .show(truncate = false)

    if (args.length > 1) {
      val cfg = ConfigLoader.parseAnonymization(
        java.nio.file.Files.readString(java.nio.file.Paths.get(args(1))))
      println(s"=== config-driven pipeline: ${cfg.tables.map(_.tableName).mkString(",")} ===")
      TablePipeline.runAll(spark, cfg, sfDir, s"$out/configrun",
        tables = Seq("customer", "supplier", "region"), parallelism = 3)
      for (t <- Seq("customer", "supplier", "region")) {
        val df = spark.read.parquet(s"$out/configrun/$t.parquet")
        println(s"--- $t (${df.count()} rows) ---")
        df.show(3, truncate = false)
      }
    }
    spark.stop()
    if (!identical) sys.exit(1)
  }
}
