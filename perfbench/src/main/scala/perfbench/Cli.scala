package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

import graft.app.Main
import graft.config.{AnonymizationConfig, AnonymizationType, ConfigLoader, TableConfig}
import graft.fakegen.FakeGen
import graft.operators.Transformators
import graft.pipeline.{TablePipeline, Validator}
import graft.sources.DmsFiles

/** The benchmark's JVM entry points.
  *
  * {{{
  * perfbench.Cli setup  <launch-epoch-s> <result.json> <anonymize args...>
  * perfbench.Cli run    <launch-epoch-s> <result.json> <warmup> <seconds> <anonymize args...>
  * perfbench.Cli traced <launch-epoch-s> <result.json> <warmup> <spans.jsonl> <kernels.tsv> <anonymize args...>
  * }}}
  *
  * `setup` times JVM start until the session `Main.main` builds exists.
  * `run` times `graft.app.Main.run` itself, again and again in one JVM.
  * `traced` warms up the same way, times one more `Main.run`, then rebuilds
  * the same flow from the public calls Main.run makes, with a span around
  * each, and last times the faker kernels and the transform projection on
  * the workload's own inputs. Each writes one JSON object to
  * `result.json`.
  */
object Cli {

  /** Exactly the session `Main.main` builds. */
  def session(a: Main.Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(a.master)
      .appName(s"graft-anonymize-${a.dbName}-${a.schemaName}")
      .config("spark.sql.shuffle.partitions",
        a.master match { case m if m.contains("[") =>
          m.dropWhile(_ != '[').drop(1).takeWhile(_ != ']') match {
            case "*" => "32"; case n => n }
          case _ => "200" })
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def epochSeconds: Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def write(path: String, json: String): Unit =
    Files.writeString(Paths.get(path), json + "\n")

  def main(argv: Array[String]): Unit = argv.toList match {
    case "setup" :: launch :: out :: rest => setupOnly(launch.toDouble, out, rest)
    case "run" :: launch :: out :: warmup :: seconds :: rest =>
      run(launch.toDouble, out, warmup.toInt, seconds.toDouble, rest)
    case "traced" :: launch :: out :: warmup :: spans :: kernels :: rest =>
      traced(launch.toDouble, out, warmup.toInt, spans, kernels, rest)
    case _ =>
      System.err.println("usage: perfbench.Cli setup|run|traced <launch-epoch-s> <result.json> ...")
      sys.exit(2)
  }

  /** JVM start until the session is built, and nothing else. */
  private def setupOnly(launch: Double, out: String, mainArgs: Seq[String]): Unit = {
    val spark = session(Main.parse(mainArgs))
    val setup = epochSeconds - launch
    try write(out, Json.obj("setup_s" -> setup)) finally spark.stop()
  }

  /** Setup, then `Main.run` again and again, run `i` into `<output-dir>/<i>`,
    * each but the first few followed by [[reference]], with process CPU and
    * wall time around both. The first `warmup` runs fill the JIT; the timed
    * ones follow until `seconds` have passed and at least three ran. Outputs
    * of runs other than the first and the last are deleted between runs,
    * outside the timed calls. */
  private def run(launch: Double, out: String, warmup: Int, seconds: Double,
                  mainArgs: Seq[String]): Unit = {
    val a = Main.parse(mainArgs)
    val spark = session(a)
    val setup = epochSeconds - launch
    try {
      val walls, cpus, refWalls, refCpus = scala.collection.mutable.ArrayBuffer.empty[Double]
      def timed(body: => Unit): (Double, Double) = {
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        body
        ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
      }
      var timedFrom = 0L
      while (walls.size < warmup + 3 || (System.nanoTime() - timedFrom) / 1e9 < seconds) {
        val i = walls.size
        if (i == warmup) timedFrom = System.nanoTime()
        if (i > 1) deleteTree(Paths.get(a.outputDir, (i - 1).toString))
        val (w, c) = timed(Main.run(a.copy(outputDir = s"${a.outputDir}/$i"), spark))
        // from two runs before the timed ones: enough to warm the reference job
        val (rw, rc) =
          if (i >= warmup - 2) timed(reference(spark, s"${a.outputDir}/reference"))
          else (Double.NaN, Double.NaN)
        walls += w; cpus += c; refWalls += rw; refCpus += rc
      }
      write(out, Json.obj("setup_s" -> setup, "run_s" -> walls, "cpu_s" -> cpus,
        "ref_s" -> refWalls, "ref_cpu_s" -> refCpus, "peak_rss_mb" -> peakRssMb))
    } finally spark.stop()
  }

  /** A fixed Spark job that calls no graft code, run on the same session and
    * cores right after each export: string functions, then a parquet write.
    * It does the same work on every commit, so its time tracks how fast the
    * machine is at that moment, and an export's time divided by it does not. */
  private def reference(spark: SparkSession, dir: String): Unit =
    spark.range(0, 400000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id", "sha2(cast(id as string), 256) as h", "upper(concat('ref', id)) as s")
      .write.mode("overwrite").parquet(dir)

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally paths.close()
    }

  /** Setup and `warmup` untraced runs as in `run`; then one untraced run
    * into `<output-dir>/plain` and one traced run into `<output-dir>/traced`,
    * so the two are timed on the same warm JIT. */
  private def traced(launch: Double, out: String, warmup: Int, spansPath: String,
                     kernelsPath: String, mainArgs: Seq[String]): Unit = {
    val a = Main.parse(mainArgs)
    val spark = session(a)
    val setup = epochSeconds - launch
    try {
      (0 until warmup).foreach(i => Main.run(a.copy(outputDir = s"${a.outputDir}/warm$i"), spark))
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      Main.run(a.copy(outputDir = s"${a.outputDir}/plain"), spark)
      val baseS = (System.nanoTime() - t0) / 1e9
      val baseCpuS = (os.getProcessCpuTime - c0) / 1e9
      val tracer = new Tracer(spark.sparkContext, Paths.get(out).getParent.getFileName.toString)
      val counters = new SparkCounters(tracer)
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val t1 = System.nanoTime()
      val layers = tracedRun(a.copy(outputDir = s"${a.outputDir}/traced"), spark, tracer)
      val runS = (System.nanoTime() - t1) / 1e9
      val rssMb = peakRssMb
      Bridge.flushListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
      tracer.writeJsonl(spansPath)
      val cores = spark.sparkContext.defaultParallelism
      val sparkMetrics = counters.totals.toSeq ++ Seq(
        "spark.core_busy_share" -> counters.totals("spark.executor_run_s") / (runS * cores),
        "spark.read_amplification" -> {
          val w = counters.totals("spark.records_written")
          if (w > 0) counters.totals("spark.records_read") / w else 0.0
        },
        "spark.stage_skew" -> counters.stageSkew)
      val kernels = Kernels.run(spark, a, kernelsPath)
      write(out, Json.obj((Seq("setup_s" -> setup, "base_run_s" -> baseS, "run_s" -> runS,
        "process.cpu_s" -> baseCpuS, "process.peak_rss_mb" -> rssMb) ++
        layers ++ sparkMetrics ++ kernels): _*))
    } finally spark.stop()
  }

  /** Main.run's flow, call for call, with a span around each layer call.
    * Returns the per-layer totals the spans alone do not give. */
  private def tracedRun(a: Main.Args, spark: SparkSession, tr: Tracer): Seq[(String, Any)] = {
    val seed = sys.env.get("RNG_SEED").map(_.toLong).getOrElse(FakeGen.DefaultSeed)
    val reductionEnabled = sys.env.get("RECORD_REDUCTION_ENABLED").contains("true")
    val validationsPath = Paths.get(
      a.configDir, "..", "validations", s"${a.dbName}-${a.schemaName}.toml").normalize()
    val (config, validations) = tr.span("config.load") {
      val raw = ConfigLoader.loadAnonymizationFor(a.configDir, a.dbName, a.schemaName)
      val cfg =
        if (reductionEnabled) raw
        else AnonymizationConfig(raw.tables.map(_.copy(keepNumOfRecords = None)))
      (cfg, Option.when(Files.exists(validationsPath))(
        ConfigLoader.parseValidations(Files.readString(validationsPath))))
    }
    val tables = tr.span("app.resolve_tables")(Main.resolveTables(a))
    val queueWait = new java.util.concurrent.atomic.AtomicLong
    val files = new java.util.concurrent.atomic.AtomicLong
    tr.span("pipeline.tables") {
      val parent = tr.currentId
      val submitted = System.nanoTime()
      TablePipeline.foreachTableConcurrently(tables, a.parallelism) { table =>
        queueWait.addAndGet(System.nanoTime() - submitted)
        tr.span("pipeline.table", table, parent) {
          val out = s"${a.outputDir}/$table.parquet"
          if (a.dms) {
            val pk = a.pks.getOrElse(table,
              throw new IllegalArgumentException(s"--pk missing for DMS table $table"))
            val dir = s"${a.inputDir}/$table"
            val listed = tr.span("sources.list", table)(DmsFiles.list(spark, dir, a.mode))
            files.addAndGet(listed.loadFiles.size + listed.cdcFiles.size)
            val snap = tr.span("sources.snapshot_plan", table)(DmsFiles.snapshot(
              spark, dir, pk, a.mode, expectedColumns = a.expectCols.get(table).map(_.toSet)))
            val cfg = config.tableConfig(table).getOrElse(
              TableConfig(table, AnonymizationType.Multi(Nil)))
            val df = tr.span("pipeline.build", table)(TablePipeline.build(snap, cfg, seed))
            tr.span("sinks.write", table)(df.write.mode("overwrite").parquet(out))
          } else config.tableConfig(table) match {
            case Some(cfg) =>
              val in = tr.span("sources.read_plan", table)(
                spark.read.parquet(s"${a.inputDir}/$table.parquet"))
              val df = tr.span("pipeline.build", table)(TablePipeline.build(in, cfg, seed))
              tr.span("sinks.write", table)(df.write.mode("overwrite").parquet(out))
            case None =>
              tr.span("pipeline.copy", table)(TablePipeline.runAll(
                spark, config, a.inputDir, a.outputDir, Seq(table), seed, parallelism = 1))
          }
        }
      }
    }
    validations.foreach { v =>
      tr.span("pipeline.validate") {
        tables.foreach { t =>
          spark.read.parquet(s"${a.outputDir}/$t.parquet").createOrReplaceTempView(t)
        }
        Validator.run(spark, v).find(!_.passed).foreach { r =>
          throw new IllegalStateException(
            s"validation failed: query='${r.validation.query}' ${r.violations} violating rows")
        }
      }
    }
    Seq("pipeline.queue_wait_s" -> queueWait.get / 1e9, "sources.files" -> files.get)
  }
}

/** Kernel timings outside the traced flow, on the workload's own inputs. */
object Kernels {
  private val kinds = Map(
    "first_name" -> FakeGen.KindFirstName, "last_name" -> FakeGen.KindLastName,
    "full_name" -> FakeGen.KindFullName, "company" -> FakeGen.KindCompany,
    "email" -> FakeGen.KindEmail, "address" -> FakeGen.KindAddress,
    "uuid" -> FakeGen.KindUuid, "phone" -> FakeGen.KindPhone,
    "multi_email" -> FakeGen.KindMultiEmail)

  /** `kernels.tsv` lines: `kernel <kind> <paths> <column>` and
    * `transform <table> <paths>`, with `<paths>` comma-separated parquet paths. */
  def run(spark: SparkSession, a: Main.Args, specPath: String): Seq[(String, Any)] = {
    val seed = sys.env.get("RNG_SEED").map(_.toLong).getOrElse(FakeGen.DefaultSeed)
    val specs = Files.readAllLines(Paths.get(specPath)).asScala.map(_.split('\t').toList).toSeq
    val ns = specs.collect { case "kernel" :: kind :: path :: column :: Nil =>
      s"fakegen.ns_per_row.$kind" -> nsPerRow(spark, kinds(kind), path, column, seed)
    }
    val config = ConfigLoader.loadAnonymizationFor(a.configDir, a.dbName, a.schemaName)
    val xf = specs.collect { case "transform" :: table :: paths :: Nil =>
      config.tableConfig(table).map(_.anonymizationType) match {
        case Some(AnonymizationType.Multi(ts)) =>
          val scan = spark.read.parquet(paths.split(',').toIndexedSeq: _*)
          noopSeconds(Transformators.applyMulti(scan, ts, seed)) - noopSeconds(scan)
        case _ => 0.0
      }
    }
    ns :+ ("operators.transform_exec_s" -> xf.sum)
  }

  /** Best of two: the traced flow has already warmed the JIT. */
  private def noopSeconds(df: org.apache.spark.sql.DataFrame): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  private def nsPerRow(spark: SparkSession, kind: Int, path: String, column: String,
                       seed: Long): Double = {
    val values = spark.read.parquet(path.split(',').toIndexedSeq: _*).select(column)
      .limit(10000).collect()
      .flatMap(r => Option(r.getString(0))).filter(_.nonEmpty).map(UTF8String.fromString)
    var sink = 0L
    def pass(): Unit = {
      var i = 0
      while (i < values.length) { sink += FakeGen.dispatch(kind, values(i), seed).numBytes; i += 1 }
    }
    (1 to 3).foreach(_ => pass()) // JIT warm-up, untimed
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 100000000L) { pass(); passes += 1 }
    val ns = (System.nanoTime() - t0).toDouble / (passes.toLong * values.length)
    if (sink == 42) println("") // keeps the kernel results live
    ns
  }
}
