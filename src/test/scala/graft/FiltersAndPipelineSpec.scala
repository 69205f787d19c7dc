package graft

import graft.config._
import graft.fakegen.FakeGen
import graft.operators.{Filters, Transformators}
import graft.pipeline.TablePipeline

import org.apache.spark.sql.functions._

class FiltersAndPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def strings(rows: Seq[Option[String]]) = rows.toDF("a")

  test("string filter variants") {
    val df = strings(Seq(Some("foobar"), Some("barfoo"), Some("foo"), None))
    def keep(f: FilterType) =
      df.filter(Filters.compile(f)).as[Option[String]].collect().flatten.toSet
    assert(keep(FilterType.Contains("a", "oo")) == Set("foobar", "barfoo", "foo"))
    assert(keep(FilterType.StartsWith("a", "foo")) == Set("foobar", "foo"))
    assert(keep(FilterType.EndsWith("a", "foo")) == Set("barfoo", "foo"))
    assert(keep(FilterType.StartsAndEndsWith("a", "f", "o")) == Set("foo"))
    assert(keep(FilterType.Equals("a", "foo")) == Set("foo"))
  }

  test("NOT-IN null semantics: NULL rows are KEPT (pinned vs reference)") {
    val ints = Seq(Some(1), Some(2), Some(3), None).toDF("n")
    val gotInts = ints.filter(Filters.compile(FilterType.AnyOfInt("n", Seq(1, 2))))
      .as[Option[Int]].collect().toSet
    assert(gotInts == Set(Some(3), None))

    val strs = strings(Seq(Some("a"), Some("b"), None))
    val gotStrs = strs.filter(Filters.compile(FilterType.AnyOfString("a", Seq("a"))))
      .as[Option[String]].collect().toSet
    assert(gotStrs == Set(Some("b"), None))
  }

  test("applyMulti: one Project, absent columns silently skipped, order kept") {
    val df = Seq((1, "x@y.com", 9.5)).toDF("id", "email", "score")
    val transformed = Transformators.applyMulti(df, Seq(
      ColumnTransformation("email", TransformationType.Custom("fake_email_transformation")),
      ColumnTransformation("score", TransformationType.Nullify),
      ColumnTransformation("ghost", TransformationType.Nullify) // not in schema
    ), FakeGen.DefaultSeed)
    assert(transformed.columns.toSeq == Seq("id", "email", "score"))
    val r = transformed.collect().head
    assert(r.getInt(0) == 1)
    assert(r.getString(1) == FakeGen.email("x@y.com", 42L))
    assert(r.isNullAt(2))
  }

  test("operation table: every registered name compiles and fakes its input; unknown names throw") {
    val df = Seq((7L, "+30 210 555 0101")).toDF("id", "v")
    val ops = Transformators.operationTypes.toSeq.sorted
    assert(ops.size == 10)
    val row = df.select(ops.map(op =>
      Transformators.custom(op, col("v"), 42L).as(op)): _*).collect().head
    ops.indices.foreach { i =>
      assert(!row.isNullAt(i) && row.getString(i) != "+30 210 555 0101", ops(i))
    }
    val e = intercept[IllegalArgumentException](
      Transformators.custom("fake_ssn_transformation", col("v"), 42L))
    assert(e.getMessage.contains("unknown operation_type: fake_ssn_transformation"))
  }

  test("Replace keeps the column's type (divergence from reference, documented)") {
    val df = Seq((1, 2.5)).toDF("i", "d")
    val out = Transformators.applyMulti(df, Seq(
      ColumnTransformation("i", TransformationType.Replace("7")),
      ColumnTransformation("d", TransformationType.Replace("1.5"))), 42L)
    assert(out.schema("i").dataType.typeName == "integer")
    assert(out.schema("d").dataType.typeName == "double")
    assert(out.collect().head == org.apache.spark.sql.Row(7, 1.5))
  }

  test("full pipeline on real data: limit -> sanitize -> filter -> transform") {
    val cfg = TableConfig(
      tableName = "customer",
      anonymizationType = AnonymizationType.Multi(Seq(
        ColumnTransformation("c_name", TransformationType.Custom("fake_name_transformation")))),
      keepNumOfRecords = Some(50),
      filterType = FilterType.StartsWith("c_mktsegment", "M"), // MACHINERY
      sanitizeNullBytes = true)
    val df = spark.read.parquet(sf() + "/customer.parquet")
    val out = TablePipeline.build(df, cfg, orderForLimit = Seq("c_custkey"))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.forall(_.getAs[String]("c_mktsegment") == "MACHINERY"))
    assert(rows.forall(r => r.getAs[String]("c_name").matches("""\p{L}+ \p{L}+""")))
    // deterministic end to end
    val again = TablePipeline.build(df, cfg, orderForLimit = Seq("c_custkey")).collect()
    assert(rows.sameElements(again))
  }

  test("runAll: configured table anonymized, unconfigured passes through by copy") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_runall").toString
    val cfg = AnonymizationConfig(Seq(TableConfig(
      "supplier",
      AnonymizationType.Multi(Seq(ColumnTransformation(
        "s_name", TransformationType.Custom("fake_companyname_transformation")))))))
    TablePipeline.runAll(spark, cfg, sf(), outDir,
      tables = Seq("supplier", "region"), parallelism = 2)
    val sup = spark.read.parquet(s"$outDir/supplier.parquet")
    assert(sup.count() == 10) // supplier rows at sf0.001
    assert(sup.select("s_name").as[String].collect()
      .forall(n => !n.startsWith("Supplier#")))
    // region passed through byte-identical (same file copied)
    val orig = spark.read.parquet(sf() + "/region.parquet").collect().toSet
    val copied = spark.read.parquet(s"$outDir/region.parquet").collect().toSet
    assert(orig == copied)
  }

  test("Single whole-table type dispatches registry, FAILS CLOSED on unknown names") {
    val df = Seq(("a", 1)).toDF("s", "i")
    // an unknown transformation must throw, not silently pass raw PII
    // through as a NoOp (a data-leak failure mode)
    val e = intercept[IllegalArgumentException](
      TablePipeline.build(df, TableConfig("t", AnonymizationType.Single("unregistered"))))
    assert(e.getMessage.contains("unknown whole-table transformation"))
    // the built-ins resolve without a caller registry
    assert(TablePipeline.build(df,
      TableConfig("t", AnonymizationType.Single("noop"))).collect().toSeq
      == df.collect().toSeq)
    val faked = TablePipeline.build(df,
      TableConfig("t", AnonymizationType.Single("fake_all_strings")))
      .collect().head
    assert(faked.getString(0) != "a" && faked.getInt(1) == 1)
    val upper = new graft.pipeline.WholeTableTransformator {
      val name = "upper"
      def apply(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("s", org.apache.spark.sql.functions.upper(col("s")))
    }
    val got = TablePipeline.build(df, TableConfig("t", AnonymizationType.Single("upper")),
      wholeTableRegistry = Map("upper" -> upper)).collect().head
    assert(got.getString(0) == "A")
  }
}
