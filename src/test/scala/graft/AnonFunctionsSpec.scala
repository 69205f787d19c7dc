package graft

import graft.fakegen.FakeGen
import graft.functions.anon

/** Expression-level behavior through the real Catalyst/codegen path. */
class AnonFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("fakeEmail via codegen matches the kernel, null propagates") {
    val df = Seq(Some("a@x.com"), Some("b@y.com"), None).toDF("email")
    val got = df.select(anon.fakeEmail($"email").as("f")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(got(0) == FakeGen.email("a@x.com", 42L))
    assert(got(1) == FakeGen.email("b@y.com", 42L))
    assert(got(2) == null)
  }

  test("determinism across runs and partitionings") {
    val df = spark.read.parquet(sf() + "/customer.parquet")
    val a = df.select($"c_custkey", anon.fakeName($"c_name").as("n"))
      .orderBy($"c_custkey").collect()
    val b = df.repartition(7).select($"c_custkey", anon.fakeName($"c_name").as("n"))
      .orderBy($"c_custkey").collect()
    assert(a.sameElements(b))
  }

  test("referential integrity: same value fakes identically across columns") {
    val df = Seq(("k@x.com", "k@x.com"), ("z@y.com", "k@x.com")).toDF("e1", "e2")
    val rows = df.select(anon.fakeEmail($"e1"), anon.fakeEmail($"e2")).collect()
    assert(rows(0).getString(0) == rows(0).getString(1))
    assert(rows(1).getString(0) != rows(1).getString(1))
    assert(rows(0).getString(1) == rows(1).getString(1))
  }

  test("retainIfEmpty keeps null and empty, fakes the rest") {
    val df = Seq(Some("x"), Some(""), None).toDF("a")
    val got = df.select(
      anon.retainIfEmpty($"a", anon.fakeFirstName($"a")).as("f")).collect()
    assert(got(0).getString(0) == FakeGen.firstName("x", 42L))
    assert(got(1).getString(0) == "")
    assert(got(2).isNullAt(0))
  }

  test("fakeEmailWithIdPrefix: {id}-{fakeEmail}, null email => null") {
    val df = Seq((1, "a@x.com"), (2, null)).toDF("id", "email")
    val got = df.select(anon.fakeEmailWithIdPrefix($"id", $"email").as("f")).collect()
    assert(got(0).getString(0) == "1-" + FakeGen.email("a@x.com", 42L))
    assert(got(1).isNullAt(0))
  }

  test("sanitizeNullBytes nulls only cells containing \\x00") {
    val df = Seq("ok", "bad\u0000json", "\u0000", "").toDF("a")
    val got = df.select(anon.sanitizeNullBytes($"a").as("s")).collect()
    assert(got(0).getString(0) == "ok")
    assert(got(1).isNullAt(0))
    assert(got(2).isNullAt(0))
    assert(got(3).getString(0) == "")
  }

  test("phone through codegen: shape preserved on real-ish data") {
    val df = Seq("+44 20 7123 4567", "(555) 010-9999", "n/a").toDF("p")
    val got = df.select(anon.fakePhone($"p").as("f")).as[String].collect()
    assert(got(0).matches("""\+\d\d \d\d \d{4} \d{4}"""))
    assert(got(1).matches("""\(\d{3}\) \d{3}-\d{4}"""))
    assert(got(2) == "n/a") // no digits => unchanged
  }
}
