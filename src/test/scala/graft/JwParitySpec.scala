package graft

import java.sql.DriverManager

import graft.functions.TextKernels
import graft.operators.Linkage
import org.apache.spark.unsafe.types.UTF8String

/** Bit-identity of the Jaro / Jaro–Winkler kernels against DuckDB's
  * native `jaro_similarity` / `jaro_winkler_similarity` — the oracle
  * engine IS the reference implementation, so parity here is what
  * makes the `jwBand` comparator's decisions replay with no tolerance.
  * (Development pinned the semantics on 230k+ adversarial pairs; this
  * CI fuzz re-runs a seeded 20k-pair subset live via the DuckDB JDBC
  * driver, comparing raw IEEE bits, not epsilons.)
  */
class JwParitySpec extends SparkTestBase {
  import spark.implicits._

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  test("jaroSim/jaroWinklerSim: hand-pinned classics, empties, byte-based unicode") {
    def jw(a: String, b: String): Double = TextKernels.jaroWinklerSim(u(a), u(b))
    def j(a: String, b: String): Double = TextKernels.jaroSim(u(a), u(b))
    // Winkler's classics (values = DuckDB's, probed live in dev)
    assert(j("martha", "marhta") === 0.9444444444444445)
    assert(jw("martha", "marhta") === 0.9611111111111111)
    assert(j("dwayne", "duane") === 0.8222222222222223)
    assert(jw("dwayne", "duane") === 0.8400000000000001)
    assert(jw("dixon", "dicksonx") === 0.8133333333333332)
    // boost only ABOVE jaro 0.7: crate/trace has prefix 0 anyway,
    // ab/abcdefgh shows the prefix boost
    assert(jw("crate", "trace") === 0.7333333333333334)
    assert(jw("ab", "abcdefgh") === 0.8)
    // either side empty = 0.0 (including both), window-0 short strings
    assert(jw("", "") === 0.0 && jw("a", "") === 0.0 && jw("", "a") === 0.0)
    assert(jw("ab", "ba") === 0.0 && jw("a", "b") === 0.0)
    assert(jw("a", "a") === 1.0)
    // BYTE-based: the é vs e pair shares no bytes at window 0
    assert(jw("éa", "ea") === 0.0)
    assert(j("日本語", "日本誤") === 0.9259259259259259)
    assert(jw("日本語", "日本誤") === 0.9555555555555556)
  }

  test("jaroWinklerSim: bit-identical to DuckDB over a 20k-pair seeded fuzz (live JDBC)") {
    val conn = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val ps = conn.prepareStatement(
        "SELECT jaro_similarity(?, ?), jaro_winkler_similarity(?, ?)")
      val rnd = new scala.util.Random(18)
      val corpora = Seq(
        ("ab", 12, 6000),                      // tiny alphabet: transpositions
        ("abcdeXYZ é", 20, 6000),              // multi-byte chars mixed in
        ("abc", 90, 4000),                     // > 64 bytes: the non-bitparallel regime
        ((' ' to '~').mkString, 40, 4000))     // full printable ASCII
      var checked = 0
      corpora.foreach { case (alpha, maxLen, n) =>
        (1 to n).foreach { _ =>
          val a = Seq.fill(rnd.nextInt(maxLen + 1))(
            alpha(rnd.nextInt(alpha.length))).mkString
          val b = Seq.fill(rnd.nextInt(maxLen + 1))(
            alpha(rnd.nextInt(alpha.length))).mkString
          ps.setString(1, a); ps.setString(2, b)
          ps.setString(3, a); ps.setString(4, b)
          val rs = ps.executeQuery(); rs.next()
          val (dj, djw) = (rs.getDouble(1), rs.getDouble(2))
          val (mj, mjw) = (TextKernels.jaroSim(u(a), u(b)),
            TextKernels.jaroWinklerSim(u(a), u(b)))
          assert(java.lang.Double.doubleToRawLongBits(mj) ==
            java.lang.Double.doubleToRawLongBits(dj),
            s"jaro mismatch on (${a.take(40)}, ${b.take(40)}): $mj vs $dj")
          assert(java.lang.Double.doubleToRawLongBits(mjw) ==
            java.lang.Double.doubleToRawLongBits(djw),
            s"jw mismatch on (${a.take(40)}, ${b.take(40)}): $mjw vs $djw")
          // symmetry (the FieldRule contract jwBand claims)
          assert(java.lang.Double.doubleToRawLongBits(mjw) ==
            java.lang.Double.doubleToRawLongBits(
              TextKernels.jaroWinklerSim(u(b), u(a))))
          checked += 1
        }
      }
      assert(checked == 20000)
    } finally conn.close()
  }

  test("damerauLevenshtein: beyond the 2048-byte envelope fails FAST with a named error (no quadratic-matrix OOM)") {
    val big = "a" * (TextKernels.MaxDamerauBytes + 1)
    val e = intercept[IllegalArgumentException](
      TextKernels.damerauLevenshtein(u(big), u("x")))
    assert(e.getMessage.contains("envelope"))
    // the boundary itself still computes (the envelope is inclusive)
    val edge = "a" * TextKernels.MaxDamerauBytes
    assert(TextKernels.damerauLevenshtein(u(edge), u("")) ==
      TextKernels.MaxDamerauBytes)
  }

  test("damerauLevenshtein: true-DL classics (CA->ABC = 2), byte-based, bit-equal to DuckDB on a seeded fuzz") {
    def dl(a: String, b: String): Int =
      TextKernels.damerauLevenshtein(u(a), u(b))
    // the OSA discriminator: restricted DL says 3, true DL says 2
    assert(dl("CA", "ABC") == 2)
    assert(dl("ab", "ba") == 1 && dl("martha", "marhta") == 1)
    assert(dl("", "") == 0 && dl("a", "") == 1 && dl("", "ab") == 2)
    assert(dl("éa", "ea") == 2, "byte-based, like DuckDB")
    assert(dl("日本語", "日本誤") == 1)
    val conn = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val ps = conn.prepareStatement("SELECT damerau_levenshtein(?, ?)")
      val rnd = new scala.util.Random(7)
      Seq(("ab", 12), ("abcde", 25), ("abcXYZ é", 30)).foreach {
        case (alpha, maxLen) =>
          (1 to 2500).foreach { _ =>
            val a = Seq.fill(rnd.nextInt(maxLen + 1))(
              alpha(rnd.nextInt(alpha.length))).mkString
            val b = Seq.fill(rnd.nextInt(maxLen + 1))(
              alpha(rnd.nextInt(alpha.length))).mkString
            ps.setString(1, a); ps.setString(2, b)
            val rs = ps.executeQuery(); rs.next()
            assert(dl(a, b) == rs.getInt(1),
              s"DL mismatch on (${a.take(40)}, ${b.take(40)})")
          }
      }
    } finally conn.close()
  }

  test("dlBand: a swapped adjacent pair is distance 1 (editBand at 1 would miss it)") {
    val df = Seq(
      (1L, 0, "form1024", "X"), (2L, 0, "form1042", "X"))  // "24" -> "42"
      .toDF("id", "blk", "name", "seg")
    val viaDl = Linkage.scorePairs(df, "id", Seq("blk"), Seq(
        Linkage.dlBand("name", maxDist = 1, 500000L, 300000L),
        Linkage.eq("seg", 280000L, 120000L)), 700000L).collect()
    assert(viaDl.length == 1 && viaDl.head.getLong(3) == 780000L)
    val viaLev = Linkage.scorePairs(df, "id", Seq("blk"), Seq(
        Linkage.editBand("name", maxDist = 1, 500000L, 300000L),
        Linkage.eq("seg", 280000L, 120000L)), 700000L).collect()
    assert(viaLev.isEmpty, "levenshtein prices the transposition at 2")
  }

  test("jwBand: links a planted typo'd duplicate; the column/SQL surfaces agree") {
    val df = Seq(
      (1L, 0, "martha", "X"), (2L, 0, "marhta", "X"),
      (3L, 1, "jonathan", "Y"), (4L, 1, "billy", "Y"))
      .toDF("id", "blk", "name", "seg")
    val got = Linkage.scorePairs(df, "id", Seq("blk"), Seq(
        Linkage.jwBand("name", minSimPpm = 900000L, 500000L, 300000L),
        Linkage.eq("seg", 280000L, 120000L)),
      thresholdPpm = 700000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // jw(martha, marhta) = 0.961 >= 0.9 -> AA = 780000;
    // jw(jonathan, billy) < 0.9 -> DA = -20000, cut
    assert(got === Map((1L, 2L) -> 780000L))
    // SQL surface: the registered jaro_winkler_sim is the same kernel
    graft.functions.registry.registerAll(spark)
    val sql = spark.sql(
      "SELECT jaro_winkler_sim('martha', 'marhta')").head().getDouble(0)
    assert(sql === 0.9611111111111111)
  }
}
