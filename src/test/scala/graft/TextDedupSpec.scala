package graft

import graft.functions.text
import graft.operators.{Dedup, Multimodal, Similarity}

import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkTestBase {
  import spark.implicits._

  // -- text analysis ------------------------------------------------------

  test("tokenCount: whitespace runs, blanks, empties") {
    val df = Seq("one two  three", "  ", "", "single").toDF("t")
    assert(df.select(text.tokenCount($"t")).as[Int].collect().toSeq == Seq(3, 0, 0, 1))
  }

  test("qualityScore: prose scores higher than symbol soup") {
    val prose = "The quick brown fox jumps over the lazy dog and runs to the forest with a friend of the family"
    val soup = ";;;; !!!! ???? ,,,, 1234 %%%% ;;;; !!!!"
    val df = Seq(prose, soup).toDF("t")
    val scores = df.select(text.qualityScore($"t")).as[Double].collect()
    assert(scores(0) > 0.6, s"prose=${scores(0)}")
    assert(scores(1) < 0.3, s"soup=${scores(1)}")
  }

  test("langId on real sentences") {
    val samples = Seq(
      "the cat sat on the mat and it was happy with that" -> "en",
      "der Hund ist nicht mit der Katze und das ist ein Problem" -> "de",
      "le chien est dans la maison et il est avec le chat pour la nuit" -> "fr",
      "el perro es un animal y la casa es grande por que si" -> "es",
      "今天天气很好我们去公园散步吧" -> "zh",
      "xkcd qwerty zzz" -> "und")
    val got = samples.map(_._1).toDF("t")
      .select(text.langId($"t")).as[String].collect().toSeq
    assert(got == samples.map(_._2), s"got $got")
  }

  test("fingerprints: normalization-invariant, content-sensitive") {
    val df = Seq("Hello   World", "hello world", "hello worlds").toDF("t")
    val md5s = df.select(text.fingerprintMd5($"t")).as[String].collect()
    assert(md5s(0) == md5s(1) && md5s(1) != md5s(2))
    val rolls = df.select(text.rollingFingerprint($"t")).as[String].collect()
    assert(rolls(0) == rolls(1) && rolls(1) != rolls(2))
  }

  test("normalizeUnicode: NFC composition, control strip, ws collapse, case kept") {
    val df = Seq(
      "cafe\u0301 and A\u030A and \u212B",   // decomposed + Angstrom sign
      "Keep\u0000The\u0007CASE",             // controls vanish, case stays
      "a \u000B b\u000C",                    // VT/FF are controls here, not ws
      "  tabs\t\tand\r\nnewlines  ",
      "").toDF("t")
    val got = df.select(text.normalizeUnicode($"t")).as[String].collect().toSeq
    assert(got(0) == "caf\u00E9 and \u00C5 and \u00C5", s"got ${got(0)}")
    assert(got(1) == "KeepTheCASE", s"got ${got(1)}")
    assert(got(2) == "a b", s"got ${got(2)}")
    assert(got(3) == "tabs and newlines", s"got ${got(3)}")
    assert(got(4) == "")
  }

  test("normalize_text reachable from SQL") {
    graft.functions.registry.registerAll(spark)
    val r = spark.sql("SELECT normalize_text(' A\u030A  b ') AS t").first()
    assert(r.getString(0) == "\u00C5 b")
  }

  // -- dedup --------------------------------------------------------------

  val docA = (1 to 60).map(i => s"word$i").mkString(" ")
  val docAnear = ((1 to 30).map(i => s"word$i") ++ Seq("CHANGED") ++
    (32 to 60).map(i => s"word$i")).mkString(" ")
  val docB = (1 to 60).map(i => s"other$i").mkString(" ")

  test("fuzzyPairs: every single-edit class pairs, distance 2 never does") {
    val df = Seq(
      (1L, "kitten"),
      (2L, "kitten"),   // identical -> dist 0
      (3L, "kitxen"),   // substitution -> dist 1 with 1/2
      (4L, "kittens"),  // insertion -> dist 1 with 1/2
      (5L, "kittn"),    // deletion -> dist 1 with 1/2 (and 4? no: dist 2)
      (6L, "KITTEN "),  // case/trim-insensitive identical
      (7L, "sitting"),  // far away: no pairs
      (8L, "")          // empty: no pairs (guarded variant path)
    ).toDF("id", "s")
    val got = Dedup.fuzzyPairs(df, "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    val expected = Set(
      (1L, 2L, 0), (1L, 6L, 0), (2L, 6L, 0),
      (1L, 3L, 1), (2L, 3L, 1), (3L, 6L, 1),
      (1L, 4L, 1), (2L, 4L, 1), (4L, 6L, 1),
      (1L, 5L, 1), (2L, 5L, 1), (5L, 6L, 1))
    assert(got == expected,
      s"missing ${expected -- got}; extra ${got -- expected}")
  }

  test("exact dedup keeps smallest id per key") {
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y")).toDF("id", "t")
    val got = Dedup.exact(df, "id", Seq("t")).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "x"), (9L, "y")))
  }

  test("nearDupExplain: containment flags the excerpt jaccard underrates; facets are exact ppm") {
    // doc 2 is a strict PREFIX of doc 1: 12 tokens -> 10 shingles vs
    // 9 tokens -> 7 shingles, all shared. common 7, union 10:
    // jaccard 700000 (passes 0.5), containment 7/7 = 1000000 — the
    // excerpt signature. Lengths 120/90 -> ratio 750000.
    val full = (1 to 12).map(i => s"t$i").mkString(" ")
    val excerpt = (1 to 9).map(i => s"t$i").mkString(" ")
    val other = (100 to 111).map(i => s"u$i").mkString(" ")
    val df = Seq((1L, full, 120L), (2L, excerpt, 90L), (3L, other, 50L))
      .toDF("id", "t", "n_chars")
    val got = Dedup.nearDupExplain(df, "id", "t", lenCol = "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got === Map((2L, 1L) -> ((7L, 700000L, 1000000L, 750000L))) ||
      got === Map((1L, 2L) -> ((7L, 700000L, 1000000L, 750000L))),
      s"unexpected explain rows: $got")
  }

  test("transitivityAudit: an open chain scores 0, a triangle 1e6, wedges count per middle") {
    // chain 1~2~3: one wedge through middle 2, no closing pair
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val c = Dedup.transitivityAudit(chain).first()
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((2L, 1L, 0L, 0L)))
    // triangle: every vertex middles one closed wedge
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val t = Dedup.transitivityAudit(tri).first()
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3)) ==
      ((3L, 3L, 3L, 1000000L)))
    // empty pair set: zero everything, no division blowup
    val e = Dedup.transitivityAudit(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).first()
    assert(e.getLong(0) == 0L && e.getLong(3) == 0L)
  }

  test("minhash LSH finds near-dups, skips unrelated, deterministic") {
    val df = Seq((1L, docA), (2L, docAnear), (3L, docB), (4L, docA)).toDF("id", "t")
    val pairs = Dedup.minhashPairs(df, "id", "t", threshold = 0.4)
      .orderBy("id_a", "id_b").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 4L)), s"exact dup missed: $keys")
    assert(keys.contains((1L, 2L)), s"near dup missed: $keys")
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L), s"false positive: $keys")
    val exactPair = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(exactPair.getDouble(2) == 1.0)
    // determinism
    val again = Dedup.minhashPairs(df, "id", "t", threshold = 0.4)
      .orderBy("id_a", "id_b").collect()
    assert(pairs.sameElements(again))
  }

  test("simhash: near-dups within hamming bound, unrelated far") {
    val df = Seq((1L, docA), (2L, docAnear), (3L, docB)).toDF("id", "t")
    val pairs = Dedup.simhashPairs(df, "id", "t", maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"$pairs")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L), s"$pairs")
  }

  test("ngram Jaccard exact pairs vs minhash estimate") {
    val df = Seq((1L, docA), (2L, docAnear), (3L, docB)).toDF("id", "t")
    val exact = Dedup.ngramJaccardPairs(df, "id", "t", n = 3, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.contains((1L, 2L)))
    // 58 shared of 58+58-... => jaccard ((60-3+1)=58 shingles each; changed
    // word kills 3 shingles => 55 common / 61 union ~ 0.90
    val j = exact((1L, 2L))
    assert(j > 0.85 && j < 0.95, s"jaccard=$j")
    val est = Dedup.minhashPairs(df, "id", "t", threshold = 0.3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(est((1L, 2L)) - j) < 0.15, s"est=${est((1L, 2L))} exact=$j")
  }

  test("simhash band-plan search: every maxHamming in 1..8 yields a working plan") {
    // regression: maxHamming=1 used to select a single 64-bit band
    // (degenerate mask) and crash in the mask generator
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "unrelated words entirely different")).toDF("id", "t")
    for (h <- 1 to 8) {
      val pairs = Dedup.simhashPairs(df, "id", "t", maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"maxHamming=$h lost the identical pair")
    }
  }

  test("dedup family: null/empty text rows survive and never pair") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]),
      (5L, ""), (6L, "completely different content here entirely")
    ).toDF("id", "t")
    // exact dedup groups NULLs together (same as SQL PARTITION BY) and
    // keeps the min id of each group
    val exact = Dedup.exact(df, "id", Seq("t"))
      .select("id").as[Long].collect().toSet
    assert(exact == Set(1L, 3L, 5L, 6L))
    // approximate tiers: null/empty docs produce no signature rows =>
    // never candidates, never paired, no crash
    val mh = Dedup.minhashPairs(df, "id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((1L, 2L)))
    val sh = Dedup.simhashPairs(df, "id", "t", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sh.exists(p => Set(3L, 4L).contains(p._1) || Set(3L, 4L).contains(p._2)))
    // corpus dedup drops only the detected near-dup, keeps null/empty rows
    val survivors = Dedup.dedupCorpus(df, "id", "t")
      .select("id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L, 4L, 5L, 6L))
  }

  test("verified tiers: recall==1 at the oracle configs (pinned)") {
    // q_dedup_minhash / q_dedup_simhash hash-compare against the exact
    // jaccard SQL; that only holds while the pruners recover EVERY exact
    // pair at these configs. Pin it here so a seed/band-plan/testdata
    // change fails as a recall shortfall, not an opaque oracle mismatch.
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaMinhash = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
      3, 128, 32, candThreshold = 0.35, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaMinhash == exact,
      s"minhash recall<1: missed=${exact -- viaMinhash} extra=${viaMinhash -- exact}")
    val viaSimhash = Dedup.simhashVerifiedPairs(docs, "doc_id", "text",
      maxHamming = 6, n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSimhash == exact,
      s"simhash recall<1: missed=${exact -- viaSimhash} extra=${viaSimhash -- exact}")
  }

  test("verified tiers: recall==1 is parameter-robust (3 seeds x 2 band plans)") {
    // r4/r5 verdict item: the oracle configs above are exact BECAUSE
    // recall is 1 there — but a single pinned config can hide a knife's
    // edge. Sweep seeds and band plans so parameter drift fails HERE as
    // a named recall shortfall instead of flipping a driver hash.
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "sweep is vacuous without planted near-dups")
    val seeds = Seq(graft.fakegen.FakeGen.DefaultSeed, 7L, 987654321L)
    // (numHashes, bands): rows-per-band 4 (oracle config) and 3 — LOOSER
    // plans than the oracle's, so candidate recall can only grow; both
    // must still verify down to the identical exact pair set
    for (seed <- seeds; (numHashes, bands) <- Seq((128, 32), (96, 32))) {
      val got = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        3, numHashes, bands, candThreshold = 0.35, threshold = 0.5, seed = seed)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exact, s"minhash seed=$seed plan=($numHashes,$bands): " +
        s"missed=${exact -- got} extra=${got -- exact}")
    }
    // simhash: this sweep DISCOVERED that hamming<=6 is seed-marginal
    // (seed=7 places one true pair at hamming 7), so 6 is pinned only
    // for the oracle seed (test above). Seed-robust claims: the verify
    // step makes precision 1 unconditionally, and hamming<=8 recovers
    // every pair for every seed swept.
    for (seed <- seeds; maxHamming <- Seq(6, 8)) {
      val got = Dedup.simhashVerifiedPairs(docs, "doc_id", "text",
        maxHamming = maxHamming, n = 3, threshold = 0.5, seed = seed)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(exact), s"simhash seed=$seed maxHamming=$maxHamming " +
        s"passed a sub-threshold pair through verify: ${got -- exact}")
      if (maxHamming >= 8)
        assert(got == exact, s"simhash seed=$seed maxHamming=$maxHamming: " +
          s"missed=${exact -- got}")
    }
  }

  test("bloom incremental dedup == exact tier; misses skip the join; no false negatives") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val fps = docs.filter($"doc_id" < 400)
      .select(graft.functions.text.fingerprintMd5($"text").as("fp")).distinct()
    val batch = docs.filter($"doc_id" >= 400)
    val viaExact = Dedup.incrementalByFingerprint(batch, "doc_id", "text", fps)
      .select("doc_id").as[Long].collect().toSet
    // sweep fpp: result must be IDENTICAL at any false-positive rate
    for (fpp <- Seq(0.5, 0.01, 0.0001)) {
      val viaBloom = Dedup.incrementalByFingerprintBloom(
        batch, "doc_id", "text", fps, expectedItems = 1000L, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(viaBloom == viaExact, s"fpp=$fpp diverged")
    }
    // null text => null fingerprint: the exact tier's anti-join keeps
    // such rows (null equals no index key), so the bloom tier must
    // route them to definitelyNew — a bare !mightContain is NULL for
    // them and silently dropped them from both branches (r6 advisor)
    val withNull = batch.select($"doc_id", $"text")
      .unionByName(Seq((999999L, Option.empty[String])).toDF("doc_id", "text"))
    val exactNull = Dedup.incrementalByFingerprint(
      withNull, "doc_id", "text", fps).select("doc_id").as[Long].collect().toSet
    val bloomNull = Dedup.incrementalByFingerprintBloom(
      withNull, "doc_id", "text", fps, expectedItems = 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(exactNull.contains(999999L), "exact tier must keep the null-text row")
    assert(bloomNull == exactNull, "tiers diverge on a null-text corpus")

    // no false negatives: every batch row whose fp IS in the index must
    // probe true (a put/probe encoding mismatch would surface here)
    val bloom = fps.stat.bloomFilter("fp", 1000L, 0.0001)
    val indexed = fps.as[String].collect()
    assert(indexed.nonEmpty &&
      indexed.forall(fp => bloom.mightContainBinary(
        fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
  }

  test("decontaminateExactNgram: one shared n-gram is contamination; short docs match whole-text") {
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "short eval")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares exactly one 8-gram window with ref doc 1 => dropped
      (100L, "INTRO quick brown fox jumps over the lazy dog OUTRO extra tail"),
      // high word overlap but never 8 consecutive shared tokens => kept
      (101L, "quick brown cat jumps over the lazy dog tonight maybe"),
      // unrelated => kept
      (102L, "completely different content with many unrelated words here"),
      // short doc, exact text match of short eval doc => dropped
      (103L, "short eval"),
      // short doc, different text => kept
      (104L, "short evals")).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.decontaminateExactNgram(
      corpus, ref, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(101L, 102L, 104L), s"got $kept")
    // plan shape: the eval shingle table broadcasts (no corpus shuffle)
    val plan = graft.operators.Dedup.decontaminateExactNgram(
      corpus, ref, "doc_id", "text", n = 8).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"eval shingles should broadcast:\n$plan")
  }

  test("decontaminate: drops near-dups of the reference set, broadcasts the reference") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val ref = docs.filter($"doc_id" < 20)
    val corpus = docs.filter($"doc_id" >= 20)
    val clean = Dedup.decontaminate(corpus, ref, "doc_id", "text")
    // ground truth: corpus docs with an exact-jaccard >= 0.5 partner in ref
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bad = pairs.collect {
      case (a, b) if a < 20 && b >= 20 => b
      case (a, b) if b < 20 && a >= 20 => a
    }.toSet
    val got = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = corpus.select("doc_id").collect().map(_.getLong(0)).toSet -- bad
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // scale shape: the reference's banded table broadcasts
    assert(clean.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
  }

  test("embedding near-dup pairs on clustered vectors") {
    val base = (0 until 8).map(i => (0 until 16).map(d => math.sin(i * 16 + d).toFloat).toArray)
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val nearDup = v.map(x => x + 0.001f)
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, nearDup))
    }
    val df = rows.toDF("id", "v")
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 8).forall(i => pairs.contains((i * 2L, i * 2L + 1))), s"$pairs")
    assert(pairs.size == 8, s"unexpected extra pairs: $pairs")
  }

  test("embedding LSH near-dup tier recovers planted near-copies exactly") {
    val base = (0 until 8).map(i => (0 until 16).map(d => math.sin(i * 16 + d).toFloat).toArray)
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val nearDup = v.map(x => x + 0.001f)
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, nearDup))
    }
    val df = rows.toDF("id", "v")
    val pairs = Dedup.embeddingNearDupPairsLsh(df, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingNearDupPairs(df, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == exact, s"lsh=$pairs exact=$exact")
  }

  test("embedding LSH: recall==1 at the q_dedup_embedding_lsh oracle config (pinned)") {
    // The driver oracle for q_dedup_embedding_lsh is EXACT all-pairs SQL;
    // it passes only because the registered configuration (threshold
    // 0.95, AUTO bits, probeHamming 2, default seed) achieves full
    // recall on the sf0.01 planted near-copies. That equality is
    // INTENTIONAL — this test pins it, so a seed/parameter/testdata
    // change surfaces here as a recall shortfall instead of an opaque
    // oracle hash mismatch.
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = emb.filter($"vec_id" < 25)
      .select(($"vec_id" + 100000).as("vec_id"),
        concat(array(element_at($"embedding", 1) + lit(0.05f)),
          slice($"embedding", 2, 100000)).as("embedding"))
    val aug = emb.unionByName(planted)
    val lsh = Dedup.embeddingNearDupPairsLshAuto(aug, "vec_id", "embedding",
      threshold = 0.95, probeHamming = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingNearDupPairs(aug, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"recall<1 at the pinned oracle config: " +
      s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("auto LSH bits: occupancy dial grows with corpus, bounded, keeps candidates linear") {
    // smallest b with tail(b) * (n-1) <= target; monotone in n
    val b1k = Dedup.autoLshBits(1000L, 2, 8, 6, 24)
    val b10k = Dedup.autoLshBits(10000L, 2, 8, 6, 24)
    val b100k = Dedup.autoLshBits(100000L, 2, 8, 6, 24)
    val b10m = Dedup.autoLshBits(10000000L, 2, 8, 6, 24)
    assert(b1k < b10k && b10k < b100k && b100k < b10m,
      s"bits not growing: $b1k $b10k $b100k $b10m")
    assert(b10m <= 24 && b1k >= 6)
    // the dial's defining inequality holds at the chosen bits
    def tail(b: Int): Double =
      (0 to 2).map(k => (0 until k).map(j => (b - j).toDouble / (j + 1))
        .product).sum / math.pow(2.0, b)
    Seq((1000L, b1k), (10000L, b10k), (100000L, b100k)).foreach {
      case (n, b) =>
        assert(tail(b) * (n - 1) <= 8.0, s"occupancy target missed at n=$n")
        assert(b == 6 || tail(b - 1) * (n - 1) > 8.0,
          s"not the smallest qualifying bits at n=$n")
    }
  }

  test("semantic (SemDeDup) dedup: planted pairs CO-PROBE at every SF, matching the all-pairs oracle") {
    // The q_semantic_dedup oracle is the SAME all-pairs recursive-CTE
    // SQL as q_dedup_embedding_corpus; that is valid only while (a)
    // every >=0.7 pair is a planted near-copy and (b) each planted pair
    // SHARES A PROBED CLUSTER. Hard assignment (nprobe=1) violated (b)
    // at sf0.001 and sf0.1 — a planted pair straddled a Voronoi face —
    // which is exactly the boundary miss multi-probe exists to fix.
    // This test pins co-probing AND end-to-end survivors at all three
    // SFs, so a recall shortfall surfaces here by name instead of as
    // an opaque oracle hash mismatch.
    for (sfDir <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = spark.read.parquet(sf(sfDir) + "/embeddings.parquet")
        .select($"vec_id", $"embedding")
      val planted = emb.filter($"vec_id" < 25)
        .select(($"vec_id" + 100000).as("vec_id"),
          concat(array(element_at($"embedding", 1) + lit(0.05f)),
            slice($"embedding", 2, 100000)).as("embedding"))
      val aug = emb.unionByName(planted)
      val centroids = graft.operators.Ivf.train(aug, "vec_id", "embedding",
        nlist = 16, iters = 2)
      val probes = aug
        .select($"vec_id",
          graft.operators.Ivf.probes($"embedding", centroids, 2).as("cs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
      for (i <- 0L until 25L)
        assert(probes(i).intersect(probes(i + 100000)).nonEmpty,
          s"$sfDir: planted pair $i shares no probed cluster " +
          s"(${probes(i)} vs ${probes(i + 100000)})")
      val survivors = Dedup.semanticDedup(aug, "vec_id", "embedding",
        centroids, threshold = 0.7).select("vec_id")
        .as[Long].collect().toSet
      assert(survivors == emb.select("vec_id").as[Long].collect().toSet,
        s"$sfDir: semantic dedup must drop exactly the planted copies")
    }
  }

  test("embedding LSH: wide sketches don't enumerate 2^nBits masks") {
    // pre-fix this OOM'd the driver (2^48 longs); combinatorial masks
    // make wide sketches usable: C(48,<=1) = 49 probes
    val base = (0 until 6).map(i => (0 until 16).map(d => math.sin(i * 16 + d).toFloat).toArray)
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, v.map(x => x + 0.0001f)))
    }
    val df = rows.toDF("id", "v")
    val pairs = Dedup.embeddingNearDupPairsLsh(df, "id", "v", 0.999,
      nBits = 48, probeHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 6).forall(i => pairs.contains((i * 2L, i * 2L + 1))), s"$pairs")
    // fan-out cap rejects an infeasible probe budget instead of OOM
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsLsh(df, "id", "v", 0.999, nBits = 60, probeHamming = 10)
    }
  }

  // -- similarity search --------------------------------------------------

  test("bruteForceTopK: valid ranks, deterministic, self-excluded") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val got = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val rows = got.collect()
    assert(rows.length == 15)
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val again = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("lshTopK: near-identical vectors are found (recall on clustered data)") {
    val base = (0 until 20).map(i => (0 until 32).map(d => math.sin(i * 32 + d).toFloat).toArray)
    val corpus = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val queries = base.zipWithIndex.map { case (v, i) =>
      (100L + i, v.map(x => x + 0.0005f)) }.toDF("id", "v")
    val got = Similarity.lshTopK(corpus, queries, "id", "v", k = 1, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hit = (0 until 20).count(i => got.get(100L + i).contains(i.toLong))
    assert(hit >= 18, s"recall@1 $hit/20") // near-identical => same bucket
  }

  // -- multimodal ---------------------------------------------------------

  test("multimodal resize + frame sampling stubs: shapes and exact slicing") {
    val df = Seq((1L, "abcdefghij"), (2L, "xy"), (3L, "")).toDF("id", "t")
    val assets = Multimodal.asAssets(df, "id", $"t", "text/plain")
    // resize: fixed byte budget, meta carries the new dims
    val r = Multimodal.resized(assets, width = 2, height = 2)
      .orderBy("asset_id").collect()
    assert(r(0).getAs[Array[Byte]]("content").length == 4)
    assert(r(0).getAs[org.apache.spark.sql.Row]("meta").getInt(1) == 2) // width
    assert(r(2).getAs[Array[Byte]]("content").isEmpty) // empty in => empty out
    // frames: windows of 4 every 3, only while fully inside
    val f = Multimodal.sampleFrames(assets, frameBytes = 4, strideBytes = 3)
      .select($"asset_id", $"frame_idx", $"frame".cast("string"))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet
    assert(f == Set((1L, 0, "abcd"), (1L, 1, "defg"), (1L, 2, "ghij")))
    // deterministic across runs
    val again = Multimodal.sampleFrames(assets, 4, 3)
      .select($"asset_id", $"frame_idx", $"frame".cast("string"))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet
    assert(f == again)
  }

  test("multimodal plumbing: schema, features, batch stub") {
    val docs = spark.read.parquet(sf() + "/documents.parquet").limit(50)
    val assets = Multimodal.asAssets(docs, "doc_id", $"text", "text/plain")
    assert(assets.columns.toSeq == Seq("asset_id", "content", "meta"))
    val feats = Multimodal.withFeatures(assets)
    val r = feats.orderBy("asset_id").first()
    val fvec = r.getAs[scala.collection.Seq[Float]]("features")
    assert(fvec.length == 16)
    assert(math.abs(fvec.sum - 1.0f) < 1e-4)
    assert(r.getAs[Long]("n_bytes") > 0)
    val batched = Multimodal.mapBatchesStub(spark, assets)
    val m = batched.orderBy("asset_id").first().getDouble(1)
    assert(m > 32 && m < 127, s"mean byte $m") // ASCII text range
  }

  test("trigramJoin: exact integer jaccard, identical and partial overlap") {
    val df = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "abcdxy"), (4L, "ab"))
      .toDF("id", "name")
    val got = Dedup.trigramJoin(df, "id", "name", thresholdPpm = 300000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // 1-2 identical: 4 shared of 4 -> 1e6; 1-3 and 2-3: abc,bcd shared
    // of 4+4 distinct -> 2e6 div 6 = 333333; "ab" has no trigram
    assert(got == Map(
      (1L, 2L) -> ((4L, 1000000L)),
      (1L, 3L) -> ((2L, 333333L)),
      (2L, 3L) -> ((2L, 333333L))))
  }

  test("trigramJoin: repeated trigrams dedup before set sizing") {
    val df = Seq((1L, "aaaa"), (2L, "aaab")).toDF("id", "name")
    val got = Dedup.trigramJoin(df, "id", "name", thresholdPpm = 400000L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    // gs(aaaa) = {aaa} (x2 collapsed), gs(aaab) = {aaa, aab}:
    // shared 1 of union 2 -> 500000
    assert(got == Seq((1L, 500000L)))
  }

  test("hardNegatives: the nearest same-label vector is excluded") {
    // query 1 (label 0): identical twin 2 shares the label (excluded);
    // vector 3 (label 1) is farther but is the top hard negative
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0f), 0),
      (3L, Array(0.9f, 0.1f), 1),
      (4L, Array(0f, 1f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 1),
        "vec_id", "embedding", "label", k = 2)
      .orderBy($"rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((3L, 1), (4L, 2)))
  }

  test("containmentPairs: subset copy scores high containment where jaccard misses it") {
    import graft.operators.Dedup
    // doc 2 = doc 1's text embedded in 6x more material: jaccard is
    // low, containment of 1-in-2 is ~1e6
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "unrelated text entirely here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, thresholdPpm = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4)))
    assert(got.length == 1)
    val (a, b, contAb, contBa) = got.head
    assert((a, b) == (1L, 2L))
    assert(contAb == 1000000L, s"small-in-big containment $contAb")   // A wholly inside B
    assert(contBa < 200000L, s"reverse containment $contBa")
    // and the jaccard tier would NOT have surfaced this pair at 0.5
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5).count()
    assert(j == 0L)
  }

  test("filteredTopK: the predicate prunes BEFORE scoring — k stays filled from eligible rows") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val got = Similarity.filteredTopK(emb, q, "vec_id", "embedding",
      pred = $"label" % 2 === 0, k = 4)
    val rows = got.join(emb.select($"vec_id".as("corpus_id"), $"label"),
      Seq("corpus_id")).collect()
    // every hit satisfies the predicate, and each query still gets k
    assert(rows.forall(_.getAs[Int]("label") % 2 == 0))
    val perQuery = rows.groupBy(_.getAs[Long]("query_id")).map(_._2.size)
    assert(perQuery.forall(_ == 4), perQuery.toString)
  }

  test("dedupCorpusKeepBest: clusters keep the highest-quality member, ties to the lower id") {
    // docs 1-3 are one near-dup cluster (same text ± a suffix); doc 9
    // is a singleton. Quality = q column: doc 2 wins its cluster.
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val d = Seq(
      (1L, base, 10L), (2L, base + " tail", 30L), (3L, base + " x", 20L),
      (9L, "completely different text about other things entirely " * 8, 5L))
      .toDF("doc_id", "text", "q")
    val kept = Dedup.dedupCorpusKeepBest(d, "doc_id", "text", "q")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L))
    // min-id semantics differ: dedupCorpus keeps doc 1 instead — same
    // cluster structure, different representative
    val keptMin = Dedup.dedupCorpus(d, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptMin == Set(1L, 9L))
    // quality tie breaks to the smaller id
    val tie = Seq((5L, base, 7L), (6L, base + " y", 7L))
      .toDF("doc_id", "text", "q")
    val keptTie = Dedup.dedupCorpusKeepBest(tie, "doc_id", "text", "q")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptTie == Set(5L))
  }

  test("phraseSearch: multi-occurrence counting, token-present-but-not-adjacent excluded") {
    import graft.operators.Corpus
    val d = Seq(
      (1L, "big table scan with big table scan again"),
      (2L, "table here and big there"), // both tokens, never adjacent
      (3L, "nothing relevant"),
      (4L, "BIG TABLE in caps")) // case-folded match
      .toDF("doc_id", "text")
    val r = Corpus.phraseSearch(d, "doc_id", "text", "big table")
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 2L, 4L -> 1L))
  }

  test("samplePerGroup: exactly k per group, stable, and a subset of the group") {
    import graft.operators.Sampling
    val d = (1L to 100L).map(i => (s"g${i % 4}", i)).toDF("g", "id")
    val s1 = Sampling.samplePerGroup(d, "g", "id", k = 5)
      .as[(String, Long)].collect().toSet
    assert(s1.size == 20 && s1.groupBy(_._1).forall(_._2.size == 5))
    assert(s1.forall { case (g, i) => s"g${i % 4}" == g })
    val s2 = Sampling.samplePerGroup(d, "g", "id", k = 5)
      .as[(String, Long)].collect().toSet
    assert(s2 == s1)
  }

  test("noveltyReport: first doc scores 1.0, an exact copy 0, half-new content in between") {
    val base = "one two three four five six seven eight"
    val d = Seq((1L, base), (2L, base),
      (3L, base + " nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    val r = Dedup.noveltyReport(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("novelty_ppm")).toMap
    // doc 1: all 6 shingles novel; doc 2: exact copy, 0 novel
    assert(r(1L) == 1000000L && r(2L) == 0L)
    // doc 3: 12 shingles, the 6 base-only ones first seen at doc 1,
    // "six seven eight" .. onward are new (7 of 12? exact: shingles
    // crossing the boundary are new) — just pin strict betweenness
    assert(r(3L) > 0L && r(3L) < 1000000L)
  }

  test("vocabCoverage: covered counts are cumulative and hit 100% past the vocab size") {
    import graft.operators.Corpus
    val d = Seq("a a a a b b c", "a b c d").toDF("text")
    val r = Corpus.vocabCoverage(d, "text", Seq(1, 2, 10)).collect()
      .map(x => (x.getLong(0), x.getAs[Long]("covered"),
        x.getAs[Long]("coverage_ppm"))).sortBy(_._1)
    // counts: a=5, b=3, c=2, d=1; total 11
    assert(r(0) == (1L, 5L, 454545L))
    assert(r(1) == (2L, 8L, 727272L))
    assert(r(2) == (10L, 11L, 1000000L))
  }

  test("leakageFreeSplit: no near-dup cluster straddles splits; singletons follow the plain hash rule") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val split = Dedup.leakageFreeSplit(docs, "doc_id", "text",
      trainFrac = 0.8, valFrac = 0.1)
    val rows = split.select($"doc_id", $"component", $"split")
      .as[(Long, Long, String)].collect()
    assert(rows.length == 500)
    // every component lands in exactly one split
    val perComp = rows.groupBy(_._2).map(_._2.map(_._3).distinct.size)
    assert(perComp.forall(_ == 1))
    // the fixture has real multi-member clusters, so the invariant is
    // load-bearing, not vacuous
    assert(rows.groupBy(_._2).exists(_._2.size > 1))
    // all three splits are populated at this fraction split
    assert(rows.map(_._3).distinct.toSet == Set("train", "val", "test"))
    // and the near-dup PAIRS the dedup tier finds never straddle
    val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val splitOf = rows.map(r => r._1 -> r._3).toMap
    assert(pairs.forall { case (a, b) => splitOf(a) == splitOf(b) })
  }

  test("selfJoinSizeEstimate: exact on a uniform key space, sane error on the real corpus") {
    import graft.operators.Sketch
    // every key sampled (mod 1) => estimate == exact
    val d = (1L to 300L).map(i => i % 30).toDF("k")
    val r1 = Sketch.selfJoinSizeEstimate(d, "k", mod = 1).collect().head
    assert(r1.getAs[Long]("est_size") == r1.getAs[Long]("exact_size") &&
      r1.getAs[Long]("err_ppm") == 0L)
    // uniform frequencies: ANY key sample scales back exactly
    val r8 = Sketch.selfJoinSizeEstimate(d, "k", mod = 8).collect().head
    assert(r8.getAs[Long]("exact_size") == 300L * 10L)
    assert(r8.getAs[Long]("est_size") % (10L * 10L * 8L) == 0L)
  }

  test("incrementalNearDup: parquet-persisted index round-trips; appended index == rebuilt index") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val accepted = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    val inMem = Dedup.incrementalNearDup(accepted,
      Dedup.minhashBandIndex(accepted, "doc_id", "text"), batch,
      "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet

    // the index survives a parquet round-trip (the persisted-ingest path)
    val dir = java.nio.file.Files.createTempDirectory("neardup_idx").toString
    Dedup.minhashBandIndex(accepted, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val fromDisk = Dedup.incrementalNearDup(accepted,
      spark.read.parquet(dir), batch, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(fromDisk == inMem)

    // appending a slice's band rows == rebuilding over the union —
    // the property that makes the index maintainable without rescans
    val first = accepted.filter($"doc_id" < 200)
    val second = accepted.filter($"doc_id" >= 200)
    val appended = Dedup.minhashBandIndex(first, "doc_id", "text")
      .unionByName(Dedup.minhashBandIndex(second, "doc_id", "text"))
    val viaAppend = Dedup.incrementalNearDup(accepted, appended, batch,
      "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(viaAppend == inMem)

    // sanity: the fixture plants cross-boundary near-dups, so the
    // survivor set is a strict subset of the batch
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    assert(inMem.subsetOf(batchIds) && inMem.size < batchIds.size)
  }

  test("simhashFlagRateEval: near-identical pair flags in the top decile, low-overlap pair doesn't") {
    // docs 1/2 differ by one token (high jaccard, tiny hamming);
    // docs 3/4 share one shingle out of many (low jaccard, far hashes)
    // simhash needs enough tokens for the majority vote to stabilize:
    // a one-token edit on a ~40-token doc flips only a few bits
    val base = ((1 to 38).map(i => s"tok$i") :+ "tail").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra"),
      (3L, "shared tri gram one two three four five six seven"),
      (4L, "shared tri gram aa bb cc dd ee ff gg hh ii jj kk ll"))
      .toDF("doc_id", "text")
    val r = Dedup.simhashFlagRateEval(docs, "doc_id", "text",
        n = 3, maxHamming = 6)
      .select($"jacc_decile", $"n_pairs", $"n_flagged", $"flag_ppm")
      .as[(Long, Long, Long, Long)].collect()
    val byDecile = r.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val hi = byDecile.keys.max
    assert(hi >= 7, s"planted near-dup should land in a high decile: $byDecile")
    assert(byDecile(hi) == (1L, 1L, 1000000L))
    val lo = byDecile.keys.min
    assert(lo <= 2 && byDecile(lo)._3 == 0L,
      s"low-sim pair must not flag: $byDecile")
  }
}
