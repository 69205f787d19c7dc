package graft

/** The DuckDB oracle SQL for every SQL-expressible SparkEntry query,
  * plus the shared SQL fragments and generated replicas the map is
  * assembled from. Extracted from SparkEntry verbatim (round 12) so the
  * driver-contract file stays navigable; [[SparkEntry.oracleSql]]
  * delegates here and the content is unchanged.
  *
  * Init-order contract (the q_triangle_count null-interpolation bug,
  * round 7): `oracleSqlTail` is a STRICT val, so every helper it
  * references must be declared before it or be `lazy`. `all` is a def,
  * so its own references are order-free.
  */
import graft.fakegen.FakeGen

private[graft] object Oracles {

  /** Exact n-gram (n=3) jaccard pairs at threshold 0.5 over documents —
    * the shared oracle for the exact tier and both prune-then-verify
    * tiers (minhash / simhash). */
  // ---- shared quality-signal SQL fragments (q_text_quality +
  // q_quality_filter oracles; one source of truth for the formulas) ----
  private val qAlphaSql = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
    "length(regexp_replace(text, '[^\\p{L}]', '', 'g')) * 1.0 / length(text) END"
  private val qPunctSql = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
    "length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) END"
  private val qStopListSql = "['the','a','an','and','of','to','in','is','it','that'," +
    "'for','on','with','as','was','at','by']"
  private val qToksSql = "regexp_split_to_array(lower(trim(text)), '\\s+')"
  private val qStopSql = s"CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE " +
    s"len(list_filter($qToksSql, x -> list_contains($qStopListSql, x))) * 1.0 / len($qToksSql) END"
  private val qNtokSql = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
    "len(regexp_split_to_array(trim(text), '\\s+')) END"
  private val qQualitySql =
    s"0.35 * ($qAlphaSql) + 0.25 * least(($qStopSql) * 3.0, 1.0) + " +
    s"0.25 * least(($qNtokSql) / 100.0, 1.0) + " +
    s"0.15 * (1.0 - least(($qPunctSql) * 5.0, 1.0))"

  // kernel-parity tokenization (TextKernels.tokens): lower + \s+ split
  // + DROP empty segments; empty docs produce NO shingles (the WHERE),
  // exactly like shingleHashes — r4 review finding on edge-whitespace
  // and empty-doc divergence. ONE copy of the jaccard CTE chain,
  // shared by the exact-tier oracle and the simhash-pruned oracle.
  private def jaccardCtes(threshold: Double): String =
    "jtok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
    "lower(text), '\\s+'), t -> t != '') AS ts " +
    "  FROM documents), " +
    "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
    "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
    "  FROM jtok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
    "  WHERE len(ts) > 0), " +
    "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
    "jp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
    "  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
    "jj AS (SELECT id_a, id_b, " +
    "  round(common * 1.0 / (x.sz + y.sz - common), 6) AS jaccard " +
    "  FROM jp JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b " +
    s"  WHERE common * 1.0 / (x.sz + y.sz - common) >= $threshold)"

  private val jaccardCtesSql: String = jaccardCtes(0.5)

  /** Closed-form replay of the deterministic test image's decoded
    * stats: shared by q_multimodal_decode (PPM/BMP fixture) and
    * q_multimodal_decode_png (same pixels, PNG-encoded). */
  private val decodedStatsOracleSql: String =
    "WITH dims AS (SELECT doc_id, CAST(1 + doc_id % 7 AS INT) AS width, " +
    "  CAST(1 + doc_id % 5 AS INT) AS height FROM documents), " +
    "px AS (SELECT doc_id, width, height, " +
    "  unnest(range(0, 3*width*height)) AS i FROM dims), " +
    "pv AS (SELECT doc_id, width, height, i, " +
    "  (doc_id*31 + i) % 256 AS v FROM px) " +
    "SELECT doc_id, width, height, CAST(3 AS INT) AS channels, " +
    "CAST(sum(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r, " +
    "CAST(sum(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g, " +
    "CAST(sum(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b " +
    "FROM pv GROUP BY doc_id, width, height"

  private val exactJaccardSql: String =
    s"WITH $jaccardCtesSql SELECT id_a, id_b, jaccard FROM jj"

  /** Explain-report replica: the exact-pair CTEs' common/size counts
    * plus document lengths, all facets in integer ppm; the ppm filter
    * keeps the identical ≥0.5 pair set (floor(c·1e6/u) ≥ 5e5 ⟺
    * c/u ≥ 0.5). */
  private val nearDupExplainSql: String =
    s"WITH $jaccardCtesSql, " +
    "x AS (SELECT id_a, id_b, CAST(common AS BIGINT) AS common, " +
    "  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b " +
    "  FROM jp JOIN sz sa ON sa.doc_id = id_a " +
    "  JOIN sz sb ON sb.doc_id = id_b), " +
    "l AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len FROM documents) " +
    "SELECT id_a, id_b, common, " +
    "common * 1000000 // (sz_a + sz_b - common) AS jaccard_ppm, " +
    "common * 1000000 // least(sz_a, sz_b) AS containment_ppm, " +
    "least(la.len, lb.len) * 1000000 // greatest(la.len, lb.len, 1) " +
    "  AS len_ratio_ppm " +
    "FROM x JOIN l la ON la.doc_id = id_a JOIN l lb ON lb.doc_id = id_b " +
    "WHERE common * 1000000 // (sz_a + sz_b - common) >= 500000"

  /** Yield curve over the same exact-pair CTEs at the looser 0.3 floor
    * (the shared CTE builder parameterized by threshold), then
    * per-threshold pair/doc counts with zero-yield thresholds kept via
    * LEFT JOIN (Spark's empty aggregates emit 0 rows too). */
  private val dedupYieldSql: String =
    s"WITH ${jaccardCtes(0.3)}, " +
    "th AS (SELECT p FROM (VALUES (300000), (500000), (700000), " +
    "  (900000)) AS v(p)), " +
    "base AS (SELECT th.p AS tp, jj.id_a, jj.id_b FROM jj CROSS JOIN th " +
    "  WHERE jj.jaccard >= th.p / 1000000.0), " +
    "np AS (SELECT tp, CAST(count(*) AS BIGINT) AS n_pairs FROM base " +
    "  GROUP BY 1), " +
    "nd AS (SELECT tp, CAST(count(DISTINCT id) AS BIGINT) AS n_docs " +
    "  FROM (SELECT tp, unnest([id_a, id_b]) AS id FROM base) " +
    "  GROUP BY 1) " +
    "SELECT CAST(th.p AS BIGINT) AS threshold_ppm, " +
    "CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs, " +
    "CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs " +
    "FROM th LEFT JOIN np ON np.tp = th.p LEFT JOIN nd ON nd.tp = th.p"

  /** Shared dims CTE for the deterministic test WAV (AudioCodec
    * .testWav): channels/bit-depth/frame-count as pure functions of
    * doc_id, mirrored by both audio oracle rows. INT casts pin the
    * pandas dtypes to the Spark struct's int32 fields. */
  private val audioDimsSql: String =
    "dims AS (SELECT doc_id, " +
    "  CAST(1 + doc_id % 2 AS INT) AS channels, " +
    "  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INT) AS bits, " +
    "  CAST(1 + doc_id % 9 AS INT) AS n_frames FROM documents)"

  // Geometry/colorspace/frame-count of VideoCodec.testY4m, plus the
  // derived plane sizes (csize is the subsampled 4:2:0 plane when the
  // id lands on C420)
  private val videoDimsSql: String =
    "dims AS (SELECT doc_id, " +
    "  CAST(4 + 2 * (doc_id % 3) AS INT) AS w, " +
    "  CAST(2 + 2 * (doc_id % 2) AS INT) AS h, " +
    "  doc_id % 4 < 2 AS cs444, " +
    "  CAST(1 + doc_id % 5 AS INT) AS nf FROM documents), " +
    "pl AS (SELECT doc_id, w, h, cs444, nf, w*h AS ysize, " +
    "  CASE WHEN cs444 THEN w*h ELSE (w//2)*(h//2) END AS csize FROM dims)"

  /** SplitMix64 finalizer applied to a HUGEINT SQL expression, in
    * mod-2^64 arithmetic (64x64 multiplies split at 32 bits so the
    * product stays inside the signed 128-bit HUGEINT). ONE copy,
    * shared by the rolling-fingerprint and simhash oracle replicas —
    * apply it to a short CTE COLUMN reference, not a big expression:
    * the chain substitutes its input several times. */
  private def splitMix64Sql(input: String): String = {
    val M = "18446744073709551616::HUGEINT" // 2^64
    def mulmod(x: String, c: String) =
      s"(((($x) % 4294967296) * $c + (((($x) // 4294967296) * $c) % 4294967296) * 4294967296) % $M)"
    def xorshift(x: String, s: Long) = s"xor($x, ($x) // ${1L << s})"
    val x1 = xorshift(input, 30)
    val x2 = mulmod(s"($x1)", java.lang.Long.toUnsignedString(0xbf58476d1ce4e5b9L))
    val x3 = xorshift(s"($x2)", 27)
    val x4 = mulmod(s"($x3)", java.lang.Long.toUnsignedString(0x94d049bb133111ebL))
    xorshift(s"($x4)", 31)
  }

  /** Exact SQL replica of `simhashVerifiedPairs` SEMANTICS: pairs with
    * (simhash hamming <= maxHamming) AND (exact n-gram jaccard >=
    * threshold). The pigeonhole banding finds exactly the hamming-
    * bounded pairs, so the band plan never appears here — only the
    * hamming predicate does. The simhash itself is recomputed in
    * DuckDB: FNV-1a token hashes xor seed through the SplitMix64
    * HUGEINT replica (the rollingFpSql machinery), per-bit +-1 vote
    * sums, bit table joined per true pair. This makes the oracle exact
    * on ANY corpus — the previous exact-jaccard oracle was only valid
    * where hamming(true pair) <= maxHamming held corpus-wide, which
    * the sf0.001/sf0.1 soak disproved (true-pair hamming reaches 13).
    */
  /** Per-doc 64-bit SimHash bit table (tok/wh0/wh/pw/bits CTEs) —
    * FNV-1a over the token's chars (ASCII corpus: bytes == codepoints),
    * staged through CTE COLUMNS (fh -> h) so the SplitMix64 chain
    * expands over a 2-char column name, not the whole fold expression.
    * Shared by the simhash dedup row and the simhash recall eval. */
  private lazy val simhashBitsCtesSql: String = {
    val fnv = "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      "list_transform(string_split(w, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      "(h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616::HUGEINT)"
    "tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(" +
    "  lower(text), '\\s+'), t -> t != '')) AS w FROM documents), " +
    s"wh0 AS (SELECT doc_id, xor(($fnv), ${FakeGen.DefaultSeed}) AS fh FROM tok), " +
    s"wh AS (SELECT doc_id, (${splitMix64Sql("fh")}) AS h FROM wh0), " +
    "pw AS (SELECT CAST(b AS INT) AS b, list_reduce(list_prepend(1::HUGEINT, " +
    "  list_transform(range(b), x -> 2::HUGEINT)), (a, c) -> a * c) AS p " +
    "  FROM (SELECT unnest(range(64)) AS b)), " +
    "bits AS (SELECT doc_id, b, CASE WHEN sum(CASE WHEN (h // p) % 2 = 1 " +
    "  THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit " +
    "  FROM wh, pw GROUP BY doc_id, b)"
  }

  /** The ER tier's shared pair frame (c + p CTEs): name-prefix
    * blocking, three comparators, fixed ppm weights, id_a < id_b
    * triangle — every q_linkage_* oracle composes on top of it. */
  private lazy val linkagePairCtes: String =
    "c AS (SELECT c_custkey AS id, " +
    "  substr(c_name, 1, length(c_name) - 2) AS blk, " +
    "  c_nationkey AS nat, c_mktsegment AS seg, " +
    "  CAST(floor(c_acctbal * 100) AS BIGINT) AS bal " +
    "  FROM customer), " +
    "p AS (SELECT a.id AS id_a, b.id AS id_b, " +
    "  concat(CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
    "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END, " +
    "    CASE WHEN abs(a.bal - b.bal) <= 10000 THEN 'A' ELSE 'D' END) " +
    "    AS pattern, " +
    "  CAST(CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
    "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END + " +
    "    CASE WHEN abs(a.bal - b.bal) <= 10000 THEN 350000 " +
    "      ELSE -150000 END " +
    "    AS BIGINT) AS score_ppm " +
    "  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id)"

  /** Fellegi–Sunter scorer replica (shared by q_linkage_score and its
    * pure-SQL twin). */
  private lazy val linkageScoreOracle: String =
    s"WITH $linkagePairCtes " +
    "SELECT id_a, id_b, pattern, score_ppm FROM p " +
    "WHERE score_ppm >= 550000"

  /** Min-label connected components over the decided links (the
    * resolveEntities replay): transitive closure via a recursive CTE —
    * link sets are dup-rate-sized, so the closure frame stays tiny. */
  private lazy val linkageEntityCtes: String =
    "lk AS (SELECT id_a, id_b FROM p WHERE score_ppm >= 550000), " +
    "e AS (SELECT id_a AS a, id_b AS b FROM lk " +
    "  UNION ALL SELECT id_b, id_a FROM lk), " +
    "nn AS (SELECT DISTINCT a AS id FROM e), " +
    "reach(id, lab) AS (SELECT id, id FROM nn " +
    "  UNION SELECT e.b, r.lab FROM reach r JOIN e ON e.a = r.id), " +
    "ent AS (SELECT id, CAST(min(lab) AS BIGINT) AS entity_id " +
    "  FROM reach GROUP BY id)"

  /** resolveEntities replay — shared by q_linkage_entities and (by the
    * quotient-graph parity argument in Linkage.linkIncremental's
    * scaladoc) q_linkage_incremental. */
  private lazy val linkageEntitiesOracle: String =
    s"WITH RECURSIVE $linkagePairCtes, $linkageEntityCtes " +
    "SELECT entity_id, CAST(id AS BIGINT) AS id FROM ent"

  /** Exact-ppm Herfindahl replica with the operator's self-switching
    * overflow-safe division — shared by q_hhi and its pure-SQL twin. */
  private lazy val hhiOracle: String =
    "WITH c AS (SELECT c_nationkey, c_mktsegment, " +
    "  CAST(count(*) AS BIGINT) AS nn FROM customer GROUP BY 1, 2), " +
    "g AS (SELECT c_nationkey, CAST(sum(nn) AS BIGINT) AS n, " +
    "  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS k_categories, " +
    "  CAST(sum(nn * nn) AS BIGINT) AS ss FROM c GROUP BY 1) " +
    "SELECT c_nationkey, n, k_categories, " +
    "CASE WHEN n <= 3000000 THEN ss * 1000000 // (n * n) " +
    "ELSE (ss // (n * n)) * 1000000 + " +
    "  (ss % (n * n)) // greatest((n * n) // 1000000, 1) END AS hhi_ppm " +
    "FROM g"

  /** Fellegi–Sunter EM replay (q_linkage_em): the Spark side runs 20
    * EM iterations over the ≤2^3-row agreement-pattern frame in ppm
    * integer arithmetic (Linkage.emEstimate); this oracle UNROLLS the
    * same 20 iterations as generated CTE pairs (w_k = per-pattern
    * posterior under state s_k; s_{k+1} = the M-step aggregates) with
    * identical fold order and truncating division, so the final
    * posteriors match bit-for-bit. Same pair generator as
    * q_linkage_score plus the deterministic 10% duplicate injection
    * that gives EM a real match class to find. */
  private lazy val linkageEmOracle: String = {
    val iters = 20
    // posterior under the state columns (p, m1..3, u1..3) visible via
    // CROSS JOIN — the exact ppm fold of Linkage.posteriorPpm
    val pm = (1 to 3).foldLeft("1000000")((acc, i) =>
      s"(($acc * (CASE WHEN substr(pattern,$i,1)='A' THEN m$i ELSE 1000000 - m$i END)) // 1000000)")
    val pu = (1 to 3).foldLeft("1000000")((acc, i) =>
      s"(($acc * (CASE WHEN substr(pattern,$i,1)='A' THEN u$i ELSE 1000000 - u$i END)) // 1000000)")
    val wExpr =
      s"(((p * $pm) // 1000000) * 1000000) // " +
      s"greatest(((p * $pm) // 1000000) + ((((1000000 - p)) * $pu) // 1000000), 1)"
    val bigW = "CAST(sum(n*w) AS BIGINT)"
    val bigN = "CAST(sum(n) AS BIGINT)"
    def clamp(x: String) = s"least(greatest($x, 1), 999999)"
    def mStep(i: Int) = clamp(
      s"(CAST(sum(CASE WHEN substr(pattern,$i,1)='A' THEN n*w ELSE 0 END) AS BIGINT) * 1000) " +
      s"// greatest($bigW // 1000, 1)") + s" AS m$i"
    def uStep(i: Int) = clamp(
      s"(CAST(sum(CASE WHEN substr(pattern,$i,1)='A' THEN n*(1000000-w) ELSE 0 END) AS BIGINT) * 1000) " +
      s"// greatest(($bigN * 1000000 - $bigW) // 1000, 1)") + s" AS u$i"
    val stateCols = (clamp(s"$bigW // $bigN") + " AS p") +: (
      (1 to 3).map(mStep) ++ (1 to 3).map(uStep))
    // AS MATERIALIZED: each state column (p, m1..3, u1..3) appears
    // many times inside wExpr, so CTE INLINING duplicates the whole
    // upstream subtree per reference — 20 chained iterations then
    // explode exponentially (the kTrussOracle lesson: 400 s -> 0.2 s).
    // Materializing pins each iteration to one tiny evaluated frame.
    val iterCtes = (0 until iters).map { k =>
      s"w$k AS MATERIALIZED (SELECT pattern, n, CAST($wExpr AS BIGINT) AS w FROM pr CROSS JOIN s$k), " +
      s"s${k + 1} AS MATERIALIZED (SELECT ${stateCols.mkString(", ")} FROM w$k)"
    }.mkString(", ")
    "WITH base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
    "  c_mktsegment FROM customer UNION ALL " +
    "  SELECT c_custkey + 1000000000, c_name, c_nationkey, c_acctbal, " +
    "  c_mktsegment FROM customer WHERE c_custkey % 10 = 0), " +
    "c AS (SELECT c_custkey AS id, " +
    "  substr(c_name, 1, length(c_name) - 2) AS blk, " +
    "  c_nationkey AS nat, c_mktsegment AS seg, " +
    "  CAST(floor(c_acctbal * 100) AS BIGINT) AS bal FROM base), " +
    "pr AS MATERIALIZED (SELECT concat(" +
    "  CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
    "  CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END, " +
    "  CASE WHEN abs(a.bal - b.bal) <= 10000 THEN 'A' ELSE 'D' END) AS pattern, " +
    "  CAST(count(*) AS BIGINT) AS n " +
    "  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id GROUP BY 1), " +
    "s0 AS (SELECT CAST(100000 AS BIGINT) AS p, " +
    "  CAST(900000 AS BIGINT) AS m1, CAST(900000 AS BIGINT) AS m2, " +
    "  CAST(900000 AS BIGINT) AS m3, CAST(100000 AS BIGINT) AS u1, " +
    "  CAST(100000 AS BIGINT) AS u2, CAST(100000 AS BIGINT) AS u3), " +
    s"$iterCtes, " +
    s"fin AS (SELECT pattern, n, CAST($wExpr AS BIGINT) AS w " +
    s"  FROM pr CROSS JOIN s$iters) " +
    "SELECT pattern, n AS n_pairs, w AS posterior_ppm, " +
    "w >= 500000 AS is_link FROM fin"
  }

  /** SimHash flag-rate eval: the shared-shingle pair frame bucketed by
    * exact-jaccard decile with the hd ≤ 6 share, replaying the same
    * bit table as the dedup row. */
  private lazy val simhashFlagRateSql: String =
    s"WITH $simhashBitsCtesSql, " +
    "jtok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
    "lower(text), '\\s+'), t -> t != '') AS ts FROM documents), " +
    "shx AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
    "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
    "  FROM jtok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
    "  WHERE len(ts) > 0), " +
    "szx AS (SELECT doc_id, count(*) AS sz FROM shx GROUP BY doc_id), " +
    "jpx AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
    "  FROM shx a JOIN shx b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
    "  GROUP BY 1, 2), " +
    "jq AS (SELECT id_a, id_b, " +
    "  common * 1000000 // (x.sz + y.sz - common) AS jacc_ppm " +
    "  FROM jpx JOIN szx x ON x.doc_id = id_a JOIN szx y ON y.doc_id = id_b), " +
    "ham AS (SELECT jq.id_a, jq.id_b, jq.jacc_ppm, " +
    "  sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) AS hd " +
    "  FROM jq JOIN bits ba ON ba.doc_id = jq.id_a " +
    "  JOIN bits bb ON bb.doc_id = jq.id_b AND bb.b = ba.b GROUP BY 1, 2, 3) " +
    "SELECT jacc_ppm // 100000 AS jacc_decile, " +
    "CAST(count(*) AS BIGINT) AS n_pairs, " +
    "CAST(count(CASE WHEN hd <= 6 THEN 1 END) AS BIGINT) AS n_flagged, " +
    "count(CASE WHEN hd <= 6 THEN 1 END) * 1000000 // count(*) AS flag_ppm " +
    "FROM ham GROUP BY 1"

  private lazy val simhashPrunedJaccardSql: String =
    s"WITH $simhashBitsCtesSql, " +
    s"$jaccardCtesSql, " +
    "ham AS (SELECT jj.id_a, jj.id_b, " +
    "  sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) AS hd " +
    "  FROM jj JOIN bits ba ON ba.doc_id = jj.id_a " +
    "  JOIN bits bb ON bb.doc_id = jj.id_b AND bb.b = ba.b GROUP BY 1, 2) " +
    "SELECT jj.id_a, jj.id_b, jj.jaccard FROM jj " +
    "JOIN ham ON ham.id_a = jj.id_a AND ham.id_b = jj.id_b WHERE ham.hd <= 6"

  /** Brute-force exact top-1 cosine over the planted [[annQueries]] —
    * the oracle for both ANN tiers in the near-copy retrieval regime. */
  private val incrementalDedupSql: String =
    "WITH fp AS (SELECT doc_id, " +
    "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp " +
    "FROM documents), " +
    "new_first AS (SELECT doc_id FROM fp WHERE doc_id >= 400 " +
    "QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1), " +
    // NOT EXISTS, not NOT IN: one NULL fingerprint in the index would
    // make NOT IN return NULL for EVERY row (0 survivors) while the
    // Spark left_anti keeps null-keyed rows — the null-aware form
    // matches the operator on any future corpus
    "clean AS (SELECT n.doc_id FROM new_first n JOIN fp f USING (doc_id) " +
    "WHERE NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id < 400 " +
    "AND e.fp = f.fp)) " +
    "SELECT d.* FROM documents d JOIN clean USING (doc_id)"

  /** The q_bm25_score topic query — three high-frequency corpus terms
    * plus one guaranteed absent (df=0 contributes 0 everywhere). */
  private[graft] val bm25Terms = Seq("scan", "join", "window", "zzzunseen")

  /** GENERATED BM25 oracle: same terms, same k1/b constants as the
    * operator defaults, float expression trees parenthesized exactly
    * as Corpus.bm25 builds them (multiply-then-divide ratio, left-assoc
    * products) so both engines round identically at every step; the
    * per-term floor-to-micros + integer sum makes the final compare
    * exact. */
  private val bm25Sql: String = {
    val tfs = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf$i" }.mkString(", ")
    val dfs = bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val ratio = "(CAST(dl AS DOUBLE) * CAST(n AS DOUBLE) / CAST(t AS DOUBLE))"
    val termSum = bm25Terms.indices.map { i =>
      val idf = s"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)" +
        s" / (CAST(df$i AS DOUBLE) + 0.5))"
      val tfn = s"(CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + " +
        s"1.2 * (1.0 - 0.75 + 0.75 * $ratio))"
      s"CASE WHEN tf$i > 0 THEN CAST(floor($idf * $tfn * 1000000.0) " +
        "AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    "WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
    "lower(trim(text)), '\\s+'), x -> x != '') AS toks FROM documents), " +
    s"d AS (SELECT doc_id, len(toks) AS dl, $tfs FROM tk), " +
    s"g AS (SELECT count(*) AS n, sum(dl) AS t, $dfs FROM d) " +
    s"SELECT doc_id, $termSum AS bm25_micros, dl AS n_tokens FROM d, g"
  }

  /** The q_chunk_content oracle: replay TextKernels.contentCuts with
    * exact BIGINT arithmetic — the same Rabin polynomial
    * sum(cp_j * 257^(15-j)) mod (2^31-1) recomputed per position (the
    * oracle pays O(n*k); the engine's rolling pass is the point), then
    * segments between consecutive cuts via lag(). Terms and weights
    * are GENERATED here so kernel and oracle share one constant set. */
  private val contentChunkSql: String = {
    val k = 16
    val p = 2147483647L
    val poly = (0 until k).map { j =>
      // weight of the char ending at offset j from the window start
      val pow = (0 until (k - 1 - j)).foldLeft(1L)((a, _) => a * 257L % p)
      s"CAST(ord(substring(text, CAST(i AS INT) - ${k - 1 - j}, 1)) AS BIGINT) * $pow"
    }.mkString(" + ")
    "WITH cp AS (SELECT doc_id, text, length(text) AS n FROM documents), " +
    "b AS (SELECT doc_id, text, CAST(i AS BIGINT) AS cut " +
    s"  FROM cp, LATERAL (SELECT unnest(range($k, n)) AS i) " +
    s"  WHERE (($poly) % $p) % 64 = 0 " +
    "UNION ALL SELECT doc_id, text, n FROM cp WHERE n >= 1), " +
    "s AS (SELECT doc_id, text, cut, " +
    "  lag(cut, 1, 0) OVER (PARTITION BY doc_id ORDER BY cut) AS prev, " +
    "  row_number() OVER (PARTITION BY doc_id ORDER BY cut) - 1 AS ci FROM b) " +
    "SELECT doc_id, CAST(ci AS INT) AS chunk_idx, " +
    "substring(text, CAST(prev + 1 AS INT), CAST(cut - prev AS INT)) AS chunk, " +
    "CAST(cut - prev AS INT) AS n_chunk_chars FROM s"
  }

  /** Shared CTEs for the substring-dedup oracles: filtered tokens,
    * positioned word 5-grams (0-based start), grams occurring in >= 2
    * distinct docs, and the token positions their spans cover. Mirrors
    * Dedup.gramStream/duplicatedGrams exactly (same tokenization
    * convention as the chunk oracle above). */
  private val substrDupCtes: String =
    "WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
    "lower(trim(text)), '\\s+'), x -> x != '') AS toks FROM documents), " +
    "g AS (SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+5], ' ') AS gram " +
    "  FROM tk, LATERAL (SELECT unnest(range(greatest(len(toks) - 4, 0))) AS i)), " +
    "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), " +
    "h AS (SELECT g.* FROM g JOIN dup USING (gram)), " +
    "cov AS (SELECT DISTINCT doc_id, p FROM h, " +
    "  LATERAL (SELECT unnest(generate_series(pos, pos + 4)) AS p))"

  /** The exact-cosine score expression shared by every ANN/eval oracle
    * (query side aliased `qv`, corpus side aliased `c`). */
  private val annCosSql: String =
    "list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"

  private val annTop1Sql: String = {
    val cos = annCosSql
    "WITH q AS (SELECT vec_id + 200000 AS query_id, " +
    "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
    "  FROM embeddings WHERE vec_id < 5) " +
    s"SELECT query_id, c.vec_id AS corpus_id, $cos AS cos, " +
    "CAST(row_number() OVER (PARTITION BY query_id " +
    s"ORDER BY $cos DESC, c.vec_id ASC) AS INT) AS rank " +
    "FROM q JOIN embeddings c ON query_id != c.vec_id " +
    "QUALIFY rank <= 1"
  }

  /** Full-fidelity replica of the IVF-PQ refine pipeline on the FIXED
    * sign-grid quantizers (Ivf.signCentroids(64) / Pq.signCodebook(64,
    * 16, 0.5f)) — the one ANN row where the oracle verifies the whole
    * probe → ADC → exact-re-rank composition rather than a planted
    * top-1, possible because assignment (sign pattern of dims 1-2),
    * probing (order of ±x1±x2), encoding (per-dim sign, ties at 0.0 to
    * −h) and the ADC distance are all closed-form. The ADC sum nests
    * parentheses exactly like the kernel's left-fold (per-subspace
    * 4-term fold, then the 16-subspace fold), so the doubles — and
    * therefore the rerank-window cut — replay bit-for-bit. */
  private val annIvfPqRefineSql: String = {
    def qd(i: Int) = s"CAST(qv[$i] AS DOUBLE)"
    def xd(i: Int) = s"CAST(c.embedding[$i] AS DOUBLE)"
    // codeword sign for dim i: +0.5 when the corpus value is > 0
    // (negative zero and exact 0.0 fall to -0.5, nearestL2's tie rule)
    def cw(i: Int) = s"(CASE WHEN ${xd(i)} > 0 THEN 0.5 ELSE -0.5 END)"
    def sq(i: Int) = { val t = s"(${qd(i)} - ${cw(i)})"; s"($t * $t)" }
    def subSum(s: Int) =
      (1 to 4).map(j => sq(s * 4 + j)).reduce((a, b) => s"($a + $b)")
    val adc = (0 until 16).map(subSum).reduce((a, b) => s"($a + $b)")
    // centroid dots: bit 0 of the cluster id -> dim 1 sign, bit 1 ->
    // dim 2 sign (+1 when set); fl(±x1 ±x2) matches the kernel's fold
    def dot(v1: String, v2: String, cl: Int) = {
      val a = if ((cl & 1) == 1) v1 else s"(- $v1)"
      val b = if ((cl & 2) == 2) v2 else s"(- $v2)"
      s"($a + $b)"
    }
    def dots(v1: String, v2: String) = (0 until 4).map(dot(v1, v2, _))
    val cd = dots(xd(1), xd(2))
    val cluster =
      s"CASE WHEN ${cd(0)} >= ${cd(1)} AND ${cd(0)} >= ${cd(2)} AND " +
      s"${cd(0)} >= ${cd(3)} THEN 0 WHEN ${cd(1)} >= ${cd(2)} AND " +
      s"${cd(1)} >= ${cd(3)} THEN 1 WHEN ${cd(2)} >= ${cd(3)} THEN 2 " +
      "ELSE 3 END"
    val qDot = "CASE u.cl " + (0 until 4).map(i =>
      s"WHEN $i THEN ${dot("CAST(qv[1] AS DOUBLE)", "CAST(qv[2] AS DOUBLE)", i)}")
      .mkString(" ") + " END"
    "WITH q AS (SELECT vec_id + 200000 AS query_id, " +
    "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
    "  FROM embeddings WHERE vec_id < 5), " +
    s"cq AS (SELECT vec_id, embedding, $cluster AS cluster " +
    "  FROM embeddings c), " +
    "qp AS (SELECT query_id, cl FROM (SELECT query_id, cl, " +
    "    row_number() OVER (PARTITION BY query_id " +
    "    ORDER BY dot DESC, cl ASC) AS pr " +
    s"  FROM (SELECT query_id, u.cl, $qDot AS dot " +
    "    FROM q, (SELECT unnest(range(0, 4)) AS cl) u) qq) p WHERE pr <= 2), " +
    "cand AS (SELECT qp.query_id, q.qv, c.vec_id AS corpus_id, " +
    s"  c.embedding, $adc AS adc " +
    "  FROM qp JOIN q USING (query_id) JOIN cq c ON c.cluster = qp.cl " +
    "  WHERE qp.query_id != c.vec_id), " +
    "win AS (SELECT query_id, qv, corpus_id, embedding, " +
    "  row_number() OVER (PARTITION BY query_id " +
    "  ORDER BY adc ASC, corpus_id ASC) AS arank FROM cand) " +
    s"SELECT query_id, corpus_id, $annCosSql AS cos, " +
    "CAST(row_number() OVER (PARTITION BY query_id " +
    s"ORDER BY $annCosSql DESC, corpus_id ASC) AS INT) AS rank " +
    "FROM win c WHERE arank <= 64 QUALIFY rank <= 10"
  }

  /** ε-DP release replica: the md5-ppm uniform (the sketch oracles'
    * portable hash) through the SAME integer geometric cutpoints the
    * Spark expression bakes (Privacy.geometricCutpoints — one source
    * of truth; the float exp never runs in either engine's query). */
  private val dpCase: String =
    graft.operators.Privacy.geometricCutpoints(1.0, 8).init
      .map { case (c, k) => s"WHEN u < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")

  private val dpBaseSql: String =
    "WITH g AS (SELECT event_type, count(*) AS n_exact FROM events " +
    "  GROUP BY 1), " +
    // group-key encoding mirrors Privacy.encodedKey: escape '\' then
    // '|', NULL -> '\N' (identity on the fixture's simple values)
    "u AS (SELECT event_type, n_exact, CAST(concat('0x', " +
    "  substr(md5(concat(coalesce(replace(replace(event_type, '\\', " +
    "  '\\\\'), '|', '\\|'), '\\N'), ':', 'dp42')), 1, 13)) AS BIGINT) " +
    "  % 1000000 AS u FROM g), " +
    s"n AS (SELECT event_type, n_exact, CAST($dpCase AS BIGINT) AS noise " +
    "  FROM u), " +
    "r AS (SELECT event_type, n_exact, noise, " +
    "  greatest(CAST(0 AS BIGINT), n_exact + noise) AS n_noisy FROM n) "

  private val dpNoisySql: String =
    dpBaseSql + "SELECT event_type, n_noisy FROM r"

  private val dpAuditSql: String =
    dpBaseSql + "SELECT event_type, n_exact, noise, n_noisy, " +
    "abs(noise) <= 8 AS noise_ok, " +
    "abs(n_noisy - n_exact) * 1000000 // n_exact AS err_ppm FROM r"

  /** Recall@10 curve of the quantized serving path at int scales
    * 1/3/7 vs the exact cosine ranking — the q_recall_at_k replica
    * with the quantization blocks parameterized by scale. */
  private val recallCurveSql: String = {
    def quantBlock(s: Int): String =
      s"q8_$s AS (SELECT query_id, list_transform(qv, x -> greatest(-$s, " +
      s"  least($s, CAST(floor(CAST(x AS DOUBLE)*$s + 0.5) AS BIGINT)))) " +
      "  AS qa FROM q), " +
      s"c8_$s AS (SELECT vec_id, list_transform(embedding, x -> " +
      s"  greatest(-$s, least($s, CAST(floor(CAST(x AS DOUBLE)*$s + 0.5) " +
      "  AS BIGINT)))) AS ca FROM embeddings), " +
      s"ax_$s AS (SELECT query_id, vec_id AS corpus_id, " +
      "  CAST(list_sum(list_transform(range(1, len(qa) + 1), " +
      s"    i -> qa[i] * ca[i])) AS BIGINT) AS dot FROM q8_$s " +
      s"  JOIN c8_$s ON query_id != vec_id), " +
      s"ar_$s AS (SELECT query_id, corpus_id, row_number() OVER " +
      "  (PARTITION BY query_id ORDER BY dot DESC, corpus_id ASC) AS rank " +
      s"  FROM ax_$s QUALIFY rank <= 10), " +
      s"h_$s AS (SELECT e.query_id, count(*) AS n_hits FROM ex e " +
      s"  JOIN ar_$s a USING (query_id, corpus_id) GROUP BY 1), " +
      s"r_$s AS (SELECT CAST($s AS INTEGER) AS q_scale, d.query_id, " +
      "  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, d.n_exact, " +
      "  coalesce(h.n_hits, 0) * 1000000 // d.n_exact AS recall_ppm " +
      s"  FROM den d LEFT JOIN h_$s h USING (query_id))"
    "WITH q AS (SELECT vec_id + 200000 AS query_id, " +
    "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
    "  FROM embeddings WHERE vec_id < 5), " +
    "ex AS (SELECT query_id, c.vec_id AS corpus_id, " +
    s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
    "    c.vec_id ASC) AS rank FROM q JOIN embeddings c " +
    "  ON query_id != c.vec_id QUALIFY rank <= 10), " +
    "den AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact " +
    "  FROM ex GROUP BY 1), " +
    Seq(1, 3, 7).map(quantBlock).mkString(", ") + " " +
    "SELECT * FROM r_1 UNION ALL SELECT * FROM r_3 UNION ALL " +
    "SELECT * FROM r_7"
  }

  /** Cohen's kappa over [[langIdSql]]'s (labeled, predicted) pairs —
    * same derived-confusion base as the confusion-matrix oracle, then
    * the exact-integer ppm kappa identity. LAZY: declared before
    * langIdSql in file order, so a strict val would interpolate null
    * (the q_triangle_count init-order trap). */
  private lazy val cohensKappaSql: String =
    s"WITH base AS (SELECT labeled, predicted FROM ($langIdSql) t), " +
    "cm AS (SELECT labeled, predicted, count(*) AS n FROM base " +
    "  GROUP BY 1, 2), " +
    "tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, " +
    "  CAST(sum(CASE WHEN labeled = predicted THEN n ELSE 0 END) " +
    "  AS BIGINT) AS diag FROM cm), " +
    "rt AS (SELECT labeled AS cls, CAST(sum(n) AS BIGINT) AS rt " +
    "  FROM cm GROUP BY 1), " +
    "ct AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS ct " +
    "  FROM cm GROUP BY 1), " +
    "pe AS (SELECT CAST(coalesce(sum(rt * ct), 0) AS BIGINT) AS pe_num " +
    "  FROM rt JOIN ct USING (cls)) " +
    "SELECT n_total, diag, diag * 1000000 // n_total AS po_ppm, " +
    "pe_num * 1000000 // (n_total * n_total) AS pe_ppm, " +
    "CASE WHEN n_total * n_total = pe_num THEN 0 " +
    "ELSE (diag * n_total - pe_num) * 1000000 // " +
    "  (n_total * n_total - pe_num) END AS kappa_ppm " +
    "FROM tot CROSS JOIN pe"

  private val topPathsSql: String =
    "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type " +
    "  FROM events), " +
    "t3 AS (SELECT event_type AS p1, lead(event_type, 1) OVER w AS p2, " +
    "  lead(event_type, 2) OVER w AS p3 FROM e " +
    "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
    "c AS (SELECT p1, p2, p3, count(*) AS cnt FROM t3 " +
    "  WHERE p3 IS NOT NULL GROUP BY 1, 2, 3), " +
    "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_paths FROM c) " +
    "SELECT p1, p2, p3, cnt, cnt * 1000000 // n_paths AS share_ppm " +
    "FROM c CROSS JOIN tot ORDER BY cnt DESC, p1, p2, p3 LIMIT 20"

  private val bootstrapSql: String =
    "WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c, " +
    "  CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR), " +
    "  ':', 'bs')), 1, 13)) AS BIGINT) AS u FROM events), " +
    "x AS (SELECT b, c FROM e, LATERAL (SELECT unnest(range(0, 32)) AS b) " +
    "  WHERE (u >> b) & 1 = 1), " +
    "g AS (SELECT CAST(b AS INTEGER) AS resample, " +
    "  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sum_cents " +
    "  FROM x GROUP BY 1) " +
    "SELECT resample, n, sum_cents, sum_cents * 1000000 // n " +
    "  AS mean_cents_ppm FROM g"

  private val paretoSql: String =
    "WITH rev AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice " +
    "  * 100) AS BIGINT)) AS BIGINT) AS r FROM orders GROUP BY 1), " +
    "cum AS (SELECT r, CAST(sum(r) OVER (ORDER BY r DESC, o_custkey " +
    "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cr FROM rev), " +
    "tot AS (SELECT CAST(sum(r) AS BIGINT) AS t, " +
    "  CAST(count(*) AS BIGINT) AS nk FROM rev), " +
    "th AS (SELECT CAST(p AS BIGINT) AS threshold_ppm FROM " +
    "  (VALUES (500000), (800000), (900000)) AS v(p)) " +
    "SELECT th.threshold_ppm, " +
    "CAST(coalesce(sum(CASE WHEN cum.cr < (tot.t * th.threshold_ppm " +
    "  + 999999) // 1000000 THEN 1 END), 0) + 1 AS BIGINT) AS n_keys, " +
    "max(tot.nk) AS n_total_keys " +
    "FROM th CROSS JOIN tot CROSS JOIN cum GROUP BY 1"

  private val langPuritySql: String =
    "WITH c AS (SELECT source, lang, count(*) AS n FROM documents " +
    "  GROUP BY 1, 2), " +
    "w AS (SELECT source, lang, n, " +
    "  CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_docs, " +
    "  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs, " +
    "  row_number() OVER (PARTITION BY source ORDER BY n DESC, lang ASC) " +
    "  AS rn FROM c) " +
    "SELECT source, n_docs, n_langs, lang AS top_lang, " +
    "n * 1000000 // n_docs AS top_share_ppm FROM w WHERE rn = 1"

  private val mannWhitneySql: String =
    "WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v, " +
    "  CASE WHEN epoch_us(ts) // 86400000000 < 19738 THEN 0 ELSE 1 END " +
    "  AS h FROM events), " +
    "g AS (SELECT v, CAST(count(*) AS BIGINT) AS c, " +
    "  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca " +
    "  FROM e GROUP BY 1), " +
    "cum AS (SELECT v, c, ca, CAST(sum(c) OVER (ORDER BY v " +
    "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc FROM g), " +
    "tot AS (SELECT CAST(sum(c - ca) AS BIGINT) AS n0, " +
    "  CAST(sum(ca) AS BIGINT) AS na FROM g) " +
    "SELECT n0, na AS n1, " +
    "CAST(sum(ca * (2 * (cc - c) + c + 1)) AS BIGINT) - na * (na + 1) " +
    "  AS u2_a, 2 * n0 * na AS u2_max " +
    "FROM cum CROSS JOIN tot GROUP BY n0, na"

  /** KS replay: per-distinct-value cohort counts, window prefix sums,
    * the same guarded ppm CDF divisions and max — raw counts reported. */
  private val ksTestSql: String =
    "WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v, " +
    "  CASE WHEN epoch_us(ts) // 86400000000 < 19738 THEN 0 ELSE 1 END " +
    "  AS h FROM events), " +
    // non-1 is cohort 0, mirroring ksStatistic's mannWhitneyU
    // convention — no row is dropped on non-binary input
    "g AS (SELECT v, " +
    "  CAST(sum(CASE WHEN h = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c0, " +
    "  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1 " +
    "  FROM e GROUP BY 1), " +
    "cum AS (SELECT v, " +
    "  CAST(sum(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k0, " +
    "  CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k1 " +
    "  FROM g), " +
    "tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, " +
    "  CAST(sum(c1) AS BIGINT) AS n1 FROM g) " +
    "SELECT n0, n1, " +
    "CAST(max(abs(k0 * 1000000 // greatest(n0, 1) - " +
    "  k1 * 1000000 // greatest(n1, 1))) AS BIGINT) AS d_ppm " +
    "FROM cum CROSS JOIN tot GROUP BY n0, n1"

  /** Kruskal–Wallis replay: the same value-grouped doubled-midrank
    * frame as mannWhitneySql (floor cents — the new-query convention),
    * per-group rank sums, then the H finish in HUGEINT with truncating
    * division at exactly the points the Spark driver's BigInt
    * truncates. */
  private val kruskalWallisSql: String =
    "WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v, " +
    "  event_type AS g FROM events), " +
    "bv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1), " +
    "cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v " +
    "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc FROM bv), " +
    "r2 AS (SELECT v, 2 * (cc - c) + c + 1 AS r2v FROM cum), " +
    "gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cg " +
    "  FROM e GROUP BY 1, 2), " +
    "grp AS (SELECT g, CAST(sum(cg) AS BIGINT) AS ni, " +
    "  CAST(sum(cg * r2v) AS BIGINT) AS r2i " +
    "  FROM gv JOIN r2 USING (v) GROUP BY 1), " +
    "tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n, " +
    "  CAST(count(*) AS BIGINT) AS k FROM grp), " +
    "ties AS (SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS ts FROM bv), " +
    "s AS (SELECT sum((CAST(r2i AS HUGEINT) * r2i * 1000000) // ni) " +
    "  AS s FROM grp), " +
    "f AS (SELECT n, k, " +
    "  (3 * s.s) // (CAST(n AS HUGEINT) * (n + 1)) " +
    "    - 3 * (CAST(n AS HUGEINT) + 1) * 1000000 AS hraw, " +
    "  1000000 - (ties.ts * 1000000) // " +
    "    (CAST(n AS HUGEINT) * n * n - n) AS cppm " +
    "  FROM tot, s, ties) " +
    "SELECT n, k AS k_groups, k - 1 AS dof, " +
    "CAST(CASE WHEN n < 2 OR k < 2 OR cppm <= 0 THEN 0 " +
    "  ELSE (greatest(hraw, 0) * 1000000) // cppm END AS BIGINT) " +
    "  AS h_ppm FROM f"

  private val conformalSql: String =
    "WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v " +
    "  FROM events), " +
    "t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e), " +
    "r AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) " +
    "  AS rn FROM e), " +
    "a AS (SELECT CAST(alpha_ppm AS BIGINT) AS alpha_ppm " +
    "  FROM (VALUES (100000), (50000)) AS t(alpha_ppm)), " +
    "k AS (SELECT a.alpha_ppm, t.n, least(t.n, ((t.n + 1) * " +
    "  (1000000 - a.alpha_ppm) + 999999) // 1000000) AS rk " +
    "  FROM a CROSS JOIN t) " +
    "SELECT k.alpha_ppm, k.n, k.rk AS rank_k, r.v AS threshold_cents " +
    "FROM k JOIN r ON r.rn = k.rk"

  /** Encoding-advisor replica: per-column profile UNION, sum_len only
    * for STRING columns (same no-double-stringify rule as the Spark
    * side). */
  private val encodingAdvisorSql: String = {
    val strCols = Set("c_name", "c_mktsegment")
    val parts = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
      "c_acctbal").map { c =>
      val sl = if (strCols(c)) s"CAST(coalesce(sum(length($c)), 0) AS BIGINT)"
               else "CAST(0 AS BIGINT)"
      s"SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(count($c) AS BIGINT) AS n_nonnull, " +
      s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
      s"$sl AS sum_len FROM customer"
    }
    "WITH p AS (" + parts.mkString(" UNION ALL ") + ") " +
    "SELECT column_name, n, n_nonnull, n_distinct, sum_len, " +
    "(n - n_nonnull) * 1000000 // n AS null_ppm, " +
    "n_distinct * 1000000 // n AS distinct_ppm, " +
    "CASE WHEN n_nonnull * 10 <= n THEN 'sparse' " +
    "WHEN n_distinct <= 1 THEN 'constant' " +
    "WHEN n_distinct * 20 <= n_nonnull THEN 'dict' " +
    "ELSE 'plain' END AS suggestion FROM p"
  }

  /** 3 synchronous LPA rounds unrolled (most-frequent neighbor label,
    * min-label ties) over the q_graph_components co-purchase edges —
    * per-vertex fixpoint, the full determinism pin. */
  /** The 3 unrolled LPA rounds as a shared CTE prefix (final labels in
    * `lp`, MATERIALIZED so multi-reference consumers don't re-inline
    * the whole chain) — used by the label-prop oracle and the
    * community-quality audit. */
  private val labelPropCtes: String = {
    def round(i: Int, prev: String): String =
      s"n$i AS (SELECT ud.a AS v, l.lbl, count(*) AS c FROM ud " +
      s"  JOIN $prev l ON ud.b = l.v GROUP BY 1, 2), " +
      s"m$i AS (SELECT v, max(c) AS mc FROM n$i GROUP BY 1), " +
      s"l$i AS (SELECT n$i.v, min(n$i.lbl) AS lbl FROM n$i " +
      s"  JOIN m$i ON n$i.v = m$i.v AND n$i.c = m$i.mc GROUP BY 1)"
    "e AS (SELECT DISTINCT CAST(l_suppkey * 2 + 1 AS BIGINT) AS a, " +
    "  CAST(o_custkey * 2 AS BIGINT) AS b " +
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
    "  WHERE l_quantity = 50 AND l_linenumber = 7), " +
    "ud AS (SELECT a, b FROM e UNION SELECT b, a FROM e), " +
    "v AS (SELECT DISTINCT a AS v FROM ud), " +
    "l0 AS (SELECT v, v AS lbl FROM v), " +
    round(1, "l0") + ", " + round(2, "l1") + ", " + round(3, "l2") + ", " +
    "lp AS MATERIALIZED (SELECT v, lbl FROM l3)"
  }

  /** 3 synchronous LPA rounds unrolled (most-frequent neighbor label,
    * min-label ties) over the co-purchase edges — per-vertex fixpoint,
    * the full determinism pin. */
  private val labelPropSql: String =
    s"WITH $labelPropCtes SELECT v AS id, lbl AS community FROM lp"

  /** Conductance + per-community Newman modularity term over the LPA
    * assignment: the same canonical-edge tag, explode-credited cut and
    * volume, and the overflow-free (vol·1e6 div 2m)² div 1e6 square as
    * Graph.communityQuality. */
  private val communityQualitySql: String =
    s"WITH $labelPropCtes, " +
    "u2 AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e " +
    "  WHERE a != b), " +
    "tg AS MATERIALIZED (SELECT u2.a, u2.b, la.lbl AS ca, lb.lbl AS cb " +
    "  FROM u2 JOIN lp la ON la.v = u2.a JOIN lp lb ON lb.v = u2.b), " +
    "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tg), " +
    "ei AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_in " +
    "  FROM tg WHERE ca = cb GROUP BY 1), " +
    "ct AS (SELECT community, CAST(count(*) AS BIGINT) AS cut FROM " +
    "  (SELECT ca AS community FROM tg WHERE ca != cb " +
    "   UNION ALL SELECT cb FROM tg WHERE ca != cb) GROUP BY 1), " +
    "vl AS (SELECT community, CAST(count(*) AS BIGINT) AS vol FROM " +
    "  (SELECT ca AS community FROM tg " +
    "   UNION ALL SELECT cb FROM tg) GROUP BY 1), " +
    "nd AS (SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes " +
    "  FROM lp GROUP BY 1), " +
    "q0 AS (SELECT nd.community, nd.n_nodes, " +
    "  coalesce(vl.vol, 0) AS vol, coalesce(ei.e_in, 0) AS e_in, " +
    "  coalesce(ct.cut, 0) AS cut, mm.m AS m " +
    "  FROM nd LEFT JOIN vl ON nd.community = vl.community " +
    "  LEFT JOIN ei ON nd.community = ei.community " +
    "  LEFT JOIN ct ON nd.community = ct.community CROSS JOIN mm) " +
    // each ppm division self-switches on its divisor at 9e12, exactly
    // mirroring Graph.communityQuality's aucFinish-pattern CASE
    "SELECT community, n_nodes, vol, e_in, cut, " +
    "CAST(CASE WHEN least(vol, 2 * m - vol) <= 0 THEN 0 " +
    "  WHEN least(vol, 2 * m - vol) <= 9000000000000 " +
    "  THEN cut * 1000000 // least(vol, 2 * m - vol) " +
    "  ELSE (cut // least(vol, 2 * m - vol)) * 1000000 + " +
    "  (cut % least(vol, 2 * m - vol)) // " +
    "  greatest(least(vol, 2 * m - vol) // 1000000, 1) END " +
    "  AS BIGINT) AS conductance_ppm, " +
    "CAST(CASE WHEN m <= 0 THEN 0 ELSE " +
    "  (CASE WHEN m <= 9000000000000 THEN e_in * 1000000 // m " +
    "   ELSE (e_in // m) * 1000000 + " +
    "   (e_in % m) // greatest(m // 1000000, 1) END) - " +
    "  (CASE WHEN m <= 4500000000000 THEN vol * 1000000 // (2 * m) " +
    "   ELSE (vol // (2 * m)) * 1000000 + " +
    "   (vol % (2 * m)) // greatest(2 * m // 1000000, 1) END) * " +
    "  (CASE WHEN m <= 4500000000000 THEN vol * 1000000 // (2 * m) " +
    "   ELSE (vol // (2 * m)) * 1000000 + " +
    "   (vol % (2 * m)) // greatest(2 * m // 1000000, 1) END) " +
    "  // 1000000 END AS BIGINT) AS modularity_term_ppm " +
    "FROM q0"

  /** One unrolled weighted-LPA round: neighbor votes are edge-weight
    * SUMS (max weight, min-label ties) — the weighted mirror of
    * [[labelPropCtes]]' count votes. */
  private def weightedLpaRound(i: Int, prev: String): String =
    s"n$i AS (SELECT ud.a AS v, l.lbl, CAST(sum(ud.w) AS BIGINT) AS c " +
    s"  FROM ud JOIN $prev l ON ud.b = l.v GROUP BY 1, 2), " +
    s"m$i AS (SELECT v, max(c) AS mc FROM n$i GROUP BY 1), " +
    s"l$i AS (SELECT n$i.v, min(n$i.lbl) AS lbl FROM n$i " +
    s"  JOIN m$i ON n$i.v = m$i.v AND n$i.c = m$i.mc GROUP BY 1)"

  /** 3 weighted-LPA rounds over the quantity-weighted supplier-customer
    * graph; parallel edges coalesce by summed weight before round 1,
    * exactly as Graph.labelPropagationWeighted. */
  private val labelPropWeightedSql: String =
    "WITH e0 AS (SELECT CAST(l_suppkey * 2 + 1 AS BIGINT) AS a, " +
    "  CAST(o_custkey * 2 AS BIGINT) AS b, " +
    "  CAST(l_quantity AS BIGINT) AS w " +
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
    "  WHERE l_quantity >= 49 AND l_linenumber = 7), " +
    "ud AS MATERIALIZED (SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM " +
    "  (SELECT a, b, w FROM e0 UNION ALL SELECT b, a, w FROM e0) " +
    "  GROUP BY 1, 2), " +
    "v AS (SELECT DISTINCT a AS v FROM ud), " +
    "l0 AS (SELECT v, v AS lbl FROM v), " +
    weightedLpaRound(1, "l0") + ", " + weightedLpaRound(2, "l1") + ", " +
    weightedLpaRound(3, "l2") + " " +
    "SELECT v AS id, lbl AS community FROM l3"

  /** The per-community Newman modularity term over columns (e_in, vol,
    * m) with the self-switching overflow CASE — the exact expression
    * Graph.communityQuality plans, shared by every oracle that sums a
    * Q. */
  private val modTermCaseSql: String =
    "CASE WHEN m <= 0 THEN 0 ELSE " +
    "(CASE WHEN m <= 9000000000000 THEN e_in * 1000000 // m " +
    " ELSE (e_in // m) * 1000000 + " +
    " (e_in % m) // greatest(m // 1000000, 1) END) - " +
    "(CASE WHEN m <= 4500000000000 THEN vol * 1000000 // (2 * m) " +
    " ELSE (vol // (2 * m)) * 1000000 + " +
    " (vol % (2 * m)) // greatest(2 * m // 1000000, 1) END) * " +
    "(CASE WHEN m <= 4500000000000 THEN vol * 1000000 // (2 * m) " +
    " ELSE (vol // (2 * m)) * 1000000 + " +
    " (vol % (2 * m)) // greatest(2 * m // 1000000, 1) END) " +
    "// 1000000 END"

  /** One unrolled synchronous Louvain local-move round over frozen
    * assignment `prev` (v, c), given MATERIALIZED CTEs `adj` (v, u),
    * `dg` (v, k), `mm` (m): candidates = neighbor communities ∪ own
    * (zero-count union), score = 2m·l − vol(c∖v)·k (division-free
    * integer ΔQ order), move iff the best strictly beats staying, ties
    * to the lowest community id — Graph.louvainRefine's exact sweep. */
  private def louvainRound(i: Int, prev: String): String =
    s"vg$i AS (SELECT l.c AS c, CAST(sum(dg.k) AS BIGINT) AS vol " +
    s"  FROM dg JOIN $prev l ON dg.v = l.v GROUP BY 1), " +
    s"lv$i AS (SELECT adj.v, lu.c, CAST(count(*) AS BIGINT) AS l " +
    s"  FROM adj JOIN $prev lu ON adj.u = lu.v GROUP BY 1, 2), " +
    s"cd$i AS (SELECT v, c, max(l) AS l FROM " +
    s"  (SELECT v, c, l FROM lv$i " +
    s"   UNION ALL SELECT v, c, 0 FROM $prev) GROUP BY 1, 2), " +
    s"sc$i AS MATERIALIZED (SELECT cd.v, cd.c, cur.c AS own, " +
    s"  2 * mm.m * cd.l - (vg.vol - CASE WHEN cd.c = cur.c " +
    s"  THEN dg.k ELSE 0 END) * dg.k AS s " +
    s"  FROM cd$i cd JOIN $prev cur ON cd.v = cur.v " +
    s"  JOIN dg ON dg.v = cd.v JOIN vg$i vg ON vg.c = cd.c " +
    s"  CROSS JOIN mm), " +
    s"bs$i AS (SELECT v, max(s) AS bs FROM sc$i GROUP BY 1), " +
    s"bc$i AS (SELECT sc.v, min(sc.c) AS bc, bs.bs FROM sc$i sc " +
    s"  JOIN bs$i bs ON sc.v = bs.v AND sc.s = bs.bs " +
    s"  GROUP BY sc.v, bs.bs), " +
    s"g$i AS MATERIALIZED (SELECT bc.v, CASE WHEN bc.bs > own.s " +
    s"  THEN bc.bc ELSE own.own END AS c FROM bc$i bc " +
    s"  JOIN sc$i own ON bc.v = own.v AND own.c = own.own)"

  /** Shared prelude for the Louvain oracles: the LPA seeding
    * ([[labelPropCtes]]) plus the canonical undirected frame, the
    * symmetrized adjacency, per-vertex degrees, the edge count, and
    * the seeded assignment g0 — then 2 unrolled rounds ending in g2. */
  private val louvainCtes: String =
    labelPropCtes + ", " +
    "und2 AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b " +
    "  FROM e WHERE a != b), " +
    "adj AS MATERIALIZED (SELECT a AS v, b AS u FROM und2 " +
    "  UNION ALL SELECT b, a FROM und2), " +
    "dg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS k " +
    "  FROM adj GROUP BY 1), " +
    "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und2), " +
    "g0 AS MATERIALIZED (SELECT lp.v, lp.lbl AS c FROM lp " +
    "  JOIN dg ON dg.v = lp.v), " +
    louvainRound(1, "g0") + ", " + louvainRound(2, "g1")

  private val louvainSql: String =
    s"WITH $louvainCtes SELECT v AS id, c AS community FROM g2"

  /** One-row modularity roll-up of assignment CTE `lab` (v, c) over
    * und2, as qq$sfx (nc, q) — the communityQuality Q with the shared
    * self-switching term. */
  private def modularityOver(lab: String, sfx: String): String =
    s"tg$sfx AS (SELECT la.c AS ca, lb.c AS cb FROM und2 " +
    s"  JOIN $lab la ON la.v = und2.a JOIN $lab lb ON lb.v = und2.b), " +
    s"mt$sfx AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tg$sfx), " +
    s"ei$sfx AS (SELECT ca AS c, CAST(count(*) AS BIGINT) AS e_in " +
    s"  FROM tg$sfx WHERE ca = cb GROUP BY 1), " +
    s"vl$sfx AS (SELECT c, CAST(count(*) AS BIGINT) AS vol FROM " +
    s"  (SELECT ca AS c FROM tg$sfx UNION ALL SELECT cb FROM tg$sfx) " +
    s"  GROUP BY 1), " +
    s"qt$sfx AS (SELECT vl.c, vl.vol, coalesce(ei.e_in, 0) AS e_in, " +
    s"  mt.m FROM vl$sfx vl LEFT JOIN ei$sfx ei ON vl.c = ei.c " +
    s"  CROSS JOIN mt$sfx mt), " +
    s"qq$sfx AS (SELECT CAST(count(*) AS BIGINT) AS nc, " +
    s"  CAST(coalesce(sum($modTermCaseSql), 0) AS BIGINT) AS q " +
    s"  FROM qt$sfx)"

  /** Before/after Q of the Louvain refinement vs its LPA seeding. */
  private val louvainGainSql: String =
    s"WITH $louvainCtes, " +
    "lpa0 AS (SELECT v, lbl AS c FROM lp), " +
    modularityOver("lpa0", "b") + ", " +
    modularityOver("g2", "a") + " " +
    "SELECT qqb.nc AS n_communities_before, qqb.q AS q_before_ppm, " +
    "qqa.nc AS n_communities_after, qqa.q AS q_after_ppm " +
    "FROM qqb CROSS JOIN qqa"

  private val weightedQuartilesSql: String =
    "WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v, " +
    "  CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber " +
    "  FROM lineitem), " +
    "t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM c), " +
    "r AS (SELECT v, CAST(sum(w) OVER (ORDER BY v, l_orderkey, " +
    "  l_linenumber ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw FROM c) " +
    "SELECT t.tw AS total_weight, " +
    "  min(CASE WHEN cw * 4 >= tw THEN v END) AS wq25_cents, " +
    "  min(CASE WHEN cw * 2 >= tw THEN v END) AS wq50_cents, " +
    "  min(CASE WHEN cw * 4 >= 3 * tw THEN v END) AS wq75_cents " +
    "FROM r, t GROUP BY t.tw"

  /** Mirrors Stats.chiSquareSampled's self-disabling bound guard: keep
    * a row iff u32 < (maxN·2^32) // N — all-keep when N ≤ 40 000, a
    * content-hash sample above it, identical integers in both
    * engines. */
  private val chiSquareSql: String =
    "WITH nn AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS nn " +
    "  FROM documents), " +
    "pre AS (SELECT lang, source FROM documents CROSS JOIN nn " +
    "  WHERE CAST(concat('0x', substr(md5(concat('" +
    s"${graft.fakegen.FakeGen.DefaultSeed}:chi2:', " +
    "  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) " +
    s"  < ${40000L * 4294967296L} // nn), " +
    "cells AS (SELECT lang AS a, source AS b, count(*) AS o " +
    "  FROM pre GROUP BY 1, 2), " +
    "rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1), " +
    "ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1), " +
    "tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells), " +
    "grid AS (SELECT rt.a, ct.b, r, c FROM rt CROSS JOIN ct), " +
    "j AS (SELECT g.a, g.b, g.r, g.c, CAST(coalesce(cells.o, 0) AS BIGINT) " +
    "  AS o FROM grid g LEFT JOIN cells ON g.a = cells.a AND g.b = cells.b), " +
    "t AS (SELECT (o * n - r * c) AS d, (r * c * n) AS m " +
    "  FROM j CROSS JOIN tot), " +
    "s AS (SELECT CAST(sum((d * d // m) * 1000000 + " +
    "  (d * d % m) * 1000000 // m) AS BIGINT) AS chi2_ppm FROM t), " +
    "lv AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS a_levels, " +
    "  CAST(count(DISTINCT b) AS BIGINT) AS b_levels FROM cells) " +
    "SELECT n, a_levels, b_levels, " +
    "(a_levels - 1) * (b_levels - 1) AS dof, chi2_ppm " +
    "FROM tot CROSS JOIN lv CROSS JOIN s"

  /** Nested learning-curve samples: threshold literals come from
    * Sampling.thresholdHex with the default seed — one source of
    * truth, same as every sampling-family oracle. */
  private val nestedSamplesSql: String = {
    import graft.operators.Sampling.thresholdHex
    val seed = graft.fakegen.FakeGen.DefaultSeed
    val lv = Seq(0.01, 0.1, 0.5).map(f =>
      s"(${(f * 1e6).toLong}, '${thresholdHex(f)}')").mkString(", ")
    s"WITH e AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS c, " +
    s"  substr(md5('$seed:curve:' || CAST(event_id AS VARCHAR)), 1, 15) " +
    "  AS h FROM events), " +
    s"lv AS (SELECT * FROM (VALUES $lv) AS t(fraction_ppm, thr)), " +
    "x AS (SELECT fraction_ppm, c FROM e JOIN lv ON e.h < lv.thr), " +
    "g AS (SELECT CAST(fraction_ppm AS BIGINT) AS fraction_ppm, " +
    "  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sum_cents " +
    "  FROM x GROUP BY 1) " +
    "SELECT fraction_ppm, n, sum_cents, sum_cents * 1000000 // n " +
    "  AS mean_cents_ppm FROM g"
  }

  private val keySkewSql: String =
    "WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1), " +
    "s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, " +
    "  CAST(sum(cnt) AS BIGINT) AS n_rows FROM c) " +
    "SELECT c.user_id, c.cnt, c.cnt * 1000000 // s.n_rows AS share_ppm, " +
    "c.cnt * s.n_keys * 1000000 // s.n_rows AS hot_ratio_ppm, " +
    "s.n_keys, s.n_rows FROM c CROSS JOIN s " +
    "ORDER BY c.cnt DESC, c.user_id ASC LIMIT 10"

  /** SQL replica of TextKernels.rollingFingerprint: the FNV-style
    * rolling hash then the SplitMix64 finalizer, in HUGEINT arithmetic
    * mod 2^64. 64x64-bit multiplies are split at 32 bits so no
    * intermediate exceeds HUGEINT range. */
  private val rollingFpSql: String = {
    val roll = "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      "list_transform(string_split(n, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      "(h, c) -> (h * 1099511628211 + c) % 18446744073709551616::HUGEINT)"
    "WITH nn AS (SELECT doc_id, " +
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS n FROM documents), " +
    "rr AS (SELECT doc_id, CASE WHEN n = '' THEN 14695981039346656037::HUGEINT " +
    s"ELSE $roll END AS rh FROM nn) " +
    s"SELECT doc_id, lower(hex(CAST((${splitMix64Sql("rh")}) AS UBIGINT))) AS fp FROM rr"
  }

  /** SQL replica of TextKernels.langId, GENERATED from the kernel's own
    * stopword lists (one source of truth): per-language token hit
    * counts, argmax with first-in-order tie-break, 'und' below the 5%
    * stopword-signal floor. The CJK branch is vacuous on this ASCII
    * corpus (verified) and omitted. */
  private val langIdSql: String = {
    val langs = graft.functions.TextKernels.stopwordSource
    def arr(words: Seq[String]) =
      words.map(w => "'" + w.replace("'", "''") + "'").mkString("[", ",", "]")
    val hits = langs.map { case (l, ws) =>
      s"len(list_filter(toks, x -> list_contains(${arr(ws)}, x))) AS h_$l"
    }.mkString(", ")
    val m = langs.map { case (l, _) => s"h_$l" }.mkString("greatest(", ",", ")")
    val firstMax = langs.map { case (l, _) => s"WHEN h_$l = m THEN '$l'" }.mkString(" ")
    "WITH tk AS (SELECT doc_id, lang, CASE WHEN trim(text) = '' THEN [] " +
    "ELSE regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') " +
    "END AS toks FROM documents), " +
    s"h AS (SELECT doc_id, lang, len(toks) AS ntoks, $hits FROM tk), " +
    s"mm AS (SELECT *, $m AS m FROM h) " +
    "SELECT doc_id, lang AS labeled, " +
    "CASE WHEN m = 0 OR m * 20 < ntoks THEN 'und' " +
    s"ELSE CASE $firstMax END END AS predicted FROM mm"
  }

  /** Confusion matrix over [[langIdSql]]'s per-doc (labeled, predicted)
    * pairs — the oracle is DERIVED from the same generated detector
    * replica (one source of truth, no reimplementation drift), then
    * aggregated with ppm-integer shares. */
  private val langidConfusionSql: String =
    s"WITH base AS (SELECT labeled, predicted FROM ($langIdSql) t), " +
    "cm AS (SELECT labeled, predicted, count(*) AS n FROM base " +
    "  GROUP BY 1, 2), " +
    "wt AS (SELECT labeled, predicted, n, CAST(sum(n) OVER " +
    "  (PARTITION BY labeled) AS BIGINT) AS label_total FROM cm) " +
    "SELECT labeled, predicted, n, label_total, " +
    "n * 1000000 // label_total AS share_ppm FROM wt"

  /** Gap-day linear interpolation between the surrounding observations
    * in exact integer cents — the [[Temporal.resampleInterpolate]]
    * twin: same last-per-bucket collapse, same [min, max] grid, same
    * truncating-division blend (`//` and Spark `div` both truncate
    * toward zero, verified on negatives). */
  private val interpResampleSql: String =
    "WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, " +
    "  CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
    "b AS (SELECT user_id, tsu // 86400000000 AS bkt, cents, " +
    "  row_number() OVER (PARTITION BY user_id, tsu // 86400000000 " +
    "  ORDER BY tsu DESC, event_id DESC) AS rn FROM e), " +
    "o AS (SELECT user_id, bkt, cents FROM b WHERE rn = 1), " +
    "spans AS (SELECT user_id, min(bkt) AS lo, max(bkt) AS hi " +
    "  FROM o GROUP BY user_id), " +
    "grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bkt FROM spans), " +
    "j AS (SELECT g.user_id, g.bkt, o.cents, " +
    "  last_value(o.cents IGNORE NULLS) OVER w AS pv, " +
    "  last_value(CASE WHEN o.cents IS NOT NULL THEN g.bkt END " +
    "    IGNORE NULLS) OVER w AS pd, " +
    "  first_value(o.cents IGNORE NULLS) OVER wf AS nv, " +
    "  first_value(CASE WHEN o.cents IS NOT NULL THEN g.bkt END " +
    "    IGNORE NULLS) OVER wf AS nd " +
    "  FROM grid g LEFT JOIN o ON g.user_id = o.user_id AND g.bkt = o.bkt " +
    "  WINDOW w AS (PARTITION BY g.user_id ORDER BY g.bkt " +
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
    "  wf AS (PARTITION BY g.user_id ORDER BY g.bkt " +
    "    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
    "SELECT user_id, CAST(bkt * 86400000000 AS BIGINT) AS bucket_start, " +
    "CASE WHEN cents IS NOT NULL THEN cents " +
    "  ELSE (pv * (nd - bkt) + nv * (bkt - pd)) // (nd - pd) END " +
    "  AS interp_cents FROM j"

  /** +1/−1 boundary sweep over the sessionize CTE (the q_sessionize
    * oracle verbatim), cumulative occupancy via a window prefix sum
    * in the same (ts, kind, user_id, session_idx) total order the
    * Spark side's distributedCumSum uses. BOUNDARY-DAY-ONLY semantics:
    * a day on which sessions are open but no session starts or ends
    * emits no row (pinned by TemporalCurveSpec). */
  private val concurrencySql: String =
    "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id FROM events), " +
    "m AS (SELECT user_id, ts, event_id, CASE WHEN ts - lag(ts) OVER " +
    "  (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 " +
    "  THEN 1 ELSE 0 END AS ns FROM e), " +
    "si AS (SELECT user_id, ts, CAST(sum(ns) OVER (PARTITION BY user_id " +
    "  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
    "  AS BIGINT) AS session_idx FROM m), " +
    "sess AS (SELECT user_id, session_idx, min(ts) AS s, max(ts) AS e2 " +
    "  FROM si GROUP BY 1, 2), " +
    "bnd AS (SELECT s AS ts, 0 AS kind, CAST(1 AS BIGINT) AS d, " +
    "  user_id, session_idx FROM sess " +
    "  UNION ALL SELECT e2 AS ts, 1 AS kind, CAST(-1 AS BIGINT) AS d, " +
    "  user_id, session_idx FROM sess), " +
    "c AS (SELECT ts, CAST(sum(d) OVER (ORDER BY ts, kind, user_id, " +
    "  session_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
    "  AS BIGINT) AS cum FROM bnd) " +
    "SELECT ts // 86400000000 AS day, CAST(max(cum) AS BIGINT) " +
    "  AS max_concurrency, count(*) AS n_boundaries FROM c GROUP BY 1"

  /** The full query-name -> DuckDB SQL map (main map ++ tail). */
  def all: Map[String, String] = Map(
    // ---- faker shape invariants: the oracle recomputes every expected
    // value from the ORIGINAL tables; the Spark side computes the same
    // columns from the FAKED values, so any contract break (shape,
    // preserved formatting, surviving digit, passed-through element,
    // nondeterminism) flips the driver's hash compare. -----------------
    "q_fake_name" ->
      "SELECT c_custkey, true AS shape_ok, true AS differs FROM customer",
    "q_fake_email" ->
      "SELECT c_custkey, true AS shape_ok FROM customer",
    "q_fake_company" ->
      "SELECT s_suppkey, true AS shape_ok, true AS differs FROM supplier",
    "q_fake_address" ->
      "SELECT c_custkey, true AS shape_ok FROM customer",
    "q_fake_uuid" ->
      "SELECT c_custkey, true AS shape_ok FROM customer",
    "q_fake_phone" ->
      ("SELECT c_custkey, " +
       "regexp_replace(printf('+30 21 %07d', c_custkey), '[0-9]', 'D', 'g')" +
       " AS skeleton, CAST(0 AS INTEGER) AS digits_same FROM customer"),
    "q_fake_multi_email" ->
      ("SELECT c_custkey, true AS braced, CAST(2 AS INTEGER) AS n_elems, " +
       "CAST(2 AS INTEGER) AS n_valid, CAST(0 AS INTEGER) AS n_unchanged " +
       "FROM customer"),
    "q_fake_email_id_prefix" ->
      ("SELECT c_custkey, CAST(c_custkey AS INTEGER) AS id_prefix, " +
       "true AS rest_ok FROM customer"),
    "q_fake_determinism" ->
      "SELECT CAST(0 AS BIGINT) AS mismatches",
    "q_filter_contains" ->
      "SELECT * FROM customer WHERE c_name LIKE '%11%'",
    "q_filter_startswith" ->
      "SELECT * FROM part WHERE p_name LIKE 'red%'",
    "q_filter_endswith" ->
      "SELECT * FROM part WHERE p_name LIKE '%bolt'",
    "q_filter_starts_ends" ->
      "SELECT * FROM customer WHERE c_name LIKE 'Customer#%' AND c_name LIKE '%5'",
    "q_filter_equals" ->
      "SELECT * FROM customer WHERE c_mktsegment = 'MACHINERY'",
    "q_filter_anyof_int" ->
      "SELECT * FROM supplier WHERE s_nationkey IS NULL OR s_nationkey NOT IN (1, 2, 3)",
    // events.ts: µs-aligned on both sides (see `events` helper above).
    "q_filter_anyof_string" ->
      ("SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props " +
       "FROM events WHERE event_type IS NULL OR event_type NOT IN ('click', 'view')"),
    "q_limit" ->
      "SELECT * FROM customer ORDER BY c_custkey LIMIT 100",
    "q_replace" ->
      "SELECT c_custkey, 'CONFIDENTIAL' AS c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "q_nullify" ->
      "SELECT c_custkey, c_name, c_nationkey, CAST(NULL AS DOUBLE) AS c_acctbal, c_mktsegment FROM customer",
    "q_sanitize_null_bytes" ->
      ("SELECT doc_id, CASE WHEN contains(text, chr(0)) THEN NULL ELSE text END AS text, " +
       "CASE WHEN contains(lang, chr(0)) THEN NULL ELSE lang END AS lang, " +
       "CASE WHEN contains(source, chr(0)) THEN NULL ELSE source END AS source, " +
       "n_chars FROM documents"),
    "q_cdc_latest_per_key" ->
      ("SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props FROM events " +
       "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"),
    "q_k_anonymity" -> (
      "WITH b AS (SELECT c_nationkey, " +
      "  CAST(round(c_acctbal * 100) AS BIGINT) // 10000 AS bal_band " +
      "  FROM customer) " +
      "SELECT c_nationkey, bal_band, count(*) AS n FROM b " +
      "GROUP BY 1, 2 HAVING count(*) < 5"),
    "q_l_diversity" -> (
      "WITH b AS (SELECT c_nationkey, c_mktsegment, " +
      "  CAST(round(c_acctbal * 100) AS BIGINT) // 10000 AS bal_band " +
      "  FROM customer) " +
      "SELECT c_nationkey, bal_band, count(*) AS n, " +
      "count(DISTINCT c_mktsegment) AS n_distinct_sensitive FROM b " +
      "GROUP BY 1, 2 HAVING count(DISTINCT c_mktsegment) < 3"),
    "q_snapshot_diff" -> (
      "WITH n AS (" +
      "  SELECT c_custkey, c_name, c_nationkey, " +
      "    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 50.0 " +
      "      ELSE c_acctbal END AS c_acctbal, c_mktsegment " +
      "  FROM customer WHERE c_custkey % 7 != 0 " +
      "  UNION ALL " +
      "  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, " +
      "    c_mktsegment FROM customer WHERE c_custkey % 11 = 0), " +
      "j AS (SELECT coalesce(c.c_custkey, n.c_custkey) AS c_custkey, " +
      "  CASE WHEN n.c_custkey IS NULL THEN 'removed' " +
      "       WHEN c.c_custkey IS NULL THEN 'added' " +
      "       WHEN (c.c_name IS DISTINCT FROM n.c_name) " +
      "         OR (c.c_nationkey IS DISTINCT FROM n.c_nationkey) " +
      "         OR (c.c_acctbal IS DISTINCT FROM n.c_acctbal) " +
      "         OR (c.c_mktsegment IS DISTINCT FROM n.c_mktsegment) " +
      "       THEN 'changed' END AS change " +
      "  FROM customer c FULL OUTER JOIN n ON c.c_custkey = n.c_custkey) " +
      "SELECT c_custkey, change FROM j WHERE change IS NOT NULL"),
    "q_benford" -> (
      "WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) " +
      "  AS VARCHAR), 1, 1) AS digit FROM orders), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d) " +
      "SELECT digit, count(*) AS n, " +
      "CAST(count(*) * 1000000 // nn AS BIGINT) AS share_ppm " +
      "FROM d, t GROUP BY digit, nn"),
    "q_cdc_scd2" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type " +
      "  FROM events WHERE user_id % 5 = 0), " +
      "d AS (SELECT *, lag(1) OVER wl AS pex, " +
      "  lag(event_type) OVER wl AS pe FROM e " +
      "  WINDOW wl AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "f AS (SELECT user_id, ts, event_id, event_type FROM d " +
      "  WHERE pex IS NULL OR pe IS DISTINCT FROM event_type) " +
      "SELECT user_id, ts, event_id, event_type, ts AS effective_from, " +
      "lead(ts) OVER w AS effective_to, " +
      "(lead(ts) OVER w IS NULL) AS is_current " +
      "FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    // PIT replay: the q_cdc_scd2 version CTEs, then INTERVAL
    // CONTAINMENT (from <= ts < to) — equal to the operator's
    // asof-on-from because SCD2 intervals tile per key
    "q_pit_join" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type " +
      "  FROM events WHERE user_id % 5 = 0), " +
      "d AS (SELECT *, lag(1) OVER wl AS pex, " +
      "  lag(event_type) OVER wl AS pe FROM e " +
      "  WINDOW wl AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "f AS (SELECT user_id, ts, event_id, event_type FROM d " +
      "  WHERE pex IS NULL OR pe IS DISTINCT FROM event_type), " +
      "v AS (SELECT user_id, ts, event_id, event_type, " +
      "  ts AS effective_from, lead(ts) OVER w AS effective_to, " +
      "  (lead(ts) OVER w IS NULL) AS is_current " +
      "  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT e.user_id, e.ts, e.event_id, " +
      "v.ts AS dim_ts, v.event_id AS dim_event_id, " +
      "v.event_type AS dim_event_type, " +
      "v.effective_to AS dim_effective_to, v.is_current AS dim_is_current " +
      "FROM e JOIN v ON v.user_id = e.user_id " +
      "AND v.effective_from <= e.ts " +
      "AND (v.effective_to IS NULL OR e.ts < v.effective_to)"),
    "q_cdc_apply_delta" -> (
      "WITH delta AS (" +
      "  SELECT 'U' AS op, 2 AS dts, o_orderkey, o_custkey, o_orderstatus, " +
      "         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority " +
      "  FROM orders WHERE o_orderkey % 3 = 0 " +
      "  UNION ALL " +
      "  SELECT 'D', 1, o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
      "         o_orderdate, o_orderpriority " +
      "  FROM orders WHERE o_orderkey % 17 = 0" +
      "), latest AS (" +
      "  SELECT * FROM delta " +
      "  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY dts DESC) = 1" +
      ") " +
      "SELECT o.* FROM orders o LEFT JOIN latest l ON o.o_orderkey = l.o_orderkey " +
      "WHERE l.o_orderkey IS NULL " +
      "UNION ALL " +
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
      "o_orderpriority FROM latest WHERE op IN ('I', 'U')"),
    // replays dmsFixture's IN-WINDOW delta content (the %5/dts=1 and
    // %7/dts=2 update batches; the %11 delete and the undated backfill
    // are outside the DateAware window, so they must NOT appear here):
    // latest dts per key wins => %35 keys carry +222
    "q_cdc_dateaware" -> (
      "WITH delta AS (" +
      "  SELECT 1 AS dts, o_orderkey, o_custkey, o_orderstatus, " +
      "         o_totalprice + 111.0 AS o_totalprice, o_orderdate, o_orderpriority " +
      "  FROM orders WHERE o_orderkey % 5 = 0 " +
      "  UNION ALL " +
      "  SELECT 2, o_orderkey, o_custkey, o_orderstatus, " +
      "         o_totalprice + 222.0, o_orderdate, o_orderpriority " +
      "  FROM orders WHERE o_orderkey % 7 = 0" +
      "), latest AS (" +
      "  SELECT * FROM delta " +
      "  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY dts DESC) = 1" +
      ") " +
      "SELECT o.* FROM orders o LEFT JOIN latest l ON o.o_orderkey = l.o_orderkey " +
      "WHERE l.o_orderkey IS NULL " +
      "UNION ALL " +
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
      "o_orderpriority FROM latest"),
    // LOAD halves reunited, no CDC: the original table
    "q_cdc_fullload" -> (
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
      "o_orderdate, o_orderpriority FROM orders"),
    // all four fixture CDC files resolved by latest dts per key:
    // backfill (dts=9) deletes even keys; %11 delete (dts=3) beats the
    // updates; %7 (dts=2) beats %5 (dts=1); remaining %5 keys get +111
    "q_cdc_absolute" -> (
      "SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 222.0 " +
      "WHEN o_orderkey % 5 = 0 THEN o_totalprice + 111.0 " +
      "ELSE o_totalprice END AS o_totalprice, " +
      "o_orderdate, o_orderpriority FROM orders " +
      "WHERE o_orderkey % 2 = 1 AND o_orderkey % 11 <> 0"),
    // point-in-time cut at ingestion ts <= 1: only the %5/dts=1 update
    // batch is in-state; the %7 update, the %11 delete and the undated
    // backfill (all later) must be absent
    "q_cdc_asof_snapshot" -> (
      "SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 111.0 " +
      "ELSE o_totalprice END AS o_totalprice, " +
      "o_orderdate, o_orderpriority FROM orders"),
    // additive evolution: %13 keys deleted (later ts beats the update),
    // surviving %4 keys carry the new column, everyone else NULL
    "q_cdc_schema_evolution" -> (
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
      "o_orderdate, o_orderpriority, " +
      "CASE WHEN o_orderkey % 4 = 0 " +
      "THEN concat('ch-', CAST(o_orderkey % 3 AS VARCHAR)) END AS o_channel " +
      "FROM orders WHERE o_orderkey % 13 <> 0"),
    // the zone-map prune must be invisible in the result: exactly the
    // plain box predicate over the source table
    "q_zonemap_prune" -> (
      "SELECT doc_id, source, n_chars FROM documents " +
      "WHERE doc_id BETWEEN 64 AND 191 AND n_chars BETWEEN 100 AND 400"),
    // the same iterated min-aggregate chain: step k = first matching
    // event strictly after step k-1, within the window of step 1
    "q_funnel" -> (
      s"WITH $funnelCtes " +
      "SELECT user_id, t1, t2, t3, " +
      "CAST(1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT) " +
      "  AS INT) AS steps_completed FROM s3"),
    // the funnel's headline metric: step-to-step conversion in ppm
    "q_funnel_rates" -> (
      s"WITH $funnelCtes, " +
      "agg AS (SELECT CAST(count(*) AS BIGINT) AS n1, " +
      "  CAST(count(t2) AS BIGINT) AS n2, CAST(count(t3) AS BIGINT) AS n3 " +
      "  FROM s3) " +
      "SELECT 1 AS step, n1 AS n_reached, CAST(NULL AS BIGINT) AS conv_ppm " +
      "  FROM agg " +
      "UNION ALL SELECT 2, n2, n2 * 1000000 // n1 FROM agg " +
      "UNION ALL SELECT 3, n3, CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 " +
      "  END FROM agg"),
    // identical integer z-test over the identical frame: milli-scaled
    // readings, trailing-20-excluding-self window, (ts, event_id) order
    "q_anomalies" -> (
      "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts, value, " +
      "  CAST(round(value * 1000) AS BIGINT) AS x FROM events), " +
      "st AS (SELECT user_id, event_id, ts, value, x, " +
      "  count(x) OVER w AS n, sum(x) OVER w AS s, sum(x*x) OVER w AS q " +
      "  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) " +
      "SELECT user_id, event_id, ts, value, " +
      "coalesce(n >= 8 AND (n*x - s)*(n*x - s) > 9*(n*q - s*s), FALSE) " +
      "  AS is_anomaly FROM st"),
    // integer period buckets (floor division) => exact cross-engine
    "q_retention" -> (
      "WITH p AS (SELECT DISTINCT user_id, " +
      "  epoch_us(ts) // 604800000000 AS pp FROM events), " +
      "c AS (SELECT user_id, min(pp) AS cohort FROM p GROUP BY user_id) " +
      "SELECT cohort, pp - cohort AS offset, count(*) AS n_active " +
      "FROM p JOIN c USING (user_id) GROUP BY cohort, pp - cohort"),
    // sequential rule replay: rule i counts matches on text with rules
    // < i already replaced — identical chained-regex semantics as the
    // operator, one rule set shared between both sides
    "q_pii_report" -> {
      val rules = graft.operators.Transformators.PiiRules
      val counts = rules.zipWithIndex.map { case ((re, tag), i) =>
        val prior = rules.take(i).foldLeft("text") { case (acc, (r, tg)) =>
          s"regexp_replace($acc, '$r', '$tg', 'g')"
        }
        s"CAST(sum(len(regexp_extract_all($prior, '$re'))) AS BIGINT) AS " +
          graft.operators.Transformators.piiCountCol(tag)
      }.mkString(", ")
      s"SELECT source, count(*) AS docs, $counts FROM documents GROUP BY source"
    },
    "q1_agg" -> (
      "SELECT l_returnflag, l_linestatus, " +
      "sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty, " +
      "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price, " +
      "count(*) AS count_order " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "q_join_agg" -> (
      "SELECT c_mktsegment, " +
      "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue, " +
      "count(*) AS n_orders " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY c_mktsegment"),
    "q_window_topk" -> (
      "SELECT o_custkey, o_orderkey, o_totalprice, " +
      "CAST(row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn " +
      "FROM orders " +
      "QUALIFY rn <= 3"),
    "q_topk_rewrite" -> (
      "SELECT o_custkey, o_orderkey, o_totalprice FROM orders " +
      "QUALIFY row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC) <= 3"),

    // ---- engine generality ---------------------------------------------
    "q_join_semi" ->
      ("SELECT * FROM customer WHERE EXISTS (SELECT 1 FROM orders " +
       "WHERE o_custkey = c_custkey AND o_totalprice > 400000)"),
    "q_join_anti" ->
      ("SELECT * FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders " +
       "WHERE o_custkey = c_custkey)"),
    "q_join_outer" ->
      ("SELECT n_nationkey, n_name, s_suppkey, s_name FROM nation " +
       "LEFT JOIN supplier ON n_nationkey = s_nationkey"),
    "q_set_ops" ->
      ("SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000 " +
       "INTERSECT " +
       "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'"),
    "q_agg_stats" ->
      ("SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
       "count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows " +
       "FROM lineitem GROUP BY l_returnflag"),
    "q_rollup" ->
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n FROM orders " +
       "GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"),
    "q_cube" ->
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n FROM orders " +
       "GROUP BY CUBE (o_orderpriority, o_orderstatus)"),
    "q_pivot" ->
      ("SELECT o_orderpriority, " +
       "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
       "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, " +
       "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p " +
       "FROM orders GROUP BY o_orderpriority"),
    "q_unpivot" ->
      ("WITH wide AS (SELECT l_returnflag, " +
       "sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS qty, " +
       "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS base_price, " +
       "sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 AS discount " +
       "FROM lineitem GROUP BY l_returnflag) " +
       "SELECT l_returnflag, 'qty' AS measure, qty AS value FROM wide " +
       "UNION ALL SELECT l_returnflag, 'base_price', base_price FROM wide " +
       "UNION ALL SELECT l_returnflag, 'discount', discount FROM wide"),
    "q_grouping_sets" ->
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n FROM orders " +
       "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))"),
    "q_sketch_kmv" -> kmvOracle,
    // lossless merge => the merged sketch equals the whole-corpus
    // sketch; same oracle
    "q_sketch_kmv_merge" -> kmvOracle,
    // the pure-SQL builds replay the identical hash stream and bottom-k
    // order, so the operator-tier oracles transfer row for row
    "q_sketch_kmv_sql" -> kmvOracle,
    "q_sketch_quantile_sql" -> quantileSketchOracle,
    "q_sketch_cms" -> cmsOracle,
    "q_sketch_cms_merge" -> cmsOracle,
    "q_autocorrelation" -> (
      "WITH daily AS (SELECT CAST(ts AS DATE) AS day, " +
      "  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
      "lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag), " +
      "pairs AS (SELECT l.lag AS lag, a.n AS x, b.n AS y " +
      "  FROM lags l JOIN daily a ON true " +
      "  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)), " +
      "s AS (SELECT lag, CAST(count(*) AS BIGINT) AS n, " +
      "  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "  CAST(sum(x*y) AS BIGINT) AS sxy, " +
      "  CAST(sum(x*x) AS BIGINT) AS sxx, " +
      "  CAST(sum(y*y) AS BIGINT) AS syy FROM pairs GROUP BY lag), " +
      "d2 AS (SELECT lag, n, " +
      "  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - " +
      "    CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num, " +
      "  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - " +
      "    CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS varx, " +
      "  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - " +
      "    CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vary FROM s) " +
      "SELECT CAST(lag AS BIGINT) AS lag, n, " +
      "CASE WHEN varx > 0 AND vary > 0 THEN " +
      "CAST(round(1000000.0 * num / (sqrt(varx) * sqrt(vary))) AS BIGINT) " +
      "END AS rho_ppm FROM d2"),
    "q_regr_trend" -> (
      "WITH daily AS (SELECT o_orderpriority AS grp, " +
      "  CAST(o_orderdate AS DATE) AS day, " +
      "  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100) " +
      "    AS BIGINT) AS y FROM orders GROUP BY 1, 2), " +
      "dx AS (SELECT grp, CAST(day - DATE '1992-01-01' AS BIGINT) AS x, " +
      "  y FROM daily), " +
      "s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days, " +
      "  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "  CAST(sum(x*y) AS BIGINT) AS sxy, " +
      "  CAST(sum(x*x) AS BIGINT) AS sxx, " +
      "  CAST(sum(y*y) AS BIGINT) AS syy FROM dx GROUP BY grp), " +
      "d2 AS (SELECT grp, n_days, " +
      "  CAST(n_days AS DOUBLE)*CAST(sxy AS DOUBLE) - " +
      "    CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num, " +
      "  CAST(n_days AS DOUBLE)*CAST(sxx AS DOUBLE) - " +
      "    CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den, " +
      "  CAST(n_days AS DOUBLE)*CAST(syy AS DOUBLE) - " +
      "    CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS vary FROM s) " +
      "SELECT grp, n_days, " +
      "CASE WHEN den > 0 THEN " +
      "CAST(round(1000000.0 * num / den) AS BIGINT) END AS slope_ppm, " +
      "CASE WHEN den > 0 AND vary > 0 THEN " +
      "CAST(round(1000000.0 * num * num / (den * vary)) AS BIGINT) " +
      "END AS r2_ppm FROM d2"),
    "q_label_centroid_sim" -> (
      "WITH q AS (SELECT label, unnest(list_transform(embedding, x -> " +
      "  CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS qv, " +
      "  unnest(range(len(embedding))) AS pos FROM embeddings), " +
      "c AS (SELECT label, pos, " +
      "  (CAST(sum(qv) AS BIGINT) + 1000000 * CAST(count(*) AS BIGINT)) " +
      "    // CAST(count(*) AS BIGINT) - 1000000 AS m " +
      "  FROM q GROUP BY 1, 2), " +
      "p AS (SELECT a.label AS label_a, b.label AS label_b, " +
      "  CAST(sum(a.m * b.m) AS BIGINT) AS dot, " +
      "  CAST(sum(a.m * a.m) AS BIGINT) AS na, " +
      "  CAST(sum(b.m * b.m) AS BIGINT) AS nb " +
      "  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label " +
      "  GROUP BY 1, 2) " +
      "SELECT label_a, label_b, " +
      "CAST(round(1000000.0 * CAST(dot AS DOUBLE) / " +
      "  (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))) " +
      "  AS BIGINT) AS cos_ppm FROM p"),
    "q_equidepth_bins" -> (
      "WITH r AS (SELECT value, CAST(ntile(16) OVER (ORDER BY value, " +
      "  event_id) AS BIGINT) AS bucket FROM events) " +
      "SELECT bucket, CAST(count(*) AS BIGINT) AS n, " +
      "min(value) AS lo, max(value) AS hi FROM r GROUP BY bucket"),
    "q_sketch_quantile" -> quantileSketchOracle,
    // lossless merge (disjoint shards, keep k smallest by hash) =>
    // merged ≡ whole-corpus bottom-k; same oracle
    "q_sketch_quantile_merge" -> quantileSketchOracle,
    // KMV set algebra replay: same hash stream, union-k via list ops,
    // at-capacity intersection via exact integer floor division
    "q_sketch_overlap" ->
      ("WITH h AS (SELECT DISTINCT event_type, " +
       "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) " +
       "    AS BIGINT) AS h FROM events " +
       "  WHERE event_type IN ('click', 'purchase')), " +
       "r AS (SELECT event_type, h, row_number() OVER " +
       "  (PARTITION BY event_type ORDER BY h) AS rn FROM h), " +
       "sk AS (SELECT event_type, list(h ORDER BY h) AS sketch " +
       "  FROM r WHERE rn <= 32 GROUP BY event_type), " +
       "ab AS (SELECT " +
       "  (SELECT sketch FROM sk WHERE event_type = 'click') AS a, " +
       "  (SELECT sketch FROM sk WHERE event_type = 'purchase') AS b), " +
       "u AS (SELECT a, b, list_sort(list_distinct(a || b))[1:32] AS uk FROM ab), " +
       "e AS (SELECT uk, CASE WHEN len(uk) < 32 THEN len(uk) " +
       "  ELSE CAST(floor(CAST(31 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) " +
       "    / uk[32]) AS BIGINT) END AS uest, " +
       "  len(list_intersect(list_intersect(uk, a), b)) AS inter FROM u) " +
       "SELECT CAST(uest AS BIGINT) AS n_union_est, " +
       "CAST(CASE WHEN len(uk) < 32 THEN inter " +
       "  ELSE (inter * uest) // 32 END AS BIGINT) AS n_common_est FROM e"),
    "q_percentiles" ->
      ("SELECT event_type, " +
       "round(quantile_cont(value, 0.5), 6) AS p50, " +
       "round(quantile_cont(value, 0.95), 6) AS p95, " +
       "round(quantile_cont(value, 0.99), 6) AS p99 " +
       "FROM events GROUP BY event_type"),
    // CAST the outer sum: DuckDB sums BIGINT into HUGEINT, which pandas
    // widens to float64 and the typed hash diverges from Spark's int64.
    "q_window_running" ->
      ("SELECT o_custkey, o_orderkey, " +
       "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (" +
       "PARTITION BY o_custkey ORDER BY o_orderkey " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents " +
       "FROM orders"),
    "q_json_extract" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k " +
       "FROM events"),
    "q_date_parts" ->
      ("SELECT CAST(year(o_orderdate) AS INT) AS y, " +
       "CAST(month(o_orderdate) AS INT) AS m, count(*) AS n " +
       "FROM orders GROUP BY 1, 2"),
    // CAST the integer sums: DuckDB types sum(int) as HUGEINT -> float64
    // in pandas, while Spark emits int64 (judge-verified dtype mismatch).
    "q_conditional_agg" ->
      ("SELECT user_id, " +
       "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases, " +
       "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors, " +
       "count(*) AS total FROM events GROUP BY user_id"),

    "q_topk_custom" ->
      ("SELECT * FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey " +
       "ORDER BY o_totalprice DESC, o_orderkey ASC) <= 3"),

    // ---- temporal ------------------------------------------------------
    "q_asof_join" -> (
      "SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts, c.click_id " +
      "FROM (SELECT event_id, user_id, ts FROM events " +
      "      WHERE event_type = 'purchase') p " +
      "ASOF LEFT JOIN (SELECT user_id, ts, event_id AS click_id FROM events " +
      "      WHERE event_type = 'click') c " +
      "ON p.user_id = c.user_id AND p.ts >= c.ts"),

    "q_range_join" -> (
      "SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts, c.event_id AS click_id " +
      "FROM (SELECT event_id, user_id, ts FROM events " +
      "      WHERE event_type = 'purchase') p " +
      "JOIN (SELECT event_id, user_id, ts FROM events " +
      "      WHERE event_type = 'click') c " +
      "ON p.user_id = c.user_id " +
      "AND epoch_us(p.ts) >= epoch_us(c.ts) " +
      "AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000"),

    // ---- sampling ------------------------------------------------------
    "q_sample_mod" ->
      "SELECT * FROM customer WHERE c_custkey % 100 < 10",
    "q_sample_stratified" ->
      ("SELECT * FROM documents " +
       "QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= 20"),
    // the md5 sampling contract is engine-portable by design: the same
    // decision string + lexicographic threshold, byte for byte. The hex
    // literals come from Sampling.thresholdHex — one source of truth.
    "q_sample_hash" ->
      ("SELECT * FROM customer WHERE " +
       "substr(md5('42::' || CAST(c_custkey AS VARCHAR)), 1, 15) < " +
       s"'${graft.operators.Sampling.thresholdHex(0.25)}'"),
    // exact-quota replay: per-group quota in integer math, selection by
    // the same (md5, key) ordering
    "q_sample_proportional" ->
      ("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
       "t AS (SELECT sum(n) AS total FROM c), " +
       "q AS (SELECT source, greatest(1, (100 * n) // total) AS quota " +
       "  FROM c, t), " +
       "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
       "  ORDER BY substr(md5('42::' || CAST(doc_id AS VARCHAR)), 1, 15), " +
       "  doc_id) AS rn FROM documents) " +
       "SELECT r.doc_id, r.source FROM r JOIN q USING (source) " +
       "WHERE r.rn <= q.quota"),
    // systematic weighted replay: md5-ordered integer cumulative cents,
    // a pick per stride boundary the row's weight interval crosses
    "q_sample_systematic" ->
      ("WITH e AS (SELECT o_orderkey, " +
       "  CAST(floor(o_totalprice * 100) AS BIGINT) AS w, " +
       "  CAST(concat('0x', substr(md5('42:sys:' || " +
       "  CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h " +
       "  FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0), " +
       "c AS (SELECT o_orderkey, w, CAST(sum(w) OVER (ORDER BY h, " +
       "  o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw FROM e), " +
       "t AS (SELECT greatest(CAST(sum(w) AS BIGINT) // 500, 1) " +
       "  AS stride FROM e) " +
       "SELECT o_orderkey, w AS w_cents, cw AS cum_cents, " +
       "CAST(cw // stride - (cw - w) // stride AS BIGINT) AS picks " +
       "FROM c CROSS JOIN t " +
       "WHERE cw // stride - (cw - w) // stride >= 1"),
    // thresholds embedded from the SAME double arithmetic as the query
    // (0.8 + 0.1 binds the float64 sum, not a 0.9 literal)
    "q_split_assign" ->
      ("SELECT doc_id, CASE " +
       s"WHEN h < '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train' " +
       s"WHEN h < '${graft.operators.Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val' " +
       "ELSE 'test' END AS split FROM (SELECT doc_id, " +
       "substr(md5('42::' || CAST(doc_id AS VARCHAR)), 1, 15) AS h " +
       "FROM documents)"),
    // forget audit: per-table totals + matched counts for the subject
    // key set (custkey ≡ 0 mod 97)
    "q_forget_report" -> (
      "WITH k AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k " +
      "  FROM customer WHERE c_custkey % 97 = 0) " +
      "SELECT 'customer' AS table_name, " +
      "CAST(count(*) AS BIGINT) AS rows_total, " +
      "CAST(count(CASE WHEN k.k IS NOT NULL THEN 1 END) AS BIGINT) " +
      "  AS rows_matched " +
      "FROM customer LEFT JOIN k ON CAST(c_custkey AS BIGINT) = k.k " +
      "UNION ALL " +
      "SELECT 'orders', CAST(count(*) AS BIGINT), " +
      "CAST(count(CASE WHEN k.k IS NOT NULL THEN 1 END) AS BIGINT) " +
      "FROM orders LEFT JOIN k ON CAST(o_custkey AS BIGINT) = k.k"),
    // rolling WAU: each (user, day) observation supports days d..d+6;
    // distinct support pairs counted per observed day
    "q_rolling_wau" -> (
      "WITH ud AS (SELECT DISTINCT user_id, " +
      "  epoch_us(ts) // 86400000000 AS d FROM events), " +
      "days AS (SELECT DISTINCT d AS day FROM ud), " +
      "sup AS (SELECT DISTINCT user_id, d + i AS day FROM ud, " +
      "  LATERAL (SELECT unnest(range(0, 7)) AS i)) " +
      "SELECT s.day, CAST(count(*) AS BIGINT) AS active_keys " +
      "FROM sup s JOIN days USING (day) GROUP BY 1"),
    // trending: per-day type ranks, previous-day self-join, delta
    "q_trending" -> (
      "WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
      "  event_type AS cat, CAST(count(*) AS BIGINT) AS n " +
      "  FROM events GROUP BY 1, 2), " +
      "r AS (SELECT day, cat, n, CAST(row_number() OVER (" +
      "  PARTITION BY day ORDER BY n DESC, cat ASC) AS BIGINT) AS rank " +
      "  FROM daily), " +
      "p AS (SELECT cat, day + 1 AS day, rank AS prev_rank FROM r) " +
      "SELECT r.day, r.cat, r.n, r.rank, p.prev_rank, " +
      "p.prev_rank - r.rank AS rank_delta " +
      "FROM r LEFT JOIN p ON p.day = r.day AND p.cat = r.cat"),
    // life table: churned = lifetimes equal to k, at_risk = lifetimes
    // >= k (reverse cumulative), hazard in truncating ppm
    "q_survival_hazard" -> (
      "WITH life AS (SELECT user_id, " +
      "  max(epoch_us(ts) // 86400000000) - " +
      "  min(epoch_us(ts) // 86400000000) AS lt FROM events GROUP BY 1), " +
      "b AS (SELECT lt AS day_offset, CAST(count(*) AS BIGINT) AS churned " +
      "  FROM life GROUP BY 1) " +
      "SELECT day_offset, " +
      "CAST(sum(churned) OVER (ORDER BY day_offset DESC " +
      "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
      "  AS at_risk, churned, " +
      "churned * 1000000 // CAST(sum(churned) OVER (ORDER BY day_offset " +
      "  DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
      "  AS hazard_ppm FROM b"),
    // per-user inter-arrival gaps on the µs axis, reported in whole
    // seconds with a truncating mean
    "q_interarrival" -> (
      "WITH g AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) " +
      "  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) " +
      "  AS gap FROM events) " +
      "SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps, " +
      "CAST(sum(gap) // (1000000 * count(gap)) AS BIGINT) AS mean_gap_s, " +
      "CAST(min(gap) // 1000000 AS BIGINT) AS min_gap_s, " +
      "CAST(max(gap) // 1000000 AS BIGINT) AS max_gap_s " +
      "FROM g WHERE gap IS NOT NULL GROUP BY 1"),
    // second-order Markov: lead(2) over each user's (ts, event_id)
    // stream, normalized per from-state in truncating ppm
    "q_markov_2step" -> (
      "WITH seq AS (SELECT user_id, event_type AS from_state, " +
      "  lead(event_type, 2) OVER (PARTITION BY user_id " +
      "    ORDER BY epoch_us(ts), event_id) AS to_state FROM events), " +
      "c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n " +
      "  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2), " +
      "tot AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS t " +
      "  FROM c GROUP BY 1) " +
      "SELECT c.from_state, c.to_state, c.n, c.n * 1000000 // t.t AS p_ppm " +
      "FROM c JOIN tot t USING (from_state)"),
    // Gini split gain: exact-integer impurity replay over the
    // (feature, label) domain counts
    "q_gini_gain" -> (
      "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), " +
      "cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents " +
      "  GROUP BY 1), " +
      "g0 AS (SELECT 1000000 - CAST(sum(c * c) AS BIGINT) * 1000000 " +
      "  // (any_value(nn.n) * any_value(nn.n)) AS gini_ppm FROM cls, nn), " +
      "vc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c " +
      "  FROM documents GROUP BY 1, 2), " +
      "vg AS (SELECT source, CAST(sum(c) AS BIGINT) AS nv, " +
      "  1000000 - CAST(sum(c * c) AS BIGINT) * 1000000 " +
      "  // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS gv " +
      "  FROM vc GROUP BY 1), " +
      "w AS (SELECT CAST(sum(nv * gv) AS BIGINT) // any_value(nn.n) " +
      "  AS weighted_gini_ppm FROM vg, nn) " +
      "SELECT nn.n, g0.gini_ppm, w.weighted_gini_ppm, " +
      "g0.gini_ppm - w.weighted_gini_ppm AS gain_ppm FROM nn, g0, w"),
    // phrase search: plain substring scan is a valid oracle for the
    // index-probed operator (same result set by construction)
    "q_phrase_search" -> (
      "WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents) " +
      "SELECT doc_id, CAST((length(t) - length(replace(t, " +
      "'window stream', ''))) // length('window stream') AS BIGINT) " +
      "AS n_occurrences FROM lt WHERE contains(t, 'window stream')"),
    // k-per-group sample: same md5 order, QUALIFY row_number <= 3
    "q_sample_per_group" -> (
      "SELECT source, doc_id FROM documents " +
      "QUALIFY row_number() OVER (PARTITION BY source ORDER BY " +
      "substr(md5('42:pergroup:' || CAST(doc_id AS VARCHAR)), 1, 15) ASC, " +
      "doc_id ASC) <= 3"),
    // per-doc novelty: shingle first-occurrence (min doc) share, the
    // same string-shingle CTEs the jaccard oracles use (counts agree
    // with the hashed-shingle kernel — collision-free at 52 bits)
    "q_novelty" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
      "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "fst AS (SELECT sh, CAST(min(doc_id) AS BIGINT) AS first_doc " +
      "  FROM sh GROUP BY 1), " +
      "pd AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, " +
      "  CAST(count(CASE WHEN f.first_doc = s.doc_id THEN 1 END) AS BIGINT) " +
      "    AS n_novel FROM sh s JOIN fst f ON f.sh = s.sh GROUP BY 1) " +
      "SELECT d.doc_id, CAST(coalesce(p.n_shingles, 0) AS BIGINT) " +
      "  AS n_shingles, " +
      "CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel, " +
      "CASE WHEN p.n_shingles > 0 THEN p.n_novel * 1000000 // p.n_shingles " +
      "ELSE 0 END AS novelty_ppm " +
      "FROM documents d LEFT JOIN pd p ON p.doc_id = d.doc_id"),
    // Zipf coverage replay: full-rank window is fine oracle-side
    // (cutoffs <= 20 make it equal to the operator's bounded top-k)
    "q_vocab_coverage" -> (
      "WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(" +
      "lower(trim(text)), '\\s+'), t -> t != '')) AS tok FROM documents), " +
      "tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok " +
      "  GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, " +
      "  CAST(count(*) AS BIGINT) AS n_types FROM tf), " +
      "rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) " +
      "  AS r FROM tf), " +
      "cuts AS (SELECT unnest([5, 10, 20]) AS k) " +
      "SELECT CAST(k AS BIGINT) AS k, t.n_types, t.total, " +
      "CAST(coalesce(sum(CASE WHEN r <= k THEN cnt END), 0) AS BIGINT) " +
      "  AS covered, " +
      "CAST(coalesce(sum(CASE WHEN r <= k THEN cnt END), 0) AS BIGINT) " +
      "  * 1000000 // t.total AS coverage_ppm " +
      "FROM cuts, rk, tot t GROUP BY 1, 2, 3"),
    // cluster-aware split: the q_dedup_corpus component replay, then
    // the standard md5 split rule applied to the COMPONENT id
    "q_split_leakage_free" -> (
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
      "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jp AS (SELECT id_a, id_b FROM cp JOIN sz x ON x.doc_id = id_a " +
      "  JOIN sz y ON y.doc_id = id_b " +
      "  WHERE common * 1.0 / (x.sz + y.sz - common) >= 0.5), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM jp " +
      "  UNION SELECT id_b, id_a FROM jp), " +
      "reach AS (SELECT src, dst FROM edges " +
      "  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "comp AS (SELECT src AS id, least(src, min(dst)) AS component " +
      "  FROM reach GROUP BY src), " +
      "m AS (SELECT d.doc_id, CAST(coalesce(c.component, d.doc_id) AS BIGINT) " +
      "  AS component FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
      "hx AS (SELECT doc_id, component, " +
      "  substr(md5('42:split:' || CAST(component AS VARCHAR)), 1, 15) AS h " +
      "  FROM m) " +
      "SELECT doc_id, component, CASE " +
      s"WHEN h < '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train' " +
      s"WHEN h < '${graft.operators.Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val' " +
      "ELSE 'test' END AS split FROM hx"),
    // correlated key-sample join-size estimate: same md5 membership,
    // same integer scale-up
    "q_join_size_est" -> (
      "WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c " +
      "  FROM events GROUP BY 1), " +
      "ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_size FROM f), " +
      "s AS (SELECT c FROM f WHERE CAST(concat('0x', " +
      "  substr(md5('js:' || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) " +
      "  % 8 = 0), " +
      "est AS (SELECT CAST(coalesce(sum(c * c), 0) * 8 AS BIGINT) " +
      "  AS est_size, CAST(count(*) AS BIGINT) AS n_sampled FROM s) " +
      "SELECT ex.exact_size, est.est_size, est.n_sampled, " +
      "CASE WHEN ex.exact_size > 0 THEN " +
      "abs(est.est_size - ex.exact_size) * 1000000 // ex.exact_size END " +
      "  AS err_ppm FROM ex, est"),
    // the salted two-stage aggregate must equal the plain groupBy
    "q_skew_salted_agg" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    // the salt must not change the result: plain inner join
    "q_skew_salted_join" -> (
      "SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment " +
      "FROM orders JOIN customer ON o_custkey = c_custkey"),
    // Morton replay: unrolled shift-and-or over the 31-bit domain
    "q_zorder_key" -> {
      def morton(x: String, y: String) = (0 until 31).map(i =>
        s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      "SELECT event_id, CAST(" + morton("user_id", "event_id") +
        " AS BIGINT) AS z FROM events"
    },
    // N-dim Morton replay: 3 dims x 20 bits, bit i of dim d at i*3+d;
    // ((x % m) + m) % m replicates Spark's pmod on a possibly-negative
    // cents dim
    "q_zorder_key3" -> {
      val m = 1048576L
      def nneg(x: String) = s"(((($x) % $m) + $m) % $m)"
      val dims = Seq(nneg("CAST(user_id AS BIGINT)"),
        nneg("CAST(event_id AS BIGINT)"),
        nneg("CAST(floor(value * 100) AS BIGINT)"))
      val terms = for (i <- 0 until 20; d <- dims.indices)
        yield s"(((d$d >> $i) & 1) << ${i * 3 + d})"
      "WITH dd AS (SELECT event_id, " +
        dims.zipWithIndex.map { case (e, d) => s"$e AS d$d" }.mkString(", ") +
        " FROM events) " +
        s"SELECT event_id, CAST(${terms.mkString(" + ")} AS BIGINT) AS z FROM dd"
    },
    "q_mix_weighted" ->
      ("SELECT doc_id AS id, 'docs' AS __source FROM documents WHERE " +
       "substr(md5('42:docs:' || CAST(doc_id AS VARCHAR)), 1, 15) < " +
       s"'${graft.operators.Sampling.thresholdHex(0.5)}' " +
       "UNION ALL " +
       "SELECT event_id AS id, 'events' AS __source FROM events WHERE " +
       "substr(md5('42:events:' || CAST(event_id AS VARCHAR)), 1, 15) < " +
       s"'${graft.operators.Sampling.thresholdHex(0.1)}'"),

    // ---- text analysis ------------------------------------------------
    "q_token_count" -> (
      "SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
      "len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens " +
      "FROM documents"),
    "q_text_quality" -> (
      s"SELECT doc_id, round($qAlphaSql, 6) AS alpha_ratio, " +
      s"round($qPunctSql, 6) AS punct_ratio, round($qStopSql, 6) AS stopword_ratio, " +
      s"round($qQualitySql, 6) AS quality FROM documents"),
    // the curation spine: each stage's oracle fragment composed over
    // the previous stage's output (normalize feeds the fingerprint,
    // the quality fragments read the NORMALIZED text — ratios change
    // when whitespace collapses, so applying them to raw text would be
    // wrong), then the portable md5 sampling contract
    "q_curation_pipeline" -> (
      "WITH docs2 AS (SELECT doc_id, source, " +
      "trim(regexp_replace(regexp_replace(nfc_normalize(text), " +
      "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), " +
      "'[ \\t\\n\\r]+', ' ', 'g')) AS text FROM documents), " +
      "dd AS (SELECT doc_id, source, text, " +
      "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp " +
      "FROM docs2), " +
      "keep AS (SELECT doc_id, source, text FROM dd QUALIFY " +
      "row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1), " +
      s"gated AS (SELECT doc_id, source, text FROM keep WHERE ($qNtokSql) " +
      s"BETWEEN 20 AND 1000 AND round($qQualitySql, 6) >= 0.55) " +
      "SELECT doc_id, source, text FROM gated WHERE " +
      "substr(md5('42::' || CAST(doc_id AS VARCHAR)), 1, 15) < " +
      s"'${graft.operators.Sampling.thresholdHex(0.5)}'"),
    // utf8proc NFC on the DuckDB side vs java.text.Normalizer on the
    // Spark side — same Unicode composition tables; the planted
    // decomposed suffix (chr(769)/chr(778)/chr(8491)) must compose
    // identically, and the strip/collapse classes are spelled out
    // explicitly in both engines (no \s)
    "q_text_normalize" -> (
      "SELECT doc_id, trim(regexp_replace(regexp_replace(" +
      "nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778) || " +
      "' ' || chr(8491)), " +
      "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), " +
      "'[ \\t\\n\\r]+', ' ', 'g')) AS text_norm FROM documents"),
    // entropy terms floored to 1e6-scaled longs PER WORD and summed as
    // integers (order-free); ttr is one exact-int division, unrounded
    "q_diversity" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts FROM documents), " +
      "w AS (SELECT doc_id, unnest(ts) AS w FROM tok), " +
      "n AS (SELECT doc_id, len(ts) AS n FROM tok), " +
      "cnt AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2), " +
      "e AS (SELECT cnt.doc_id, count(*) AS d, " +
      "  sum(CAST(floor(1e6 * ((c * 1.0 / n.n) * ln(c * 1.0 / n.n)) + 0.5) " +
      "      AS BIGINT)) AS s " +
      "  FROM cnt JOIN n ON cnt.doc_id = n.doc_id GROUP BY 1) " +
      "SELECT d.doc_id, CAST(coalesce(n.n, 0) AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(e.d, 0) AS BIGINT) AS n_distinct, " +
      "CAST(coalesce(-e.s, 0) AS BIGINT) AS entropy_scaled, " +
      "CASE WHEN coalesce(n.n, 0) = 0 THEN 0.0 ELSE " +
      "CAST(e.d AS DOUBLE) / n.n END AS ttr " +
      "FROM documents d LEFT JOIN n ON d.doc_id = n.doc_id " +
      "LEFT JOIN e ON d.doc_id = e.doc_id"),
    "q_fingerprint_md5" -> (
      "SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp " +
      "FROM documents"),
    "q_fingerprint_rolling" -> rollingFpSql,
    // \s in the symbol class so regex-whitespace separates runs — the
    // kernel separates on the SAME regex-\s class (isWsRegex, unified
    // in r4), so this oracle is exact on any input, not just this
    // corpus.
    "q_token_count_bpe" -> (
      "SELECT doc_id, CAST(len(regexp_extract_all(text, " +
      "'[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]+')) AS INT) AS n_bpe_tokens " +
      "FROM documents"),
    // the full trained merge table replayed as a generated replace()
    // chain on the Sep-wrapped symbol representation (generated from
    // Bpe.default, same pattern as langIdSql: the oracle is DERIVED
    // from the kernel's static model, then executed independently)
    // word boundary spelled EXPLICITLY ([\x09-\x0D ]+ after stripping
    // non-ws controls) — RE2's \s excludes \x0B while the kernel's
    // Java \s includes it, so '\s+' here would diverge on vertical
    // tabs; this replays Bpe.pretokenize exactly (see its doc)
    "q_bpe_tokenize" -> (
      "WITH wd AS (SELECT doc_id, w FROM documents, LATERAL (" +
      "  SELECT unnest(regexp_split_to_array(regexp_replace(text, " +
      "'[\\x00-\\x08\\x0e-\\x1f]+', '', 'g'), '[\\x09-\\x0d ]+')) AS w) " +
      "  WHERE len(w) > 0), " +
      "tk AS (SELECT doc_id, unnest(string_split(trim(" +
      graft.functions.Bpe.mergeChainSql(graft.functions.Bpe.default, "w") +
      ", chr(31)), chr(31) || chr(31))) AS tok FROM wd), " +
      "ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "  CAST(sum(length(tok)) AS BIGINT) AS sum_chars, " +
      "  CAST(max(length(tok)) AS INT) AS max_chars FROM tk GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens, " +
      "CAST(COALESCE(a.sum_chars, 0) AS BIGINT) AS sum_chars, " +
      "CAST(COALESCE(a.max_chars, 0) AS INT) AS max_chars " +
      "FROM documents d LEFT JOIN ag a ON d.doc_id = a.doc_id"),

    // per-source fertility/compression roll-up of the q_bpe_tokenize
    // replay: same merge-chain tokens, same pretokenizer word count
    "q_bpe_fertility" -> (
      "WITH wd AS (SELECT doc_id, w FROM documents, LATERAL (" +
      "  SELECT unnest(regexp_split_to_array(regexp_replace(text, " +
      "'[\\x00-\\x08\\x0e-\\x1f]+', '', 'g'), '[\\x09-\\x0d ]+')) AS w) " +
      "  WHERE len(w) > 0), " +
      "tk AS (SELECT doc_id, unnest(string_split(trim(" +
      graft.functions.Bpe.mergeChainSql(graft.functions.Bpe.default, "w") +
      ", chr(31)), chr(31) || chr(31))) AS tok FROM wd), " +
      "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "  CAST(sum(length(tok)) AS BIGINT) AS sum_chars FROM tk GROUP BY 1), " +
      "pw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words " +
      "  FROM wd GROUP BY 1), " +
      "ag AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "  CAST(sum(coalesce(pw.n_words, 0)) AS BIGINT) AS n_words, " +
      "  CAST(sum(coalesce(pd.n_tokens, 0)) AS BIGINT) AS n_tokens, " +
      "  CAST(sum(coalesce(pd.sum_chars, 0)) AS BIGINT) AS n_chars " +
      "  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id " +
      "  LEFT JOIN pw ON d.doc_id = pw.doc_id GROUP BY 1) " +
      "SELECT source, n_docs, n_words, n_tokens, n_chars, " +
      "CASE WHEN n_words > 0 THEN n_tokens * 1000000 // n_words END " +
      "  AS fertility_ppm, " +
      "CASE WHEN n_tokens > 0 THEN n_chars * 1000000 // n_tokens END " +
      "  AS chars_per_token_ppm FROM ag"),
    // model-free invariants of ANY correct BPE apply: tokens tile the
    // word chars; the word count matches the shared pretokenizer
    // (same explicit separator class as q_bpe_tokenize — RE2 \s has
    // no \x0B; stripped set for sum_chars = controls + space, exactly
    // the chars pretokenize never lets into a word)
    "q_bpe_train_apply" -> (
      "SELECT doc_id, " +
      "CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, " +
      "'[\\x00-\\x08\\x0e-\\x1f]+', '', 'g'), '[\\x09-\\x0d ]+'), " +
      "x -> len(x) > 0)) AS INT) AS n_words, " +
      "CAST(length(regexp_replace(text, '[\\x00-\\x1f ]', '', 'g')) AS BIGINT) " +
      "AS sum_chars FROM documents"),

    "q_lang_id" -> langIdSql,

    // ---- dedup family --------------------------------------------------
    "q_dedup_exact" ->
      ("SELECT * FROM documents " +
       "QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1"),
    "q_dedup_fingerprint" ->
      ("SELECT * FROM documents QUALIFY row_number() OVER (PARTITION BY " +
       "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) ORDER BY doc_id) = 1"),
    "q_dedup_ngram_jaccard" -> exactJaccardSql,
    "q_dedup_yield_curve" -> dedupYieldSql,
    // cross-tier oracles: the prune-then-verify queries emit EXACT
    // n-gram jaccard for LSH/simhash candidates, so the exact-pairs SQL
    // is a true oracle wherever the pruner's recall is 1 (it is, on the
    // planted corpus — pinned in TextDedupSpec).
    "q_dedup_minhash" -> exactJaccardSql,
    "q_neardup_explain" -> nearDupExplainSql,
    // wedge-closure audit over the same exact >= 0.5 pair set
    "q_dedup_transitivity" -> (
      s"WITH $jaccardCtesSql, " +
      "pr AS (SELECT id_a, id_b FROM jj), " +
      "ud AS (SELECT id_a AS m, id_b AS e FROM pr " +
      "  UNION ALL SELECT id_b, id_a FROM pr), " +
      "wdg AS (SELECT u1.e AS x, u2.e AS y FROM ud u1 " +
      "  JOIN ud u2 ON u1.m = u2.m AND u1.e < u2.e), " +
      "cnt AS (SELECT CAST((SELECT count(*) FROM pr) AS BIGINT) AS n_pairs, " +
      "  CAST((SELECT count(*) FROM wdg) AS BIGINT) AS n_wedges, " +
      "  CAST((SELECT count(*) FROM wdg JOIN pr ON pr.id_a = wdg.x " +
      "    AND pr.id_b = wdg.y) AS BIGINT) AS n_closed) " +
      "SELECT n_pairs, n_wedges, n_closed, " +
      "n_closed * 1000000 // greatest(n_wedges, 1) AS closure_ppm " +
      "FROM cnt"),
    // Fellegi-Sunter replica: same three comparators, same fixed ppm
    // weights, same nation blocking and id_a < id_b triangle
    "q_linkage_em" -> linkageEmOracle,
    "q_linkage_score" -> linkageScoreOracle,
    // the SQL-surface twin runs the same pairs/weights/threshold
    "q_linkage_score_sql" -> linkageScoreOracle,
    // three-way decision triage per agreement pattern
    "q_linkage_triage" ->
      (s"WITH $linkagePairCtes " +
       "SELECT pattern, CASE WHEN score_ppm >= 550000 THEN 'link' " +
       "  WHEN score_ppm >= 300000 THEN 'possible' ELSE 'nonlink' END " +
       "  AS decision, " +
       "CAST(count(*) AS BIGINT) AS n_pairs, " +
       "CAST(max(score_ppm) AS BIGINT) AS score_ppm " +
       "FROM p GROUP BY 1, 2"),
    // entity clusters: min-reachable-id labels over the links
    "q_linkage_entities" -> linkageEntitiesOracle,
    // star clusters: min over the CLOSED NEIGHBORHOOD, no closure
    "q_linkage_star" ->
      (s"WITH $linkagePairCtes, " +
       "lk AS (SELECT id_a, id_b FROM p WHERE score_ppm >= 550000), " +
       "e AS (SELECT id_a AS m, id_b AS e FROM lk " +
       "  UNION ALL SELECT id_b, id_a FROM lk) " +
       "SELECT CAST(least(min(e), m) AS BIGINT) AS cluster_id, " +
       "CAST(m AS BIGINT) AS id FROM e GROUP BY m"),
    // incremental linkage over the 80/20 split must EQUAL the full
    // batch re-run over the union — the quotient-graph parity the
    // operator's scaladoc proves, so the oracle IS the entities oracle
    "q_linkage_incremental" -> linkageEntitiesOracle,
    // graded-string linkage: same levenshtein band + exact fields and
    // fixed ppm weights as the Spark side, over the typo'd injection
    "q_linkage_fuzzy" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer UNION ALL " +
       "  SELECT c_custkey + 1000000000, " +
       "  concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "  c_nationkey, c_mktsegment FROM customer " +
       "  WHERE c_custkey % 10 = 0), " +
       "c AS (SELECT c_custkey AS id, " +
       "  substr(c_name, 1, length(c_name) - 2) AS blk, " +
       "  c_name AS nm, c_nationkey AS nat, c_mktsegment AS seg " +
       "  FROM base), " +
       "p AS (SELECT a.id AS id_a, b.id AS id_b, " +
       "  concat(" +
       "    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN levenshtein(a.nm, b.nm) <= 2 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // sorted-neighborhood: global rank by (name, id), pairs = the 11
    // rank-successors of each record, same comparators/weights as the
    // fuzzy scorer; id_a = the lower-ranked record (the operator's
    // orientation, score symmetric)
    "q_linkage_sorted_nbhd" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer UNION ALL " +
       "  SELECT c_custkey + 1000000000, " +
       "  concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "  c_nationkey, c_mktsegment FROM customer " +
       "  WHERE c_custkey % 10 = 0), " +
       "r AS (SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nat, " +
       "  c_mktsegment AS seg, " +
       "  row_number() OVER (ORDER BY c_name, c_custkey) AS rk " +
       "  FROM base), " +
       "p AS (SELECT a.id AS id_a, b.id AS id_b, " +
       "  concat(" +
       "    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN levenshtein(a.nm, b.nm) <= 2 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 11) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // Damerau-Levenshtein linkage: DuckDB's native damerau_levenshtein
    // is the kernel's pinned reference (Lowrance-Wagner, byte-based);
    // the swapped-last-two-chars injection keeps the block key intact
    "q_linkage_dl" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer UNION ALL " +
       "  SELECT c_custkey + 1000000000, " +
       "  concat(substr(c_name, 1, length(c_name) - 2), " +
       "    substr(c_name, length(c_name), 1), " +
       "    substr(c_name, length(c_name) - 1, 1)), " +
       "  c_nationkey, c_mktsegment FROM customer " +
       "  WHERE c_custkey % 10 = 0), " +
       "c AS (SELECT c_custkey AS id, " +
       "  substr(c_name, 1, length(c_name) - 2) AS blk, " +
       "  c_name AS nm, c_nationkey AS nat, c_mktsegment AS seg " +
       "  FROM base), " +
       "p AS (SELECT a.id AS id_a, b.id AS id_b, " +
       "  concat(" +
       "    CASE WHEN damerau_levenshtein(a.nm, b.nm) <= 1 " +
       "      THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN damerau_levenshtein(a.nm, b.nm) <= 1 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // Jaro-Winkler graded linkage: DuckDB's native
    // jaro_winkler_similarity IS the kernel's reference
    // implementation (bit-identical by JwParitySpec), so the band
    // decision replays with no tolerance
    "q_linkage_jw" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer UNION ALL " +
       "  SELECT c_custkey + 1000000000, " +
       "  concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "  c_nationkey, c_mktsegment FROM customer " +
       "  WHERE c_custkey % 10 = 0), " +
       "c AS (SELECT c_custkey AS id, " +
       "  substr(c_name, 1, length(c_name) - 2) AS blk, " +
       "  c_name AS nm, c_nationkey AS nat, c_mktsegment AS seg " +
       "  FROM base), " +
       "p AS (SELECT a.id AS id_a, b.id AS id_b, " +
       "  concat(" +
       "    CASE WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.9 " +
       "      THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.9 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // survivorship golden records over the resolved entities
    "q_linkage_golden" ->
      (s"WITH RECURSIVE $linkagePairCtes, $linkageEntityCtes, " +
       "mem AS (SELECT ent.entity_id, ent.id, cu.c_mktsegment, " +
       "  CAST(floor(cu.c_acctbal * 100) AS BIGINT) AS bal " +
       "  FROM ent JOIN customer cu ON cu.c_custkey = ent.id), " +
       "segp AS (SELECT entity_id, seg FROM (SELECT entity_id, " +
       "  c_mktsegment AS seg, row_number() OVER (PARTITION BY entity_id " +
       "  ORDER BY count(*) DESC, c_mktsegment) AS rn " +
       "  FROM mem GROUP BY entity_id, c_mktsegment) WHERE rn = 1), " +
       // latest-non-null balance by member id, ts ties to the larger
       // value — the goldenRecords recency rule replayed
       "recp AS (SELECT entity_id, bal AS bal_cents_latest FROM " +
       "  (SELECT entity_id, bal, row_number() OVER " +
       "    (PARTITION BY entity_id ORDER BY id DESC, bal DESC) AS rn " +
       "   FROM mem WHERE bal IS NOT NULL) WHERE rn = 1), " +
       "agg AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members, " +
       "  CAST(max(bal) AS BIGINT) AS bal_cents_max FROM mem GROUP BY 1) " +
       "SELECT a.entity_id, a.n_members, s.seg, a.bal_cents_max, " +
       "r.bal_cents_latest, cu.c_name AS rep_name " +
       "FROM agg a JOIN segp s USING (entity_id) " +
       "LEFT JOIN recp r USING (entity_id) " +
       "JOIN customer cu ON cu.c_custkey = a.entity_id"),
    // rare-category consolidation: ppm shares against the broadcast
    // total, sub-threshold nations merged into __OTHER__
    "q_rare_merge" ->
      ("WITH c AS (SELECT CAST(c_nationkey AS VARCHAR) AS cat, " +
       "  CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1), " +
       "t AS (SELECT greatest(CAST(sum(n) AS BIGINT), 1) AS t FROM c), " +
       "m AS (SELECT CASE WHEN n * 1000000 // t >= 40000 THEN cat " +
       "  ELSE '__OTHER__' END AS category, n, t FROM c CROSS JOIN t) " +
       "SELECT category, CAST(sum(n) AS BIGINT) AS n_rows, " +
       "CAST(sum(n) AS BIGINT) * 1000000 // max(t) AS share_ppm " +
       "FROM m GROUP BY 1"),
    // Cramér's V over segment x nation: full chi-square replica (the
    // operator's two-step cell division), then V from the same
    // two-step quotient and an IEEE sqrt floor; the pre CTE replays
    // chiSquareSampled's self-disabling exactness guard (all-keep
    // while N <= 4e4 — identical integers in both engines)
    "q_cramers_v" ->
      ("WITH nn AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS nn " +
       "  FROM customer), " +
       "pre AS (SELECT c_mktsegment, c_nationkey FROM customer CROSS JOIN nn " +
       "  WHERE CAST(concat('0x', substr(md5(concat('" +
       s"${graft.fakegen.FakeGen.DefaultSeed}:chi2:', " +
       "  CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) " +
       s"  < ${40000L * 4294967296L} // nn), " +
       "cells AS (SELECT c_mktsegment AS a, c_nationkey AS b, " +
       "  CAST(count(*) AS BIGINT) AS o FROM pre GROUP BY 1, 2), " +
       "rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1), " +
       "ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1), " +
       "tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells), " +
       "grid AS (SELECT rt.r, ct.c, coalesce(cells.o, 0) AS o " +
       "  FROM rt CROSS JOIN ct LEFT JOIN cells " +
       "  ON cells.a = rt.a AND cells.b = ct.b), " +
       "term AS (SELECT (o * n - r * c) AS d, (r * c * n) AS m " +
       "  FROM grid CROSS JOIN tot), " +
       "lv AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS al, " +
       "  CAST(count(DISTINCT b) AS BIGINT) AS bl FROM cells), " +
       "s AS (SELECT CAST(sum((d * d // m) * 1000000 + " +
       "  ((d * d) % m) * 1000000 // m) AS BIGINT) AS chi2_ppm FROM term), " +
       "f AS (SELECT n, (al - 1) * (bl - 1) AS dof, chi2_ppm, " +
       "  n * greatest(least(al, bl) - 1, 1) AS m2 " +
       "  FROM tot CROSS JOIN lv CROSS JOIN s) " +
       "SELECT n, dof, chi2_ppm, " +
       "CAST(floor(sqrt(CAST((chi2_ppm // m2) * 1000000 + " +
       "  (chi2_ppm % m2) * 1000000 // m2 AS DOUBLE))) AS BIGINT) AS v_ppm " +
       "FROM f"),
    // rank-based Gini per event type with the operator's three-branch
    // self-switching ppm division
    "q_gini" ->
      ("WITH e AS (SELECT event_type AS g, " +
       "  CAST(floor(value * 100) AS BIGINT) AS x, event_id " +
       "  FROM events WHERE value >= 0), " +
       "r AS (SELECT g, x, CAST(row_number() OVER (PARTITION BY g " +
       "  ORDER BY x, event_id) AS BIGINT) AS rk FROM e), " +
       "a AS (SELECT g, CAST(count(*) AS BIGINT) AS n, " +
       "  CAST(sum(x) AS BIGINT) AS sx, " +
       "  CAST(sum(rk * x) AS BIGINT) AS srx FROM r GROUP BY 1), " +
       "f AS (SELECT g, n, sx, 2 * srx - (n + 1) * sx AS num, " +
       "  n * sx AS den FROM a) " +
       "SELECT g AS event_type, n, sx AS sum_cents, " +
       "CASE WHEN den <= 0 THEN 0 " +
       "WHEN den <= 9000000000000 THEN num * 1000000 // den " +
       "WHEN den <= 9000000000000000 THEN " +
       "  (num // den) * 1000000 + " +
       "  ((num % den) * 1000) // greatest(den // 1000, 1) " +
       "ELSE (num // den) * 1000000 + " +
       "  (num % den) // greatest(den // 1000000, 1) END AS gini_ppm " +
       "FROM f"),
    // Simpson concentration per source over languages: the without-
    // replacement sibling of HHI, same self-switching division
    "q_simpson" ->
      ("WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nn " +
       "  FROM documents GROUP BY 1, 2), " +
       "g AS (SELECT source, CAST(sum(nn) AS BIGINT) AS n, " +
       "  CAST(count(DISTINCT lang) AS BIGINT) AS k_categories, " +
       "  CAST(sum(nn * (nn - 1)) AS BIGINT) AS ss FROM c GROUP BY 1) " +
       "SELECT source, n, k_categories, " +
       "CASE WHEN n < 2 THEN 0 " +
       "WHEN n <= 3000000 THEN ss * 1000000 // (n * (n - 1)) " +
       "ELSE (ss // (n * (n - 1))) * 1000000 + " +
       "  (ss % (n * (n - 1))) // greatest((n * (n - 1)) // 1000000, 1) " +
       "END AS simpson_ppm FROM g"),
    // blocking-quality audit: reduction ratio over block-count sums
    // (never materializing candidate pairs) + pair completeness of the
    // planted truth under the conjunctive name-prefix key
    "q_linkage_blocking_eval" ->
      ("WITH base AS (SELECT c_custkey, c_name FROM customer " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat(substr(c_name, 1, length(c_name) - 1), 'Z') " +
       "    FROM customer WHERE c_custkey % 10 = 0 " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat('X', substr(c_name, 2)) " +
       "    FROM customer WHERE c_custkey % 10 = 5), " +
       "k AS (SELECT c_custkey AS id, " +
       "  substr(c_name, 1, length(c_name) - 2) AS blk FROM base), " +
       "cand AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) " +
       "  AS n_candidate_pairs FROM " +
       "  (SELECT CAST(count(*) AS BIGINT) AS c FROM k GROUP BY blk)), " +
       "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM k), " +
       // canonical (least, greatest) + DISTINCT mirrors
       // blockingQuality's truth-pair canonicalization
       "tp AS (SELECT DISTINCT " +
       "  least(c_custkey, c_custkey + 1000000000) AS id_a, " +
       "  greatest(c_custkey, c_custkey + 1000000000) AS id_b " +
       "  FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 10 = 5), " +
       "cap AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, " +
       "  CAST(count(CASE WHEN ka.blk = kb.blk THEN 1 END) AS BIGINT) " +
       "  AS n_captured " +
       "  FROM tp JOIN k ka ON ka.id = tp.id_a " +
       "  JOIN k kb ON kb.id = tp.id_b) " +
       "SELECT n_records, n_candidate_pairs, n_true_pairs, n_captured, " +
       "CASE WHEN n_records < 2 THEN 1000000 " +
       "WHEN n_candidate_pairs <= 9000000000000 THEN " +
       "  1000000 - n_candidate_pairs * 1000000 // " +
       "  (n_records * (n_records - 1) // 2) " +
       "ELSE 1000000 - " +
       "  ((n_candidate_pairs // (n_records * (n_records - 1) // 2)) " +
       "  * 1000000 + (n_candidate_pairs % " +
       "  (n_records * (n_records - 1) // 2)) // " +
       "  greatest((n_records * (n_records - 1) // 2) // 1000000, 1)) " +
       "END AS reduction_ppm, " +
       "CASE WHEN n_true_pairs = 0 THEN 1000000 ELSE " +
       "  n_captured * 1000000 // n_true_pairs END AS completeness_ppm " +
       "FROM tot CROSS JOIN cand CROSS JOIN cap"),
    // multi-pass blocking: the UNION (deduped) of the prefix-pass and
    // suffix-pass pair sets, scored once per unique pair with the
    // fuzzy-linkage comparators — the suffix pass recovers the
    // first-char-typo pairs the prefix pass loses
    "q_linkage_multiblock" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "    c_nationkey, c_mktsegment FROM customer " +
       "    WHERE c_custkey % 10 = 0 " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat('X', substr(c_name, 2)), " +
       "    c_nationkey, c_mktsegment FROM customer " +
       "    WHERE c_custkey % 10 = 5), " +
       "c AS (SELECT c_custkey AS id, c_name AS nm, " +
       "  substr(c_name, 1, length(c_name) - 2) AS pre_blk, " +
       "  substr(c_name, 2) AS suf_blk, " +
       "  c_nationkey AS nat, c_mktsegment AS seg FROM base), " +
       // UNION (not ALL) = the cross-pass (id_a, id_b) dedup
       "pr AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b " +
       "  ON a.pre_blk = b.pre_blk AND a.id < b.id " +
       "  UNION " +
       "  SELECT a.id, b.id FROM c a JOIN c b " +
       "  ON a.suf_blk = b.suf_blk AND a.id < b.id), " +
       "p AS (SELECT pr.id_a, pr.id_b, " +
       "  concat(" +
       "    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN levenshtein(a.nm, b.nm) <= 2 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM pr JOIN c a ON a.id = pr.id_a JOIN c b ON b.id = pr.id_b) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // sorted-neighborhood audit: closed-form candidates (every record
    // pairs with its <= 11 rank successors), captured iff within 11
    // global ranks; same canonical truth + ppm finish as the blocking
    // audits
    "q_linkage_sn_eval" ->
      ("WITH base AS (SELECT c_custkey, c_name FROM customer " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat(substr(c_name, 1, length(c_name) - 1), 'Z') " +
       "    FROM customer WHERE c_custkey % 10 = 0 " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat('X', substr(c_name, 2)) " +
       "    FROM customer WHERE c_custkey % 10 = 5), " +
       "r AS (SELECT c_custkey AS id, " +
       "  row_number() OVER (ORDER BY c_name, c_custkey) AS rk FROM base), " +
       "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM r), " +
       "cand AS (SELECT CAST(CASE WHEN n_records >= 12 THEN " +
       "  n_records * 11 - 12 * 11 // 2 " +
       "  ELSE n_records * (n_records - 1) // 2 END AS BIGINT) " +
       "  AS n_candidate_pairs FROM tot), " +
       "tp AS (SELECT DISTINCT " +
       "  least(c_custkey, c_custkey + 1000000000) AS id_a, " +
       "  greatest(c_custkey, c_custkey + 1000000000) AS id_b " +
       "  FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 10 = 5), " +
       "cap AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, " +
       "  CAST(count(CASE WHEN abs(ra.rk - rb.rk) <= 11 THEN 1 END) " +
       "  AS BIGINT) AS n_captured " +
       "  FROM tp JOIN r ra ON ra.id = tp.id_a " +
       "  JOIN r rb ON rb.id = tp.id_b) " +
       "SELECT n_records, n_candidate_pairs, n_true_pairs, n_captured, " +
       "CASE WHEN n_records < 2 THEN 1000000 " +
       "WHEN n_candidate_pairs <= 9000000000000 THEN " +
       "  1000000 - n_candidate_pairs * 1000000 // " +
       "  (n_records * (n_records - 1) // 2) " +
       "ELSE 1000000 - " +
       "  ((n_candidate_pairs // (n_records * (n_records - 1) // 2)) " +
       "  * 1000000 + (n_candidate_pairs % " +
       "  (n_records * (n_records - 1) // 2)) // " +
       "  greatest((n_records * (n_records - 1) // 2) // 1000000, 1)) " +
       "END AS reduction_ppm, " +
       "CASE WHEN n_true_pairs = 0 THEN 1000000 ELSE " +
       "  n_captured * 1000000 // n_true_pairs END AS completeness_ppm " +
       "FROM tot CROSS JOIN cand CROSS JOIN cap"),
    // incremental sorted-neighborhood: rank over the MERGED order, the
    // usual 11-successor pairs, cut to pairs touching a batch id
    // (>= 1e9) — existing×existing pairs never regenerate
    "q_linkage_sn_incremental" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer UNION ALL " +
       "  SELECT c_custkey + 1000000000, " +
       "  concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "  c_nationkey, c_mktsegment FROM customer " +
       "  WHERE c_custkey % 10 = 0), " +
       "r AS (SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nat, " +
       "  c_mktsegment AS seg, " +
       "  row_number() OVER (ORDER BY c_name, c_custkey) AS rk " +
       "  FROM base), " +
       "p AS (SELECT a.id AS id_a, b.id AS id_b, " +
       "  concat(" +
       "    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN levenshtein(a.nm, b.nm) <= 2 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 11 " +
       "  WHERE a.id >= 1000000000 OR b.id >= 1000000000) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // hybrid disjunctive candidates: suffix-equality pairs UNION
    // (deduped, canonicalized to id_a < id_b) the sorted-neighborhood
    // rank pairs, scored once per unique pair with the fuzzy-linkage
    // comparators — each scheme recovers the typo class the other loses
    "q_linkage_hybrid" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "    c_nationkey, c_mktsegment FROM customer " +
       "    WHERE c_custkey % 10 = 0 " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat('X', substr(c_name, 2)), " +
       "    c_nationkey, c_mktsegment FROM customer " +
       "    WHERE c_custkey % 10 = 5), " +
       "c AS (SELECT c_custkey AS id, c_name AS nm, " +
       "  substr(c_name, 2) AS suf_blk, " +
       "  c_nationkey AS nat, c_mktsegment AS seg FROM base), " +
       "r AS (SELECT id, row_number() OVER (ORDER BY nm, id) AS rk " +
       "  FROM c), " +
       // UNION (not ALL) = the cross-scheme (id_a, id_b) dedup; the SN
       // leg canonicalizes its rank orientation to id order first
       "pr AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b " +
       "  ON a.suf_blk = b.suf_blk AND a.id < b.id " +
       "  UNION " +
       "  SELECT least(a.id, b.id), greatest(a.id, b.id) " +
       "  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 11), " +
       "p AS (SELECT pr.id_a, pr.id_b, " +
       "  concat(" +
       "    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN levenshtein(a.nm, b.nm) <= 2 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM pr JOIN c a ON a.id = pr.id_a JOIN c b ON b.id = pr.id_b) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // incremental hybrid: equality pairs (suffix block, >= 1 batch
    // side — batch×existing plus the batch triangle, never
    // existing×existing) UNION the incremental SN rank pairs, both
    // canonicalized to id_a < id_b and deduped before one scoring pass
    "q_linkage_hybrid_incremental" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_nationkey, " +
       "  c_mktsegment FROM customer " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat(substr(c_name, 1, length(c_name) - 1), 'Z'), " +
       "    c_nationkey, c_mktsegment FROM customer " +
       "    WHERE c_custkey % 10 = 0 " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat('X', substr(c_name, 2)), " +
       "    c_nationkey, c_mktsegment FROM customer " +
       "    WHERE c_custkey % 10 = 5), " +
       "c AS (SELECT c_custkey AS id, c_name AS nm, " +
       "  substr(c_name, 2) AS suf_blk, " +
       "  c_nationkey AS nat, c_mktsegment AS seg FROM base), " +
       "r AS (SELECT id, row_number() OVER (ORDER BY nm, id) AS rk " +
       "  FROM c), " +
       // equality front keeps only pairs touching a batch id (>= 1e9);
       // the SN front is the incremental batch-sided rank cut — UNION
       // (not ALL) is the cross-front canonical dedup
       "pr AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b " +
       "  ON a.suf_blk = b.suf_blk AND a.id < b.id " +
       "  WHERE a.id >= 1000000000 OR b.id >= 1000000000 " +
       "  UNION " +
       "  SELECT least(a.id, b.id), greatest(a.id, b.id) " +
       "  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 11 " +
       "  WHERE a.id >= 1000000000 OR b.id >= 1000000000), " +
       "p AS (SELECT pr.id_a, pr.id_b, " +
       "  concat(" +
       "    CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.nat = b.nat THEN 'A' ELSE 'D' END, " +
       "    CASE WHEN a.seg = b.seg THEN 'A' ELSE 'D' END) AS pattern, " +
       "  CAST(CASE WHEN levenshtein(a.nm, b.nm) <= 2 " +
       "      THEN 500000 ELSE -300000 END + " +
       "    CASE WHEN a.nat = b.nat THEN 370000 ELSE -160000 END + " +
       "    CASE WHEN a.seg = b.seg THEN 280000 ELSE -120000 END " +
       "    AS BIGINT) AS score_ppm " +
       "  FROM pr JOIN c a ON a.id = pr.id_a JOIN c b ON b.id = pr.id_b) " +
       "SELECT id_a, id_b, pattern, score_ppm FROM p " +
       "WHERE score_ppm >= 800000"),
    // hybrid audit: candidates = |suffix pairs ∪ SN pairs| (the dedup
    // the hybrid scorer actually scores), captured iff the suffix key
    // agrees OR the pair sits within 11 global ranks; same canonical
    // truth + ppm finish as the other blocking audits
    "q_linkage_hybrid_eval" ->
      ("WITH base AS (SELECT c_custkey, c_name FROM customer " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat(substr(c_name, 1, length(c_name) - 1), 'Z') " +
       "    FROM customer WHERE c_custkey % 10 = 0 " +
       "  UNION ALL SELECT c_custkey + 1000000000, " +
       "    concat('X', substr(c_name, 2)) " +
       "    FROM customer WHERE c_custkey % 10 = 5), " +
       "c AS (SELECT c_custkey AS id, c_name AS nm, " +
       "  substr(c_name, 2) AS suf_blk FROM base), " +
       "r AS (SELECT id, row_number() OVER (ORDER BY nm, id) AS rk " +
       "  FROM c), " +
       "pr AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b " +
       "  ON a.suf_blk = b.suf_blk AND a.id < b.id " +
       "  UNION " +
       "  SELECT least(a.id, b.id), greatest(a.id, b.id) " +
       "  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 11), " +
       "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM c), " +
       "cand AS (SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs " +
       "  FROM pr), " +
       "tp AS (SELECT DISTINCT " +
       "  least(c_custkey, c_custkey + 1000000000) AS id_a, " +
       "  greatest(c_custkey, c_custkey + 1000000000) AS id_b " +
       "  FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 10 = 5), " +
       "cap AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, " +
       "  CAST(count(CASE WHEN ca.suf_blk = cb.suf_blk " +
       "    OR abs(ra.rk - rb.rk) <= 11 THEN 1 END) " +
       "  AS BIGINT) AS n_captured " +
       "  FROM tp JOIN c ca ON ca.id = tp.id_a " +
       "  JOIN c cb ON cb.id = tp.id_b " +
       "  JOIN r ra ON ra.id = tp.id_a " +
       "  JOIN r rb ON rb.id = tp.id_b) " +
       "SELECT n_records, n_candidate_pairs, n_true_pairs, n_captured, " +
       "CASE WHEN n_records < 2 THEN 1000000 " +
       "WHEN n_candidate_pairs <= 9000000000000 THEN " +
       "  1000000 - n_candidate_pairs * 1000000 // " +
       "  (n_records * (n_records - 1) // 2) " +
       "ELSE 1000000 - " +
       "  ((n_candidate_pairs // (n_records * (n_records - 1) // 2)) " +
       "  * 1000000 + (n_candidate_pairs % " +
       "  (n_records * (n_records - 1) // 2)) // " +
       "  greatest((n_records * (n_records - 1) // 2) // 1000000, 1)) " +
       "END AS reduction_ppm, " +
       "CASE WHEN n_true_pairs = 0 THEN 1000000 ELSE " +
       "  n_captured * 1000000 // n_true_pairs END AS completeness_ppm " +
       "FROM tot CROSS JOIN cand CROSS JOIN cap"),
    // exact-ppm Herfindahl concentration per nation over segments,
    // with the operator's self-switching overflow-safe division
    "q_hhi" -> hhiOracle,
    // the pure-SQL twin (registered hhi_ppm function) shares the
    // operator query's oracle
    "q_hhi_sql" -> hhiOracle,
    // the SQL-registered comparators against DuckDB's NATIVE
    // jaro_similarity / jaro_winkler_similarity / damerau_levenshtein
    // — a genuinely independent oracle for the registration surface
    // (the kernels are pinned bit-identical, so floor(sim·1e6) matches
    // micro-for-micro)
    "q_comparator_sql" ->
      ("WITH p AS (SELECT c_custkey, c_name AS a, " +
       "  concat(substr(c_name, 1, length(c_name) - 1), 'Z') AS b, " +
       "  concat(substr(c_name, 1, length(c_name) - 2), " +
       "         substr(c_name, length(c_name), 1), " +
       "         substr(c_name, length(c_name) - 1, 1)) AS c " +
       "  FROM customer) " +
       "SELECT c_custkey, " +
       "CAST(floor(jaro_similarity(a, b) * 1000000) AS BIGINT) " +
       "  AS jaro_micro, " +
       "CAST(floor(jaro_winkler_similarity(a, b) * 1000000) AS BIGINT) " +
       "  AS jw_micro, " +
       "CAST(damerau_levenshtein(a, c) AS BIGINT) AS dl_dist " +
       "FROM p"),
    // apply-variant: per-row relabel against the same keep policy
    "q_rare_merge_apply" ->
      ("WITH c AS (SELECT CAST(c_nationkey AS VARCHAR) AS cat, " +
       "  CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1), " +
       "t AS (SELECT greatest(CAST(sum(n) AS BIGINT), 1) AS t FROM c), " +
       "k AS (SELECT cat FROM c CROSS JOIN t " +
       "  WHERE n * 1000000 // t >= 40000) " +
       "SELECT c_custkey, CASE WHEN EXISTS (SELECT 1 FROM k WHERE " +
       "  k.cat IS NOT DISTINCT FROM CAST(c_nationkey AS VARCHAR)) " +
       "  THEN CAST(c_nationkey AS VARCHAR) ELSE '__OTHER__' END " +
       "  AS c_nationkey FROM customer"),
    // NOT the exact-jaccard oracle: simhash prunes by HAMMING, and
    // true-jaccard pairs reach hamming 13 on this data
    // — the oracle replicates the pruner's exact semantics instead
    "q_dedup_simhash" -> simhashPrunedJaccardSql,
    "q_dedup_eval" -> simhashFlagRateSql,
    // KMV estimate (the kmv oracle's 52-bit md5 contract) next to the
    // exact distinct count, relative error in ppm
    "q_kmv_eval" -> (
      "WITH h AS (SELECT DISTINCT event_type, " +
      "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) " +
      "    AS BIGINT) AS h FROM events), " +
      "r AS (SELECT event_type, h, row_number() OVER " +
      "  (PARTITION BY event_type ORDER BY h) AS rn FROM h), " +
      "k AS (SELECT event_type, max(h) AS kth, count(*) AS n " +
      "  FROM r WHERE rn <= 32 GROUP BY event_type), " +
      "est AS (SELECT event_type, CASE WHEN n < 32 THEN n " +
      "  ELSE CAST(floor(CAST(31 AS DOUBLE) * " +
      "    CAST(4503599627370496 AS DOUBLE) / kth) AS BIGINT) END AS n_est " +
      "  FROM k), " +
      "ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) " +
      "  AS n_exact FROM events GROUP BY 1) " +
      "SELECT est.event_type, est.n_est, ex.n_exact, " +
      "CASE WHEN n_exact > 0 THEN abs(n_est - n_exact) * 1000000 // n_exact " +
      "  END AS err_ppm " +
      "FROM est JOIN ex USING (event_type)"),
    // quantile-sketch rank error: the sketch estimate's actual rank in
    // the corpus vs the integer target rank (ceil(n/2), ceil(9n/10))
    "q_sketch_eval" -> (
      "WITH h AS (SELECT event_type, value, " +
      "  CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) " +
      "    AS BIGINT) AS h FROM events), " +
      "r AS (SELECT event_type, value, row_number() OVER " +
      "  (PARTITION BY event_type ORDER BY h, value) AS rn FROM h), " +
      "est AS (SELECT event_type, " +
      "  round(quantile_cont(value, 0.5), 6) AS e50, " +
      "  round(quantile_cont(value, 0.9), 6) AS e90 " +
      "  FROM r WHERE rn <= 64 GROUP BY event_type) " +
      "SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST((count(*) + 1) // 2 AS BIGINT) AS rank_exact_p50, " +
      "CAST(count(CASE WHEN ev.value <= e.e50 THEN 1 END) AS BIGINT) " +
      "  AS rank_est_p50, " +
      "abs(count(CASE WHEN ev.value <= e.e50 THEN 1 END) " +
      "  - (count(*) + 1) // 2) * 1000000 // count(*) AS err_p50_ppm, " +
      "CAST((count(*) * 9 + 9) // 10 AS BIGINT) AS rank_exact_p90, " +
      "CAST(count(CASE WHEN ev.value <= e.e90 THEN 1 END) AS BIGINT) " +
      "  AS rank_est_p90, " +
      "abs(count(CASE WHEN ev.value <= e.e90 THEN 1 END) " +
      "  - (count(*) * 9 + 9) // 10) * 1000000 // count(*) AS err_p90_ppm " +
      "FROM events ev JOIN est e USING (event_type) " +
      "GROUP BY ev.event_type, e.e50, e.e90"),
    // cross-tier oracle: Spark dedups via minhash-LSH components; the
    // oracle dedups via EXACT jaccard pairs + recursive-CTE components.
    // They agree because the LSH tier recovers exactly the exact tier's
    // pairs on this corpus (cross-validated in q_dedup_minhash).
    "q_dedup_corpus" -> (
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
      "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jp AS (SELECT id_a, id_b FROM cp JOIN sz x ON x.doc_id = id_a " +
      "  JOIN sz y ON y.doc_id = id_b " +
      "  WHERE common * 1.0 / (x.sz + y.sz - common) >= 0.5), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM jp " +
      "  UNION SELECT id_b, id_a FROM jp), " +
      "reach AS (SELECT src, dst FROM edges " +
      "  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "comp AS (SELECT src AS id, least(src, min(dst)) AS component " +
      "  FROM reach GROUP BY src) " +
      "SELECT d.* FROM documents d WHERE d.doc_id NOT IN " +
      "(SELECT id FROM comp WHERE component != id)"),
    // same recursive-component replay as q_dedup_corpus (over the FULL
    // documents table, no split), but the survivor per component is
    // argmax(n_chars, id asc) instead of the minimum id
    "q_dedup_keep_best" -> (
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
      "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jp AS (SELECT id_a, id_b FROM cp JOIN sz x ON x.doc_id = id_a " +
      "  JOIN sz y ON y.doc_id = id_b " +
      "  WHERE common * 1.0 / (x.sz + y.sz - common) >= 0.5), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM jp " +
      "  UNION SELECT id_b, id_a FROM jp), " +
      "reach AS (SELECT src, dst FROM edges " +
      "  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "comp AS (SELECT src AS id, least(src, min(dst)) AS component " +
      "  FROM reach GROUP BY src), " +
      "rep AS (SELECT c.id, row_number() OVER (PARTITION BY c.component " +
      "  ORDER BY d.n_chars DESC, c.id ASC) AS rk " +
      "  FROM comp c JOIN documents d ON d.doc_id = c.id) " +
      "SELECT d.* FROM documents d WHERE d.doc_id NOT IN " +
      "(SELECT id FROM rep WHERE rk > 1)"),
    "q_dedup_embedding" -> (
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(c.cos, 6) AS cos " +
      "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id, " +
      "LATERAL (SELECT list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), " +
      "CAST(b.embedding AS DOUBLE[])) AS cos) c " +
      "WHERE c.cos >= 0.45"),
    // float32 nudge is bit-identical in both engines (IEEE single add);
    // cosine then runs in doubles on both sides (established recipe).
    "q_dedup_embedding_lsh" -> (
      "WITH aug AS (" +
      "  SELECT vec_id, embedding FROM embeddings " +
      "  UNION ALL " +
      "  SELECT vec_id + 100000, " +
      "    list_prepend(embedding[1] + CAST(0.05 AS FLOAT), embedding[2:]) " +
      "  FROM embeddings WHERE vec_id < 25" +
      ") " +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(c.cos, 6) AS cos " +
      "FROM aug a JOIN aug b ON a.vec_id < b.vec_id, " +
      "LATERAL (SELECT list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), " +
      "CAST(b.embedding AS DOUBLE[])) AS cos) c " +
      "WHERE c.cos >= 0.95"),

    // exact cross-split jaccard pairs decide contamination; survivors =
    // corpus docs with no >=0.5 partner in the reference split
    "q_decontaminate" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
      "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id >= 20 AND b.doc_id < 20 " +
      "  GROUP BY 1, 2), " +
      "bad AS (SELECT DISTINCT id_a FROM cp " +
      "  JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b " +
      "  WHERE common * 1.0 / (x.sz + y.sz - common) >= 0.5) " +
      "SELECT d.* FROM documents d WHERE d.doc_id >= 20 " +
      "AND d.doc_id NOT IN (SELECT id_a FROM bad)"),
    // any-shared-8-gram contamination: same tok CTE, width-8 windows
    // (i : i+7, end = len-6), whole-doc fallback under 8 tokens
    "q_decontaminate_exact" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 8 THEN " +
      "    array_to_string(ts[i:i+7], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 6, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "bad AS (SELECT DISTINCT a.doc_id AS id FROM sh a " +
      "  JOIN sh b ON a.sh = b.sh AND a.doc_id >= 20 AND b.doc_id < 20) " +
      "SELECT d.* FROM documents d WHERE d.doc_id >= 20 " +
      "AND d.doc_id NOT IN (SELECT id FROM bad)"),
    // same exact-jaccard verification as q_decontaminate, aggregated
    // per corpus source over the verified (doc, eval-item) pairs
    "q_contamination_report" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3 THEN " +
      "    array_to_string(ts[i:i+2], ' ') ELSE array_to_string(ts, ' ') END AS sh " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(ts) - 1, 2))) AS i) " +
      "  WHERE len(ts) > 0), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
      "  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id >= 20 AND b.doc_id < 20 " +
      "  GROUP BY 1, 2), " +
      "bad AS (SELECT id_a, id_b FROM cp " +
      "  JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b " +
      "  WHERE common * 1.0 / (x.sz + y.sz - common) >= 0.5) " +
      "SELECT d.source, count(DISTINCT b.id_a) AS n_docs_flagged, " +
      "count(*) AS n_matches " +
      "FROM bad b JOIN documents d ON d.doc_id = b.id_a GROUP BY d.source"),

    "q_dedup_embedding_corpus" -> embCorpusDedupSql,
    // cluster-bounded (SemDeDup) dedup shares the all-pairs oracle: on
    // this corpus every >=0.7 pair is a planted near-copy, and each
    // pair SHARES A PROBED CLUSTER under nprobe=2 soft assignment
    // (co-probing pinned at all three SFs in TextDedupSpec — hard
    // nprobe=1 assignment provably misses boundary pairs), so cluster
    // bounding drops nothing the all-pairs tier keeps; a recall
    // shortfall WOULD fail this hash check.
    "q_semantic_dedup" -> embCorpusDedupSql) ++ oracleSqlTail

  private val embCorpusDedupSql: String = (
      "WITH RECURSIVE aug AS (" +
      "  SELECT vec_id, embedding FROM embeddings " +
      "  UNION ALL " +
      "  SELECT vec_id + 100000, " +
      "    list_prepend(embedding[1] + CAST(0.05 AS FLOAT), embedding[2:]) " +
      "  FROM embeddings WHERE vec_id < 25" +
      "), jp AS (" +
      "  SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
      "  FROM aug a JOIN aug b ON a.vec_id < b.vec_id, " +
      "  LATERAL (SELECT list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), " +
      "  CAST(b.embedding AS DOUBLE[])) AS cos) c WHERE c.cos >= 0.7" +
      "), edges AS (SELECT id_a AS src, id_b AS dst FROM jp " +
      "  UNION SELECT id_b, id_a FROM jp" +
      "), reach AS (SELECT src, dst FROM edges " +
      "  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src" +
      "), comp AS (SELECT src AS id, least(src, min(dst)) AS component " +
      "  FROM reach GROUP BY src) " +
      "SELECT vec_id FROM aug WHERE vec_id NOT IN " +
      "(SELECT id FROM comp WHERE component != id)")

  private val oracleSqlTail: Map[String, String] = Map(

    // ---- similarity search ---------------------------------------------
    "q_ann_lsh" -> annTop1Sql,
    "q_ann_pq" -> annTop1Sql,
    "q_ann_ivf_pq" -> annTop1Sql,
    "q_ann_ivfpq_refine" -> annIvfPqRefineSql,
    // recall@10 of the int4-style (scale 7) integer-dot ranking vs the
    // exact cosine ranking over the planted queries; the quantized side
    // replays the SAME half-up quantizer and BIGINT dot as the operator
    "q_recall_at_k" -> (
      "WITH q AS (SELECT vec_id + 200000 AS query_id, " +
      "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
      "  FROM embeddings WHERE vec_id < 5), " +
      "ex AS (SELECT query_id, c.vec_id AS corpus_id, " +
      s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
      "    c.vec_id ASC) AS rank " +
      "  FROM q JOIN embeddings c ON query_id != c.vec_id " +
      "  QUALIFY rank <= 10), " +
      "q8 AS (SELECT query_id, list_transform(qv, x -> greatest(-7, " +
      "  least(7, CAST(floor(CAST(x AS DOUBLE)*7 + 0.5) AS BIGINT)))) AS qa " +
      "  FROM q), " +
      "c8 AS (SELECT vec_id, list_transform(embedding, x -> greatest(-7, " +
      "  least(7, CAST(floor(CAST(x AS DOUBLE)*7 + 0.5) AS BIGINT)))) AS ca " +
      "  FROM embeddings), " +
      "ax AS (SELECT query_id, vec_id AS corpus_id, " +
      "  CAST(list_sum(list_transform(range(1, len(qa) + 1), " +
      "    i -> qa[i] * ca[i])) AS BIGINT) AS dot " +
      "  FROM q8 JOIN c8 ON query_id != vec_id), " +
      "ar AS (SELECT query_id, corpus_id, " +
      "  row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, " +
      "    corpus_id ASC) AS rank FROM ax QUALIFY rank <= 10), " +
      "hits AS (SELECT e.query_id, count(*) AS n_hits FROM ex e " +
      "  JOIN ar a USING (query_id, corpus_id) GROUP BY 1), " +
      "den AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact " +
      "  FROM ex GROUP BY 1) " +
      "SELECT d.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, " +
      "d.n_exact, coalesce(h.n_hits, 0) * 1000000 // d.n_exact AS recall_ppm " +
      "FROM den d LEFT JOIN hits h USING (query_id)"),
    // RRF fusion replay: both top-20 rankings (exact cosine, scale-7
    // integer dot), per-list 1e6 // (60 + rank), summed and re-ranked
    "q_rrf_fusion" -> (
      "WITH q AS (SELECT vec_id + 200000 AS query_id, " +
      "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
      "  FROM embeddings WHERE vec_id < 5), " +
      "ex AS (SELECT query_id, c.vec_id AS corpus_id, " +
      s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
      "    c.vec_id ASC) AS rank " +
      "  FROM q JOIN embeddings c ON query_id != c.vec_id " +
      "  QUALIFY rank <= 20), " +
      "q8 AS (SELECT query_id, list_transform(qv, x -> greatest(-7, " +
      "  least(7, CAST(floor(CAST(x AS DOUBLE)*7 + 0.5) AS BIGINT)))) AS qa " +
      "  FROM q), " +
      "c8 AS (SELECT vec_id, list_transform(embedding, x -> greatest(-7, " +
      "  least(7, CAST(floor(CAST(x AS DOUBLE)*7 + 0.5) AS BIGINT)))) AS ca " +
      "  FROM embeddings), " +
      "ax AS (SELECT query_id, vec_id AS corpus_id, " +
      "  CAST(list_sum(list_transform(range(1, len(qa) + 1), " +
      "    i -> qa[i] * ca[i])) AS BIGINT) AS dot " +
      "  FROM q8 JOIN c8 ON query_id != vec_id), " +
      "ar AS (SELECT query_id, corpus_id, " +
      "  row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, " +
      "    corpus_id ASC) AS rank FROM ax QUALIFY rank <= 20), " +
      "u AS (SELECT query_id, corpus_id, 1000000 // (60 + rank) AS s " +
      "  FROM ex UNION ALL " +
      "  SELECT query_id, corpus_id, 1000000 // (60 + rank) FROM ar), " +
      "f AS (SELECT query_id, corpus_id, CAST(sum(s) AS BIGINT) " +
      "  AS rrf_score, CAST(count(*) AS BIGINT) AS n_lists " +
      "  FROM u GROUP BY 1, 2) " +
      "SELECT query_id, corpus_id, rrf_score, n_lists, " +
      "CAST(row_number() OVER (PARTITION BY query_id " +
      "  ORDER BY rrf_score DESC, corpus_id ASC) AS INT) AS rank " +
      "FROM f QUALIFY rank <= 10"),
    // Kendall tau of the quantized int-dot ranking vs the exact cosine
    // ranking over the shared top-20 items: sign sums over the
    // per-query pair frame, magnitude-divided ppm (negative numerators
    // never divide — Spark truncation == DuckDB floor)
    "q_kendall_tau" -> (
      "WITH q AS (SELECT vec_id + 200000 AS query_id, " +
      "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
      "  FROM embeddings WHERE vec_id < 5), " +
      "ex AS (SELECT query_id, c.vec_id AS corpus_id, " +
      s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
      "    c.vec_id ASC) AS rank " +
      "  FROM q JOIN embeddings c ON query_id != c.vec_id " +
      "  QUALIFY rank <= 20), " +
      "q8 AS (SELECT query_id, list_transform(qv, x -> greatest(-7, " +
      "  least(7, CAST(floor(CAST(x AS DOUBLE)*7 + 0.5) AS BIGINT)))) AS qa " +
      "  FROM q), " +
      "c8 AS (SELECT vec_id, list_transform(embedding, x -> greatest(-7, " +
      "  least(7, CAST(floor(CAST(x AS DOUBLE)*7 + 0.5) AS BIGINT)))) AS ca " +
      "  FROM embeddings), " +
      "ax AS (SELECT query_id, vec_id AS corpus_id, " +
      "  CAST(list_sum(list_transform(range(1, len(qa) + 1), " +
      "    i -> qa[i] * ca[i])) AS BIGINT) AS dot " +
      "  FROM q8 JOIN c8 ON query_id != vec_id), " +
      "ar AS (SELECT query_id, corpus_id, " +
      "  row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, " +
      "    corpus_id ASC) AS rank FROM ax QUALIFY rank <= 20), " +
      "j AS (SELECT ex.query_id, ex.corpus_id, " +
      "  CAST(ex.rank AS BIGINT) AS ra, CAST(ar.rank AS BIGINT) AS rb " +
      "  FROM ex JOIN ar ON ex.query_id = ar.query_id " +
      "  AND ex.corpus_id = ar.corpus_id), " +
      "m AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_items " +
      "  FROM j GROUP BY 1), " +
      "p AS (SELECT x.query_id, " +
      "  CAST(sign((x.ra - y.ra) * (x.rb - y.rb)) AS BIGINT) AS s " +
      "  FROM j x JOIN j y ON x.query_id = y.query_id " +
      "  AND x.corpus_id < y.corpus_id), " +
      "c AS (SELECT query_id, CAST(sum(s) AS BIGINT) AS cd " +
      "  FROM p GROUP BY 1) " +
      "SELECT m.query_id, m.n_items, " +
      "CAST(coalesce(c.cd, 0) AS BIGINT) AS cd, " +
      "CAST(CASE WHEN m.n_items < 2 THEN 0 " +
      "WHEN coalesce(c.cd, 0) >= 0 THEN " +
      "  coalesce(c.cd, 0) * 1000000 // (m.n_items * (m.n_items - 1) // 2) " +
      "ELSE -((-coalesce(c.cd, 0)) * 1000000 // " +
      "  (m.n_items * (m.n_items - 1) // 2)) END AS BIGINT) AS tau_ppm " +
      "FROM m LEFT JOIN c ON m.query_id = c.query_id"),
    // dense per-epoch positions: rank of md5('42:epoch1:' || id)
    "q_epoch_order" -> (
      "SELECT doc_id, CAST(row_number() OVER (ORDER BY " +
      "CAST(concat('0x', substr(md5('42:epoch1:' || " +
      "  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC, doc_id ASC) " +
      "AS BIGINT) AS pos FROM documents"),
    // MRR + precision@20 of the exact ranking with label relevance,
    // excluding each query's planted near-copy from the relevant set
    "q_retrieval_mrr" -> (
      "WITH q AS (SELECT vec_id + 200000 AS query_id, label AS qlabel, " +
      "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
      "  FROM embeddings WHERE vec_id < 5), " +
      "ranked AS (SELECT query_id, qlabel, c.vec_id AS corpus_id, " +
      "  c.label AS clabel, " +
      s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
      "    c.vec_id ASC) AS rank " +
      "  FROM q JOIN embeddings c ON query_id != c.vec_id " +
      "  QUALIFY rank <= 20), " +
      "rel AS (SELECT *, clabel = qlabel AND corpus_id != query_id - 200000 " +
      "  AS is_rel FROM ranked) " +
      "SELECT query_id, " +
      "CAST(min(CASE WHEN is_rel THEN rank END) AS BIGINT) AS first_rel_rank, " +
      "CAST(coalesce(1000000 // min(CASE WHEN is_rel THEN rank END), 0) " +
      "  AS BIGINT) AS rr_ppm, " +
      "CAST(count(CASE WHEN is_rel THEN 1 END) AS BIGINT) AS n_rel, " +
      "count(CASE WHEN is_rel THEN 1 END) * 1000000 // 20 AS precision_ppm " +
      "FROM rel GROUP BY 1"),
    // nDCG@20 with the SAME baked integer log2 discounts as the
    // operator (Eval.ndcgWeights — one source of truth, the
    // transcendental never crosses the engine boundary); ideal
    // ordering = per-query relevance re-sort, self-switching finish
    "q_ndcg" -> (
      "WITH q AS (SELECT vec_id + 200000 AS query_id, label AS qlabel, " +
      "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
      "  FROM embeddings WHERE vec_id < 5), " +
      "ranked AS (SELECT query_id, qlabel, c.vec_id AS corpus_id, " +
      "  c.label AS clabel, " +
      s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
      "    c.vec_id ASC) AS rank " +
      "  FROM q JOIN embeddings c ON query_id != c.vec_id " +
      "  QUALIFY rank <= 20), " +
      "rel AS (SELECT query_id, rank, " +
      "  CASE WHEN corpus_id = query_id - 200000 THEN 3 " +
      "    WHEN clabel = qlabel THEN 1 ELSE 0 END AS rel FROM ranked), " +
      s"w AS (SELECT [${graft.operators.Eval.ndcgWeights(20).mkString(", ")}] " +
      "  AS wa), " +
      "g AS (SELECT query_id, rank, rel, wa[rank] AS w, " +
      "  wa[row_number() OVER (PARTITION BY query_id " +
      "    ORDER BY rel DESC, rank ASC)] AS iw " +
      "  FROM rel CROSS JOIN w), " +
      "a AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked, " +
      "  CAST(sum(rel * w) AS BIGINT) AS dcg_scaled, " +
      "  CAST(sum(rel * iw) AS BIGINT) AS idcg_scaled FROM g GROUP BY 1) " +
      "SELECT query_id, n_ranked, dcg_scaled, idcg_scaled, " +
      "CAST(CASE WHEN idcg_scaled <= 0 THEN 0 " +
      "WHEN dcg_scaled <= 9000000000000 THEN " +
      "  dcg_scaled * 1000000 // idcg_scaled " +
      "ELSE (dcg_scaled // idcg_scaled) * 1000000 + " +
      "  (dcg_scaled % idcg_scaled) // " +
      "  greatest(idcg_scaled // 1000000, 1) END AS BIGINT) AS ndcg_ppm " +
      "FROM a"),
    // average precision @20 over the MRR relevance frame: per relevant
    // hit, precision@hit = cum_rel·1e6 // rank; AP = Σ // n_rel — all
    // integer, ranks are row_numbers so the cumulative window is
    // tie-free
    "q_map" -> (
      "WITH q AS (SELECT vec_id + 200000 AS query_id, label AS qlabel, " +
      "  list_prepend(embedding[1] + CAST(0.02 AS FLOAT), embedding[2:]) AS qv " +
      "  FROM embeddings WHERE vec_id < 5), " +
      "ranked AS (SELECT query_id, qlabel, c.vec_id AS corpus_id, " +
      "  c.label AS clabel, " +
      s"  row_number() OVER (PARTITION BY query_id ORDER BY $annCosSql DESC, " +
      "    c.vec_id ASC) AS rank " +
      "  FROM q JOIN embeddings c ON query_id != c.vec_id " +
      "  QUALIFY rank <= 20), " +
      "rel AS (SELECT query_id, rank, " +
      "  clabel = qlabel AND corpus_id != query_id - 200000 AS is_rel " +
      "  FROM ranked), " +
      "g AS (SELECT query_id, rank, is_rel, " +
      "  CAST(count(CASE WHEN is_rel THEN 1 END) OVER " +
      "    (PARTITION BY query_id ORDER BY rank) AS BIGINT) AS c " +
      "  FROM rel) " +
      "SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked, " +
      "CAST(count(CASE WHEN is_rel THEN 1 END) AS BIGINT) AS n_rel, " +
      "CAST(CASE WHEN count(CASE WHEN is_rel THEN 1 END) = 0 THEN 0 " +
      "  ELSE sum(CASE WHEN is_rel THEN c * 1000000 // rank END) // " +
      "    count(CASE WHEN is_rel THEN 1 END) END AS BIGINT) AS ap_ppm " +
      "FROM g GROUP BY 1"),
    "q_ann_ivf" -> annTop1Sql,
    "q_ann_ivf_index" -> annTop1Sql,
    // deleted ids (100..110) are never the planted top-1, so deletion
    // must not change the answers — same brute oracle
    "q_ann_ivf_delete" -> annTop1Sql,
    // per-dimension matrix health: micro mean, exact milli scatter
    "q_embed_dims" -> (
      "WITH q AS (SELECT unnest(list_transform(embedding, x -> " +
      "  CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS qv, " +
      "  unnest(range(len(embedding))) AS pos FROM embeddings), " +
      "a AS (SELECT pos, CAST(count(*) AS BIGINT) AS n, " +
      "  CAST(sum(qv) AS BIGINT) AS s, " +
      "  CAST(sum((qv // 1000) * (qv // 1000)) AS BIGINT) AS s2m, " +
      "  CAST(sum(qv // 1000) AS BIGINT) AS sm, " +
      "  min(qv) AS min_micro, max(qv) AS max_micro FROM q GROUP BY 1) " +
      "SELECT CAST(pos AS BIGINT) AS pos, n, " +
      "(s + 1000000 * n) // n - 1000000 AS mean_micro, " +
      "n * s2m - sm * sm AS scatter_milli2, min_micro, max_micro FROM a"),
    "q_ann_ivfpq_index" -> annTop1Sql,
    "q_ann_ivfpq_append" -> annTop1Sql,
    "q_ann_sql" -> annTop1Sql,
    "q_ann_topk" -> (
      "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
      "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), " +
      "CAST(c.embedding AS DOUBLE[])) AS cos, " +
      "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), " +
      "CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS INT) AS rank " +
      "FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND q.vec_id != c.vec_id " +
      "QUALIFY rank <= 10"),
    "q_hard_negatives" -> (
      "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
      "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), " +
      "CAST(c.embedding AS DOUBLE[])) AS cos, " +
      "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), " +
      "CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS INT) AS rank " +
      "FROM embeddings q JOIN embeddings c ON q.vec_id % 100 = 0 " +
      "AND q.vec_id != c.vec_id AND q.label != c.label " +
      "QUALIFY rank <= 5"),
    "q_balance_labels" -> (
      "WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label), " +
      "m AS (SELECT min(n) AS mn FROM c), " +
      "r AS (SELECT vec_id, label, row_number() OVER (PARTITION BY label " +
      "  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM embeddings) " +
      "SELECT vec_id, label FROM r, m WHERE rn <= mn"),

    // ---- multimodal -----------------------------------------------------
    "q_multimodal_bytes" -> (
      "SELECT doc_id AS asset_id, " +
      "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents"),
    // byte histogram via char codes: corpus is pure ASCII (verified), so
    // unicode(char) == byte value and char count == octet count.
    "q_multimodal_features" -> (
      "WITH chars AS (" +
      "  SELECT doc_id, unicode(c) // 16 AS bin " +
      "  FROM documents, LATERAL unnest(string_split(text, '')) AS t(c)" +
      "), counts AS (" +
      "  SELECT doc_id, bin, count(*) AS cnt FROM chars GROUP BY 1, 2" +
      "), grid AS (" +
      "  SELECT doc_id, unnest(range(16)) AS bin FROM documents" +
      ") " +
      "SELECT g.doc_id AS asset_id, CAST(g.bin AS INT) AS bin, " +
      "CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt " +
      "FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.bin = c.bin"),

    // recomputes the decoded-image stats from doc_id alone (the test
    // image's dims/pixels are pure functions of the id): any decoder
    // bug — BGR order, bottom-up rows, row padding, header scan —
    // diverges from this closed form
    "q_multimodal_decode" -> decodedStatsOracleSql,
    // the PNG fixture carries the SAME pixels, so the same closed form
    // gates the javax.imageio decode path (PNG is lossless: a DEFLATE /
    // scanline-filter / color-model bug flips the integer sums)
    "q_multimodal_decode_png" -> decodedStatsOracleSql,

    // NN-resize replay: source pixel index of output (x, y) is
    // ((x*w)//4, (y*h)//3) — integer division exactly as the codec's
    // (x*srcW)/outW — then the test-image pixel formula applies
    "q_multimodal_resize" -> (
      "WITH dims AS (SELECT doc_id, 1 + doc_id % 7 AS w, " +
      "  1 + doc_id % 5 AS h FROM documents), " +
      "g AS (SELECT doc_id, w, h, xs.x, ys.y, cs.c FROM dims, " +
      "  (SELECT unnest(range(4)) AS x) xs, " +
      "  (SELECT unnest(range(3)) AS y) ys, " +
      "  (SELECT unnest(range(3)) AS c) cs), " +
      "pv AS (SELECT doc_id, c, " +
      "  (doc_id*31 + 3*(((y*h)//3)*w + ((x*w)//4)) + c) % 256 AS v FROM g) " +
      "SELECT doc_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height, " +
      "CAST(3 AS INT) AS channels, " +
      "CAST(sum(CASE WHEN c=0 THEN v ELSE 0 END) AS BIGINT) AS sum_r, " +
      "CAST(sum(CASE WHEN c=1 THEN v ELSE 0 END) AS BIGINT) AS sum_g, " +
      "CAST(sum(CASE WHEN c=2 THEN v ELSE 0 END) AS BIGINT) AS sum_b " +
      "FROM pv GROUP BY doc_id"),

    // replays the 9x8 NN gray grid from the pixel closed form
    // ((id*31 + 3*(sy*w + sx) + c) % 256, summed over c), then every
    // horizontal-gradient bit, packed into 32-bit halves (shifts stay
    // < 32 — no engine-specific signed-shift edge at bit 63)
    "q_multimodal_dhash" -> (
      "WITH dims AS (SELECT doc_id, 1 + doc_id % 7 AS w, " +
      "  1 + doc_id % 5 AS h FROM documents), " +
      "g AS (SELECT doc_id, w, h, xs.x, ys.y FROM dims, " +
      "  (SELECT unnest(range(9)) AS x) xs, " +
      "  (SELECT unnest(range(8)) AS y) ys), " +
      "gray AS (SELECT doc_id, x, y, " +
      "  ((doc_id*31 + 3*(((y*h)//8)*w + ((x*w)//9))) % 256) + " +
      "  ((doc_id*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 1) % 256) + " +
      "  ((doc_id*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 2) % 256) AS v FROM g), " +
      "bits AS (SELECT a.doc_id, a.y, a.x, " +
      "  CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit " +
      "  FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND a.y = b.y " +
      "    AND b.x = a.x + 1 WHERE a.x < 8) " +
      "SELECT doc_id, " +
      "CAST(sum(CASE WHEN y*8+x >= 32 THEN bit * (1::BIGINT << (y*8+x-32)) " +
      "  ELSE 0 END) AS BIGINT) AS dhash_hi, " +
      "CAST(sum(CASE WHEN y*8+x < 32 THEN bit * (1::BIGINT << (y*8+x)) " +
      "  ELSE 0 END) AS BIGINT) AS dhash_lo " +
      "FROM bits GROUP BY doc_id"),

    // same hash closed form, then hamming to doc 7's hash under the
    // (hamming, id) total order
    "q_image_search" -> (
      "WITH dims AS (SELECT doc_id, 1 + doc_id % 7 AS w, " +
      "  1 + doc_id % 5 AS h FROM documents), " +
      "g AS (SELECT doc_id, w, h, xs.x, ys.y FROM dims, " +
      "  (SELECT unnest(range(9)) AS x) xs, " +
      "  (SELECT unnest(range(8)) AS y) ys), " +
      "gray AS (SELECT doc_id, x, y, " +
      "  ((doc_id*31 + 3*(((y*h)//8)*w + ((x*w)//9))) % 256) + " +
      "  ((doc_id*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 1) % 256) + " +
      "  ((doc_id*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 2) % 256) AS v FROM g), " +
      "bits AS (SELECT a.doc_id, a.y, a.x, " +
      "  CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit " +
      "  FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND a.y = b.y " +
      "    AND b.x = a.x + 1 WHERE a.x < 8), " +
      "dh AS (SELECT doc_id, " +
      "  CAST(sum(CASE WHEN y*8+x >= 32 THEN bit * (1::BIGINT << (y*8+x-32)) " +
      "    ELSE 0 END) AS BIGINT) AS hi, " +
      "  CAST(sum(CASE WHEN y*8+x < 32 THEN bit * (1::BIGINT << (y*8+x)) " +
      "    ELSE 0 END) AS BIGINT) AS lo " +
      "  FROM bits GROUP BY doc_id), " +
      "q AS (SELECT hi AS qhi, lo AS qlo FROM dh WHERE doc_id = 7) " +
      "SELECT d.doc_id, CAST(bit_count(xor(d.hi, qhi)) + " +
      "  bit_count(xor(d.lo, qlo)) AS INT) AS hamming " +
      "FROM dh d, q WHERE d.doc_id != 7 " +
      "ORDER BY hamming ASC, doc_id ASC LIMIT 10"),

    // hash closed form over the extended population (copies under
    // id+1e6 hash from their BASE id — lossless recompression shares
    // pixels), then an exact all-pairs hamming filter: the oracle is
    // allowed the O(n^2) form the operator's banding avoids
    "q_image_neardup" -> (
      "WITH ids AS (SELECT doc_id FROM documents " +
      "  UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0), " +
      "dims AS (SELECT doc_id, doc_id % 1000000 AS base, " +
      "  1 + (doc_id % 1000000) % 7 AS w, 1 + (doc_id % 1000000) % 5 AS h FROM ids), " +
      "g AS (SELECT doc_id, base, w, h, xs.x, ys.y FROM dims, " +
      "  (SELECT unnest(range(9)) AS x) xs, (SELECT unnest(range(8)) AS y) ys), " +
      "gray AS (SELECT doc_id, x, y, " +
      "  ((base*31 + 3*(((y*h)//8)*w + ((x*w)//9))) % 256) + " +
      "  ((base*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 1) % 256) + " +
      "  ((base*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 2) % 256) AS v FROM g), " +
      "bits AS (SELECT a.doc_id, a.y, a.x, " +
      "  CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit " +
      "  FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND a.y = b.y " +
      "    AND b.x = a.x + 1 WHERE a.x < 8), " +
      "dh AS (SELECT doc_id, " +
      "  CAST(sum(CASE WHEN y*8+x >= 32 THEN bit * (1::BIGINT << (y*8+x-32)) " +
      "    ELSE 0 END) AS BIGINT) AS hi, " +
      "  CAST(sum(CASE WHEN y*8+x < 32 THEN bit * (1::BIGINT << (y*8+x)) " +
      "    ELSE 0 END) AS BIGINT) AS lo " +
      "  FROM bits GROUP BY doc_id) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) " +
      "  AS hamming " +
      "FROM dh a JOIN dh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3"),

    // recomputes the decoded-clip stats from doc_id alone (the test
    // WAV's shape and every PCM sample are pure functions of the id):
    // an endianness, sign-extension, 8-bit-centering, interleave, or
    // RIFF chunk-scan bug diverges from this closed form
    "q_multimodal_audio_decode" -> (
      s"WITH $audioDimsSql, " +
      "ix AS (SELECT doc_id, channels, bits, n_frames, " +
      "  unnest(range(0, channels * n_frames)) AS i FROM dims), " +
      "sv AS (SELECT doc_id, channels, bits, n_frames, i, " +
      "  CASE WHEN bits = 8 THEN (doc_id*31 + i) % 256 - 128 " +
      "  ELSE (doc_id*37 + i*101) % 65536 - 32768 END AS v FROM ix) " +
      "SELECT doc_id, CAST(8000 AS INT) AS sample_rate, channels, bits, " +
      "n_frames, " +
      "CAST(sum(CASE WHEN i % channels = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_ch0, " +
      "CAST(sum(CASE WHEN i % channels = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_ch1, " +
      "CAST(sum(abs(v)) AS BIGINT) AS sum_abs " +
      "FROM sv GROUP BY doc_id, channels, bits, n_frames"),

    // NN-resample replay: source frame of output k is (k*n_frames)//4
    // — integer division exactly as the codec's (k*nFrames)/outFrames
    // — then the test-clip sample formula applies at the source
    // frame's interleaved index
    "q_multimodal_audio_resample" -> (
      s"WITH $audioDimsSql, " +
      "fr AS (SELECT doc_id, channels, bits, n_frames AS src_frames, " +
      "  unnest(range(0, 4)) AS k FROM dims), " +
      "ix AS (SELECT doc_id, channels, bits, (k * src_frames) // 4 AS src, " +
      "  unnest(range(0, channels)) AS c FROM fr), " +
      "sv AS (SELECT doc_id, channels, bits, c, " +
      "  CASE WHEN bits = 8 THEN (doc_id*31 + (src*channels + c)) % 256 - 128 " +
      "  ELSE (doc_id*37 + (src*channels + c)*101) % 65536 - 32768 END AS v " +
      "  FROM ix) " +
      "SELECT doc_id, CAST(8000 AS INT) AS sample_rate, channels, bits, " +
      "CAST(4 AS INT) AS n_frames, " +
      "CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_ch0, " +
      "CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_ch1, " +
      "CAST(sum(abs(v)) AS BIGINT) AS sum_abs " +
      "FROM sv GROUP BY doc_id, channels, bits"),

    // windowed-energy replay: window w covers interleaved sample
    // indices [w*3*channels, (w+1)*3*channels); clips with fewer than
    // 3 frames yield zero windows (range(0, 0) unnests to no rows),
    // matching the full-windows-only posexplode
    "q_multimodal_audio_energy" -> (
      s"WITH $audioDimsSql, " +
      "w AS (SELECT doc_id, channels, bits, " +
      "  unnest(range(0, n_frames // 3)) AS win FROM dims), " +
      "ix AS (SELECT doc_id, channels, bits, win, " +
      "  unnest(range(0, 3*channels)) AS j FROM w), " +
      "sv AS (SELECT doc_id, win, win*3*channels + j AS i, bits FROM ix), " +
      "ev AS (SELECT doc_id, win, " +
      "  CASE WHEN bits = 8 THEN (doc_id*31 + i) % 256 - 128 " +
      "  ELSE (doc_id*37 + i*101) % 65536 - 32768 END AS v FROM sv) " +
      "SELECT doc_id, CAST(win AS INT) AS win, " +
      "CAST(sum(abs(v)) AS BIGINT) AS energy " +
      "FROM ev GROUP BY doc_id, win"),

    // JSONL replay: the fixture is a pure function of documents, so
    // the oracle rebuilds both populations — clean rows carry the
    // original values (round-trip fidelity), malformed ones the exact
    // raw line in the quarantine column with an all-null payload
    "q_jsonl_scan" -> (
      "SELECT doc_id, source, text, CAST(NULL AS VARCHAR) AS quarantined " +
      "FROM documents WHERE doc_id % 97 <> 0 " +
      "UNION ALL " +
      "SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), " +
      "CAST(NULL AS VARCHAR), " +
      "'BROKEN {\"doc_id\": ' || CAST(doc_id AS VARCHAR) " +
      "FROM documents WHERE doc_id % 97 = 0"),

    // write->read round-trip must reproduce the source table exactly
    "q_jsonl_roundtrip" -> "SELECT doc_id, source, text FROM documents",

    // CSV replay: same two-population rebuild as q_jsonl_scan
    "q_csv_scan" -> (
      "SELECT doc_id, source, text, CAST(NULL AS VARCHAR) AS quarantined " +
      "FROM documents WHERE doc_id % 97 <> 0 " +
      "UNION ALL " +
      "SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), " +
      "CAST(NULL AS VARCHAR), " +
      "'BROKEN id ' || CAST(doc_id AS VARCHAR) " +
      "FROM documents WHERE doc_id % 97 = 0"),
    "q_csv_roundtrip" -> "SELECT doc_id, source, text FROM documents",
    "q_orc_roundtrip" -> "SELECT doc_id, source, text FROM documents",
    "q_partitioned_write" -> "SELECT doc_id, source, text FROM documents",
    "q_compact_roundtrip" -> "SELECT doc_id, source, text FROM documents",
    // bucketed-table round-trip must preserve join semantics exactly:
    // the oracle replays the plain join over the source parquet
    "q_bucketed_join" -> (
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, " +
      "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) " +
      "  AS cents " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1"),

    // Y4M replay: plane p of frame f holds bytes (doc_id*13 + f*7 +
    // p*3 + i) mod 256 for i in [0, planeSize) — a plane-order,
    // chroma-subsampling, or FRAME-scan bug in the codec diverges
    // from this closed form
    "q_multimodal_video_decode" -> (
      s"WITH $videoDimsSql, " +
      "fx AS (SELECT doc_id, w, h, cs444, nf, ysize, csize, " +
      "  unnest(range(0, nf)) AS f FROM pl), " +
      "px AS (SELECT doc_id, w, h, cs444, nf, f, p, " +
      "  unnest(range(0, CASE WHEN p = 0 THEN ysize ELSE csize END)) AS i " +
      "  FROM fx, LATERAL (SELECT unnest([0, 1, 2]) AS p)), " +
      "v AS (SELECT doc_id, w, h, cs444, nf, p, " +
      "  (doc_id*13 + f*7 + p*3 + i) % 256 AS v FROM px) " +
      "SELECT doc_id, w AS width, h AS height, " +
      "CAST(CASE WHEN cs444 THEN 444 ELSE 420 END AS INT) AS colorspace, " +
      "nf AS n_frames, " +
      "CAST(sum(CASE WHEN p = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_y, " +
      "CAST(sum(CASE WHEN p = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_u, " +
      "CAST(sum(CASE WHEN p = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_v " +
      "FROM v GROUP BY doc_id, w, h, cs444, nf"),

    // NN frame-sample replay: source frame of output k is
    // (k*nf)//3 — integer division exactly as the codec's
    // (k*nFrames)/outFrames — then the test-clip byte formula applies
    // over that frame's Y plane
    "q_multimodal_video_frames_real" -> (
      s"WITH $videoDimsSql, " +
      "fr AS (SELECT doc_id, ysize, nf, unnest(range(0, 3)) AS k FROM pl), " +
      "ix AS (SELECT doc_id, k, (k * nf) // 3 AS src, " +
      "  unnest(range(0, ysize)) AS i FROM fr) " +
      "SELECT doc_id, CAST(k AS INT) AS frame_idx, " +
      "CAST(sum((doc_id*13 + src*7 + i) % 256) AS BIGINT) AS luma " +
      "FROM ix GROUP BY doc_id, k"),

    "q_pack_sequences" -> (
      "WITH t AS (SELECT doc_id, lang, " +
      "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
      "len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens " +
      "FROM documents) " +
      "SELECT doc_id, lang, n_tokens, " +
      "CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) " +
      "// 512 AS BIGINT) AS pack_id FROM t"),

    // token-window chunking: same tokenization pair as q_token_count
    // (Spark split vs RE2 regexp_split_to_array, ASCII-ws corpus);
    // chunk-count formula mirrors Chunking.tokenWindows exactly
    "q_chunk_windows" -> (
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks " +
      "FROM documents), " +
      "n AS (SELECT doc_id, toks, len(toks) AS n, " +
      "CASE WHEN len(toks) <= 32 THEN 1 ELSE (len(toks) - 32 + 23) // 24 + 1 END AS nc " +
      "FROM t) " +
      "SELECT doc_id, CAST(i AS INT) AS chunk_idx, " +
      "array_to_string(list_slice(toks, CAST(i * 24 + 1 AS INT), CAST(i * 24 + 32 AS INT)), ' ') AS chunk, " +
      "CAST(least(32, n - i * 24) AS INT) AS n_chunk_tokens " +
      "FROM n, LATERAL (SELECT unnest(range(nc)) AS i)"),

    "q_chunk_content" -> contentChunkSql,

    "q_multimodal_frames" -> (
      "SELECT doc_id AS asset_id, CAST(i AS INT) AS frame_idx, " +
      "substring(text, CAST(i * 48 + 1 AS INT), 64) AS frame " +
      "FROM documents, LATERAL (SELECT unnest(range(" +
      "CASE WHEN length(text) >= 64 THEN (length(text) - 64) // 48 + 1 " +
      "ELSE 0 END)) AS i)"),

    // pipeline spine: limit (ordered) -> sanitize (identity on this
    // clean table) -> AnyOfInt filter (drops matching) -> Replace+Nullify
    "q_anonymize_pipeline" -> (
      "SELECT c_custkey, 'ANONYMIZED' AS c_name, c_nationkey, " +
      "CAST(NULL AS DOUBLE) AS c_acctbal, c_mktsegment " +
      "FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 1000) " +
      "WHERE c_nationkey IS NULL OR c_nationkey NOT IN (3, 4)"),

    // ---- corpus analysis / sessionization (round 4) --------------------
    "q_sessionize" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id FROM events), " +
      "m AS (SELECT user_id, ts, event_id, CASE WHEN ts - lag(ts) OVER " +
      "  (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 " +
      "  THEN 1 ELSE 0 END AS ns FROM e), " +
      "si AS (SELECT user_id, ts, CAST(sum(ns) OVER (PARTITION BY user_id " +
      "  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "  AS BIGINT) AS session_idx FROM m) " +
      "SELECT user_id, session_idx, count(*) AS n_events, " +
      "min(ts) AS session_start, max(ts) AS session_end " +
      "FROM si GROUP BY 1, 2"),
    "q_quality_repetition" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "base AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens, " +
      "  CAST(len(list_distinct(ts)) AS INT) AS n_distinct FROM tok), " +
      "bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i)), " +
      "bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), " +
      "mx AS (SELECT doc_id, max(c) AS mc, sum(c) AS nb FROM bc GROUP BY 1) " +
      "SELECT b.doc_id, b.n_tokens, b.n_distinct, " +
      "round(CASE WHEN b.n_tokens = 0 THEN 0.0 " +
      "  ELSE 1.0 - b.n_distinct * 1.0 / b.n_tokens END, 6) AS dup_word_ratio, " +
      "round(CASE WHEN mx.nb IS NULL THEN 0.0 " +
      "  ELSE mx.mc * 1.0 / mx.nb END, 6) AS top_bigram_ratio " +
      "FROM base b LEFT JOIN mx ON b.doc_id = mx.doc_id"),
    "q_vocab_topk" -> (
      "WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), " +
      "'\\s+')) AS token FROM documents) " +
      "SELECT token, count(*) AS cnt FROM tok WHERE length(token) > 0 " +
      "GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 50"),
    "q_date_dim" -> (
      "WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo, " +
      "  CAST(max(o_orderdate) AS DATE) AS hi FROM orders), " +
      "dd AS (SELECT CAST(unnest(generate_series(lo, hi, " +
      "  INTERVAL 1 DAY)) AS DATE) AS d FROM span) " +
      "SELECT d, CAST(year(d) AS BIGINT) AS yr, " +
      "CAST(month(d) AS BIGINT) AS mo, " +
      "CAST(day(d) AS BIGINT) AS dom, " +
      "CAST(isodow(d) AS BIGINT) AS isodow, " +
      "CAST(quarter(d) AS BIGINT) AS qtr, " +
      "CAST(weekofyear(d) AS BIGINT) AS iso_week, " +
      "CAST(isoyear(d) AS BIGINT) AS iso_yr, " +
      "isodow(d) >= 6 AS is_weekend, " +
      "d = last_day(d) AS is_month_end FROM dd"),
    "q_class_terms" -> (
      "WITH tok AS (SELECT source AS class, unnest(list_filter(" +
      "regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'), " +
      "t -> t != '')) AS term FROM documents), " +
      "tc AS (SELECT class, term, count(*) AS tf_c FROM tok GROUP BY 1, 2), " +
      "sc AS (SELECT class, term, tf_c, " +
      "  CAST(sum(tf_c) OVER (PARTITION BY term) AS BIGINT) AS tf_g, " +
      "  CAST(sum(tf_c) OVER (PARTITION BY class) AS BIGINT) AS ct, " +
      "  (SELECT CAST(sum(tf_c) AS BIGINT) FROM tc) AS total " +
      "  FROM tc), " +
      "lf AS (SELECT class, term, tf_c, " +
      "  ((tf_c * 1000000 // tf_g) * total // ct) AS lift_ppm FROM sc " +
      "  WHERE tf_c >= 5) " +
      "SELECT class, term, tf_c, CAST(lift_ppm AS BIGINT) AS lift_ppm, " +
      "CAST(row_number() OVER (PARTITION BY class " +
      "  ORDER BY lift_ppm DESC, term ASC) AS BIGINT) AS rank " +
      "FROM lf QUALIFY rank <= 5"),
    "q_winsorize" -> (
      "WITH e AS (SELECT event_type, event_id, value FROM events " +
      "  WHERE user_id % 11 = 0), " +
      "r AS (SELECT event_type, event_id, value, " +
      "  row_number() OVER (PARTITION BY event_type " +
      "    ORDER BY value ASC, event_id ASC) AS rn, " +
      "  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n " +
      "  FROM e), " +
      "b AS (SELECT event_type, event_id, value, rn, n, " +
      "  greatest(1, CAST(ceil(0.05 * n) AS BIGINT)) AS rlo, " +
      "  CAST(ceil(0.95 * n) AS BIGINT) AS rhi FROM r), " +
      "lim AS (SELECT event_type, " +
      "  max(CASE WHEN rn = rlo THEN value END) AS lo, " +
      "  max(CASE WHEN rn = rhi THEN value END) AS hi " +
      "  FROM b GROUP BY event_type) " +
      "SELECT b.event_type, b.event_id, b.value, " +
      "least(greatest(b.value, lim.lo), lim.hi) AS v_clip " +
      "FROM b JOIN lim ON b.event_type = lim.event_type"),
    // lift_ppm = N·c(ab)·1e6 div (c(a)·c(b)) — all-integer, so the
    // ranking (monotone in PMI) replays exactly
    "q_pmi_collocations" -> (
      "WITH tok AS (SELECT list_filter(regexp_split_to_array(" +
      "lower(trim(coalesce(text, ''))), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "uc AS (SELECT w, count(*) AS c FROM " +
      "  (SELECT unnest(ts) AS w FROM tok) GROUP BY w), " +
      "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uc), " +
      "bi AS (SELECT ts[i] AS w1, ts[i+1] AS w2 " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i)), " +
      "bc AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY 1, 2 " +
      "  HAVING count(*) >= 3) " +
      "SELECT w1, w2, c_ab, " +
      "CAST(n_total * c_ab * 1000000 // (a.c * b.c) AS BIGINT) AS lift_ppm " +
      "FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, tot " +
      "ORDER BY lift_ppm DESC, w1 ASC, w2 ASC LIMIT 40"),
    "q_transitions" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type " +
      "  FROM events), " +
      "p AS (SELECT event_type AS from_state, lead(event_type) OVER " +
      "  (PARTITION BY user_id ORDER BY ts, event_id) AS to_state FROM e), " +
      "c AS (SELECT from_state, to_state, count(*) AS n FROM p " +
      "  WHERE to_state IS NOT NULL GROUP BY 1, 2) " +
      "SELECT from_state, to_state, n, " +
      "CAST(n * 1000000 // CAST(sum(n) OVER (PARTITION BY from_state) " +
      "  AS BIGINT) AS BIGINT) AS p_ppm FROM c"),
    "q_resample_locf" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, value " +
      "  FROM events), " +
      "b AS (SELECT user_id, ts // 86400000000 AS bkt, value, " +
      "  row_number() OVER (PARTITION BY user_id, ts // 86400000000 " +
      "  ORDER BY ts DESC, event_id DESC) AS rn FROM e), " +
      "lastv AS (SELECT user_id, bkt, value FROM b WHERE rn = 1), " +
      "spans AS (SELECT user_id, min(bkt) AS lo, max(bkt) AS hi " +
      "  FROM lastv GROUP BY user_id), " +
      "grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bkt " +
      "  FROM spans), " +
      "j AS (SELECT g.user_id, g.bkt, l.value FROM grid g " +
      "  LEFT JOIN lastv l ON g.user_id = l.user_id AND g.bkt = l.bkt) " +
      "SELECT user_id, CAST(bkt * 86400000000 AS BIGINT) AS bucket_start, " +
      "last_value(value IGNORE NULLS) OVER (PARTITION BY user_id " +
      "  ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "  AS value FROM j"),
    "q_pareto" -> paretoSql,
    "q_lang_purity" -> langPuritySql,
    "q_mann_whitney" -> mannWhitneySql,
    // ROC AUC: the mann-whitney doubled-U frame re-labelled on
    // purchase-vs-rest and finished as u2_a/u2_max in ppm
    "q_auc" ->
      ("WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS h " +
       "  FROM events), " +
       "g AS (SELECT v, CAST(count(*) AS BIGINT) AS c, " +
       "  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca " +
       "  FROM e GROUP BY 1), " +
       "cum AS (SELECT v, c, ca, CAST(sum(c) OVER (ORDER BY v " +
       "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc FROM g), " +
       "tot AS (SELECT CAST(sum(c - ca) AS BIGINT) AS n0, " +
       "  CAST(sum(ca) AS BIGINT) AS na FROM g), " +
       "u AS (SELECT n0, na, " +
       "  CAST(sum(ca * (2 * (cc - c) + c + 1)) AS BIGINT) " +
       "    - na * (na + 1) AS u2a, 2 * n0 * na AS u2max " +
       "  FROM cum CROSS JOIN tot GROUP BY n0, na) " +
       "SELECT n0 AS n_neg, na AS n_pos, " +
       "CASE WHEN u2max <= 9000000000000 " +
       "THEN u2a * 1000000 // greatest(u2max, 1) " +
       "ELSE (u2a // u2max) * 1000000 + " +
       "(u2a % u2max) // greatest(u2max // 1000000, 1) END " +
       "AS auc_ppm FROM u"),
    // per-cohort selection rate / TPR / FPR at the 5e5 threshold;
    // undefined rates (no positives / no negatives) stay NULL
    "q_fairness_report" ->
      ("WITH e AS (SELECT CAST(user_id % 3 AS BIGINT) AS grp, " +
       "  (CAST(round(value * 100) AS BIGINT) * 7919) % 1000001 AS s, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l " +
       "  FROM events) " +
       "SELECT grp, CAST(count(*) AS BIGINT) AS n, " +
       "CAST(count(CASE WHEN l = 1 THEN 1 END) AS BIGINT) AS n_pos, " +
       "CAST(count(CASE WHEN s >= 500000 THEN 1 END) AS BIGINT) AS n_sel, " +
       "count(CASE WHEN s >= 500000 THEN 1 END) * 1000000 // count(*) " +
       "  AS sel_ppm, " +
       "CASE WHEN count(CASE WHEN l = 1 THEN 1 END) > 0 THEN " +
       "  count(CASE WHEN l = 1 AND s >= 500000 THEN 1 END) * 1000000 // " +
       "  count(CASE WHEN l = 1 THEN 1 END) END AS tpr_ppm, " +
       "CASE WHEN count(CASE WHEN l != 1 THEN 1 END) > 0 THEN " +
       "  count(CASE WHEN l != 1 AND s >= 500000 THEN 1 END) * 1000000 // " +
       "  count(CASE WHEN l != 1 THEN 1 END) END AS fpr_ppm " +
       "FROM e GROUP BY 1"),
    // Cliff's delta = 2·AUC − 1 off the same doubled-U frame: the
    // division stays on the non-negative AUC, the sign arrives by
    // subtraction — no negative numerator ever divides
    "q_cliffs_delta" ->
      ("WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS h " +
       "  FROM events), " +
       "g AS (SELECT v, CAST(count(*) AS BIGINT) AS c, " +
       "  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca " +
       "  FROM e GROUP BY 1), " +
       "cum AS (SELECT v, c, ca, CAST(sum(c) OVER (ORDER BY v " +
       "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc FROM g), " +
       "tot AS (SELECT CAST(sum(c - ca) AS BIGINT) AS n0, " +
       "  CAST(sum(ca) AS BIGINT) AS na FROM g), " +
       "u AS (SELECT n0, na, " +
       "  CAST(sum(ca * (2 * (cc - c) + c + 1)) AS BIGINT) " +
       "    - na * (na + 1) AS u2a, 2 * n0 * na AS u2max " +
       "  FROM cum CROSS JOIN tot GROUP BY n0, na) " +
       "SELECT n0, na AS n1, " +
       "(CASE WHEN u2max <= 9000000000000 " +
       "THEN u2a * 1000000 // greatest(u2max, 1) " +
       "ELSE (u2a // u2max) * 1000000 + " +
       "(u2a % u2max) // greatest(u2max // 1000000, 1) END) * 2 " +
       "- 1000000 AS delta_ppm FROM u"),
    // Brier score of the clamped cents score vs purchase-vs-rest: the
    // hi/lo split carries Σd² exactly (d² = hi·1e6 + lo per row), and
    // the finish replays the operator's lossless two-step floor
    "q_brier" ->
      ("WITH e AS (SELECT " +
       "  (CAST(round(value * 100) AS BIGINT) * 7919) % 1000001 AS s, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l " +
       "  FROM events), " +
       "d AS (SELECT l, s - l * 1000000 AS d FROM e), " +
       "h AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
       "  CAST(sum(l) AS BIGINT) AS n_pos, " +
       "  CAST(sum(d * d // 1000000) AS BIGINT) AS shi, " +
       "  CAST(sum(d * d % 1000000) AS BIGINT) AS slo FROM d) " +
       "SELECT n, n_pos, " +
       "shi // greatest(n, 1) + " +
       "((shi % greatest(n, 1)) * 1000000 + slo) // " +
       "(greatest(n, 1) * 1000000) AS brier_ppm FROM h"),
    // decile reliability bins over the same clamped score: per bin the
    // count, positives, truncating mean score, and positive rate
    "q_calibration_bins" ->
      ("WITH e AS (SELECT " +
       "  (CAST(round(value * 100) AS BIGINT) * 7919) % 1000001 AS s, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l " +
       "  FROM events) " +
       "SELECT least(s * 10 // 1000000, 9) AS bin, " +
       "CAST(count(*) AS BIGINT) AS n, " +
       "CAST(sum(l) AS BIGINT) AS n_pos, " +
       "CAST(sum(s) // count(*) AS BIGINT) AS mean_score_ppm, " +
       "CAST(sum(l) * 1000000 // count(*) AS BIGINT) AS frac_pos_ppm " +
       "FROM e GROUP BY 1"),
    // isotonic recalibration: PAV over the same decile bins via the
    // minimax closed form — interval rates with ONE truncating
    // division, then max-over-j of min-over-k across straddling
    // intervals; monotone by construction in both engines
    "q_isotonic" ->
      ("WITH e AS (SELECT " +
       "  (CAST(round(value * 100) AS BIGINT) * 7919) % 1000001 AS s, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l " +
       "  FROM events), " +
       "b AS MATERIALIZED (SELECT least(s * 10 // 1000000, 9) AS bin, " +
       "  CAST(count(*) AS BIGINT) AS n, " +
       "  CAST(sum(l) AS BIGINT) AS n_pos, " +
       "  CAST(sum(s) // count(*) AS BIGINT) AS mean_score_ppm, " +
       "  CAST(sum(l) * 1000000 // count(*) AS BIGINT) AS frac_pos_ppm " +
       "  FROM e GROUP BY 1), " +
       "iv AS (SELECT j.bin AS j, k.bin AS k, " +
       "  CAST(sum(m.n_pos) * 1000000 // sum(m.n) AS BIGINT) AS r " +
       "  FROM b j JOIN b k ON j.bin <= k.bin " +
       "  JOIN b m ON m.bin >= j.bin AND m.bin <= k.bin " +
       "  GROUP BY 1, 2), " +
       "mn AS (SELECT i.bin AS bin, iv.j, min(iv.r) AS mn FROM b i " +
       "  JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin GROUP BY 1, 2), " +
       "ft AS (SELECT bin, CAST(max(mn) AS BIGINT) AS fit_ppm " +
       "  FROM mn GROUP BY 1) " +
       "SELECT b.bin, b.n, b.n_pos, b.mean_score_ppm, b.frac_pos_ppm, " +
       "ft.fit_ppm FROM b JOIN ft ON b.bin = ft.bin"),
    // ECE: the bin-size-weighted |mean score − positive rate| roll-up
    // of the same decile bins into one ppm number
    "q_ece" ->
      ("WITH e AS (SELECT " +
       "  (CAST(round(value * 100) AS BIGINT) * 7919) % 1000001 AS s, " +
       "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS l " +
       "  FROM events), " +
       "b AS (SELECT least(s * 10 // 1000000, 9) AS bin, " +
       "  CAST(count(*) AS BIGINT) AS n, " +
       "  CAST(sum(s) // count(*) AS BIGINT) AS ms, " +
       "  CAST(sum(l) * 1000000 // count(*) AS BIGINT) AS fp " +
       "  FROM e GROUP BY 1) " +
       "SELECT CAST(sum(n) AS BIGINT) AS n, " +
       "CAST(count(*) AS BIGINT) AS n_bins, " +
       "CAST(sum(n * abs(ms - fp)) // greatest(sum(n), 1) AS BIGINT) " +
       "  AS ece_ppm FROM b"),
    // exact sup-norm CDF distance between the same two cohorts
    "q_ks_test" -> ksTestSql,
    "q_kruskal_wallis" -> kruskalWallisSql,
    "q_conformal" -> conformalSql,
    "q_encoding_advisor" -> encodingAdvisorSql,
    "q_label_prop" -> labelPropSql,
    // weight-summed votes (max weight, min-label ties), 3 unrolled
    // rounds over the quantity-weighted graph
    "q_label_prop_weighted" -> labelPropWeightedSql,
    // 2 unrolled synchronous Louvain local-move rounds over the LPA
    // seeding: division-free integer ΔQ argmax, strict-improvement
    // moves, min-community-id ties
    "q_louvain" -> louvainSql,
    // Q of the LPA seeding vs Q after the Louvain rounds, one row
    "q_louvain_gain" -> louvainGainSql,
    // conductance + modularity terms over the SAME LPA assignment
    "q_community_quality" -> communityQualitySql,
    // Q roll-up: signed sum of the per-community terms, edge count
    // reconstructed as Σe_in + Σcut/2 (each boundary edge credited
    // twice across the per-community rows)
    // coalesced sums so the empty-community-frame row matches the
    // operator's coalesce(sum(...), 0) exactly (n_communities=0,
    // m_edges=0, q_ppm=0 — not NULLs) at any scale factor
    "q_modularity" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_communities, " +
       "CAST(coalesce(sum(e_in), 0) + coalesce(sum(cut), 0) // 2 " +
       "  AS BIGINT) AS m_edges, " +
       "CAST(coalesce(sum(modularity_term_ppm), 0) AS BIGINT) AS q_ppm " +
       s"FROM ($communityQualitySql) t"),
    "q_weighted_quartiles" -> weightedQuartilesSql,
    "q_chi_square" -> chiSquareSql,
    "q_nested_samples" -> nestedSamplesSql,
    "q_top_paths" -> topPathsSql,
    "q_bootstrap_ci" -> bootstrapSql,
    "q_cohens_kappa" -> cohensKappaSql,
    "q_key_skew_profile" -> keySkewSql,
    "q_dp_noisy_counts" -> dpNoisySql,
    "q_dp_noise_audit" -> dpAuditSql,
    "q_recall_curve" -> recallCurveSql,
    "q_interp_resample" -> interpResampleSql,
    "q_concurrency" -> concurrencySql,
    "q_langid_confusion" -> langidConfusionSql,
    "q_histogram" -> (
      "WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS xc, " +
      "  CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem), " +
      "b AS (SELECT min(xc) AS lo, max(xc) AS hi FROM c) " +
      "SELECT CAST((xc - lo) * 20 // (hi - lo + 1) AS BIGINT) AS bin, " +
      "count(*) AS n, min(v) AS bin_min, max(v) AS bin_max " +
      "FROM c, b GROUP BY 1"),
    "q_mad_outliers" -> (
      "WITH m AS (SELECT event_type, value, quantile_cont(value, 0.5) OVER " +
      "  (PARTITION BY event_type) AS med FROM events), " +
      "d AS (SELECT event_type, abs(value - med) AS dev, med FROM m), " +
      "d2 AS (SELECT event_type, dev, med, quantile_cont(dev, 0.5) OVER " +
      "  (PARTITION BY event_type) AS mad FROM d) " +
      "SELECT event_type, count(*) AS n, " +
      "count(*) FILTER (WHERE dev > 3.0 * 1.4826 * mad) AS n_outliers, " +
      "round(min(med), 6) AS med, round(min(mad), 6) AS mad " +
      "FROM d2 GROUP BY event_type"),
    // exact reachability closure: component = min id reachable
    // (including self) — the fixpoint the min-label BSP converges to
    "q_graph_components" -> (
      "WITH RECURSIVE e AS (SELECT DISTINCT " +
      "  CAST(l_suppkey * 2 + 1 AS BIGINT) AS a, " +
      "  CAST(o_custkey * 2 AS BIGINT) AS b " +
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "  WHERE l_quantity = 50 AND l_linenumber = 7), " +
      "ud AS (SELECT a, b FROM e UNION SELECT b, a FROM e), " +
      "reach(s, t) AS (SELECT a, b FROM ud " +
      "  UNION SELECT r.s, u.b FROM reach r JOIN ud u ON r.t = u.a) " +
      "SELECT s AS id, CAST(least(s, min(t)) AS BIGINT) AS component " +
      "FROM reach GROUP BY s"),
    "q_pagerank" -> pagerankOracle,
    // weight-proportional mass splits over the same shipment graph
    "q_pagerank_weighted" -> pagerankWeightedOracle,
    // HITS hubs/authorities, L1-ppm-normalized integer recurrence
    "q_hits" -> hitsOracle,
    "q_pagerank_personalized" -> pprOracle,
    // reliability curve: nearest-centroid top-1 (the confusion oracle's
    // d/p CTEs), corpus ranked by confidence, exact-integer decile
    // split (rank-1)*10 // n
    "q_centroid_calibration" -> (
      "WITH q AS (SELECT vec_id, label AS true_label, " +
      "  unnest(list_transform(embedding, x -> " +
      "    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS qv, " +
      "  unnest(range(len(embedding))) AS pos FROM embeddings), " +
      "c AS (SELECT true_label AS clabel, pos, " +
      "  (CAST(sum(qv) AS BIGINT) + 1000000 * CAST(count(*) AS BIGINT)) " +
      "    // CAST(count(*) AS BIGINT) - 1000000 AS m FROM q GROUP BY 1, 2), " +
      "d AS (SELECT q.vec_id, q.true_label, c.clabel, " +
      "  CAST(sum((qv - m) * (qv - m)) AS BIGINT) AS dist " +
      "  FROM q JOIN c ON c.pos = q.pos GROUP BY 1, 2, 3), " +
      "top AS (SELECT vec_id, true_label, clabel AS predicted_label, dist, " +
      "  row_number() OVER (PARTITION BY vec_id " +
      "    ORDER BY dist ASC, clabel ASC) AS rk FROM d QUALIFY rk = 1), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM top), " +
      "ranked AS (SELECT *, row_number() OVER (ORDER BY dist ASC, " +
      "  vec_id ASC) AS grk FROM top) " +
      "SELECT (grk - 1) * 10 // n_total AS bin, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(count(CASE WHEN predicted_label = true_label THEN 1 END) " +
      "  AS BIGINT) AS n_correct, " +
      "min(dist) AS lo_dist, max(dist) AS hi_dist, " +
      "count(CASE WHEN predicted_label = true_label THEN 1 END) " +
      "  * 1000000 // count(*) AS acc_ppm " +
      "FROM ranked, nn GROUP BY 1"),
    "q_ewma" -> ewmaOracle,
    // a<b<c triple join — the oracle may use the simple form the
    // operator's degree orientation makes scale-safe
    "q_triangle_count" -> (
      s"WITH $coPartEdgesSql " +
      "SELECT CAST(count(*) AS BIGINT) AS n_triangles " +
      "FROM e e1 JOIN e e2 ON e1.b = e2.a " +
      "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"),
    // a<b<c enumeration is equivalent to the engine's degree-oriented
    // one (each triangle once); attribution to all three corners
    "q_clustering_coeff" -> (
      s"WITH $coPartEdgesSql, " +
      "tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w " +
      "  FROM e e1 JOIN e e2 ON e1.b = e2.a " +
      "  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
      "pv AS (SELECT unnest([u, v, w]) AS v0 FROM tri), " +
      "t AS (SELECT v0, CAST(count(*) AS BIGINT) AS tri FROM pv " +
      "  GROUP BY 1), " +
      "d AS (SELECT v, CAST(count(*) AS BIGINT) AS dd FROM " +
      "  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) " +
      "  GROUP BY v) " +
      "SELECT d.v AS id, d.dd AS degree, " +
      "CAST(coalesce(t.tri, 0) AS BIGINT) AS n_tri, " +
      "CASE WHEN d.dd >= 2 THEN 2 * coalesce(t.tri, 0) * 1000000 // " +
      "  (d.dd * (d.dd - 1)) ELSE 0 END AS coeff_ppm " +
      "FROM d LEFT JOIN t ON t.v0 = d.v"),
    "q_mutual_nn" -> (
      "WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "  round(c.cos, 6) AS cos " +
      "  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id, " +
      "  LATERAL (SELECT list_cosine_similarity(" +
      "    CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) " +
      "    AS cos) c WHERE c.cos >= 0.45), " +
      "bo AS (SELECT id_a, id_b, cos FROM p " +
      "  UNION ALL SELECT id_b, id_a, cos FROM p), " +
      "best AS (SELECT id_a AS s, id_b AS t, cos FROM " +
      "  (SELECT *, row_number() OVER (PARTITION BY id_a " +
      "    ORDER BY cos DESC, id_b ASC) AS rn FROM bo) WHERE rn = 1) " +
      "SELECT x.s AS id_a, x.t AS id_b, x.cos AS cos FROM best x " +
      "JOIN best y ON x.t = y.s AND y.t = x.s WHERE x.s < x.t"),
    "q_kcore" -> kCoreOracle,
    "q_ktruss" -> kTrussOracle,
    "q_degree_dist" -> (
      s"WITH $coPartEdgesSql, " +
      "d AS (SELECT v, count(*) AS dd FROM " +
      "  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v) " +
      "SELECT dd AS degree, count(*) AS n_vertices FROM d GROUP BY dd"),
    "q_fd_violations" -> (
      "SELECT l_partkey, count(DISTINCT l_suppkey) AS n_distinct, " +
      "count(*) AS n_rows FROM lineitem GROUP BY l_partkey " +
      "HAVING count(DISTINCT l_suppkey) > 1"),
    "q_order_lifecycle" -> (
      "SELECT o_orderkey, " +
      "CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
      "  min(CAST(l_shipdate AS DATE))) AS BIGINT) AS days_to_first_ship, " +
      "CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
      "  max(CAST(l_shipdate AS DATE))) AS BIGINT) AS days_to_last_ship, " +
      "count(*) AS n_lines " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderkey % 9 = 0 " +
      "GROUP BY o_orderkey, o_orderdate"),
    "q_ri_audit" -> (
      "SELECT 'orders->customer' AS relation, " +
      "CAST(count(*) AS BIGINT) AS n_orphans FROM " +
      "  (SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 5000000 " +
      "    ELSE o_custkey END AS k FROM orders) o " +
      "WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.k) " +
      "UNION ALL " +
      "SELECT 'lineitem->orders', CAST(count(*) AS BIGINT) FROM lineitem l " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)"),
    "q_mix_top_p" -> (
      "WITH d AS (SELECT doc_id, n_chars, CAST(len(list_filter(" +
      "regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'), " +
      "t -> t != '')) AS BIGINT) AS tok FROM documents), " +
      "t AS (SELECT CAST(sum(tok) AS BIGINT) AS total FROM d), " +
      "c AS (SELECT doc_id, n_chars, tok, CAST(sum(tok) OVER " +
      "  (ORDER BY n_chars DESC, doc_id ASC ROWS BETWEEN UNBOUNDED " +
      "  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM d) " +
      "SELECT doc_id, n_chars, tok, cum_tokens FROM c, t " +
      "WHERE (cum_tokens - tok) * 1000000 < 600000 * total"),
    "q_join_nullsafe" -> (
      "WITH a AS (SELECT nullif(o_orderpriority, '1-URGENT') AS p " +
      "  FROM orders), " +
      "b AS (SELECT DISTINCT nullif(o_orderpriority, '1-URGENT') AS p " +
      "  FROM orders) " +
      "SELECT a.p, count(*) AS n FROM a JOIN b " +
      "ON a.p IS NOT DISTINCT FROM b.p GROUP BY a.p"),
    "q_ntile" -> (
      "SELECT c_custkey, c_acctbal, CAST(ntile(4) OVER " +
      "(ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS quartile " +
      "FROM customer"),
    "q_window_distribution" -> (
      "SELECT c_custkey, c_nationkey, " +
      "CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_ppm, " +
      "CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_ppm, " +
      "CAST(dense_rank() OVER w AS BIGINT) AS dr " +
      "FROM customer WINDOW w AS (PARTITION BY c_nationkey " +
      "ORDER BY c_acctbal ASC, c_custkey ASC)"),
    "q_inverted_index" -> (
      "WITH tok AS (SELECT doc_id, unnest(list_filter(" +
      "regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'), " +
      "t -> t != '')) AS term FROM documents), " +
      "td AS (SELECT term, doc_id, count(*) AS c FROM tok GROUP BY 1, 2), " +
      "r AS (SELECT term, doc_id, c, row_number() OVER " +
      "  (PARTITION BY term ORDER BY doc_id) AS rn FROM td) " +
      "SELECT term, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf, " +
      "array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 8)), ',') " +
      "  AS posting_sample " +
      "FROM r GROUP BY term"),
    // closed-form 2-D skyline: per-price max date, then a strict-prefix
    // running max over descending price; survivors join back for ties
    "q_skyline" -> (
      "WITH g AS (SELECT o_totalprice AS x, max(o_orderdate) AS y " +
      "  FROM orders GROUP BY 1), " +
      "s AS (SELECT x, y, max(y) OVER (ORDER BY x DESC " +
      "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM g) " +
      "SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate " +
      "FROM orders o JOIN s ON o.o_totalprice = s.x AND o.o_orderdate = s.y " +
      "WHERE s.pm IS NULL OR s.y > s.pm"),
    "q_trigram_join" -> (
      "WITH p AS (SELECT p_partkey AS id, " +
      "  lower(trim(coalesce(p_name, ''))) AS s " +
      "  FROM part WHERE p_partkey % 20 = 0), " +
      "g AS (SELECT id, list_distinct([substr(s, i, 3) " +
      "  for i in range(1, len(s) - 1)]) AS gs FROM p WHERE len(s) >= 3) " +
      "SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b, " +
      "CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS shared, " +
      "CAST(len(list_intersect(a.gs, b.gs)) * 1000000 // " +
      "  (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) " +
      "  AS BIGINT) AS jac_ppm " +
      "FROM g a JOIN g b ON a.id < b.id " +
      "WHERE len(list_intersect(a.gs, b.gs)) >= 1 " +
      "AND len(list_intersect(a.gs, b.gs)) * 1000000 // " +
      "  (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) " +
      "  >= 450000"),
    "q_corpus_stats" -> (
      "SELECT source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_len, " +
      "round(quantile_cont(n_chars, 0.25), 6) AS p25, " +
      "round(quantile_cont(n_chars, 0.5), 6) AS p50, " +
      "round(quantile_cont(n_chars, 0.9), 6) AS p90, " +
      "round(quantile_cont(n_chars, 0.99), 6) AS p99 " +
      "FROM documents GROUP BY source"),
    // generated from Transformators.PiiRules — one source of truth for
    // the pattern strings (they are RE2-compatible by construction)
    "q_pii_redact" -> {
      val redacted = graft.operators.Transformators.PiiRules
        .foldLeft("c_name") { case (acc, (re, tag)) =>
          s"regexp_replace($acc, '$re', '$tag', 'g')"
        }
      s"SELECT c_custkey, $redacted AS c_name, c_nationkey, c_acctbal, " +
      "c_mktsegment FROM customer"
    },
    // scaled-log arithmetic written IDENTICALLY on both sides:
    // floor(1e6*ln(p)+0.5) as exact longs (order-independent integer
    // sums), perplexity from the same division shape, round 6
    "q_bm25_score" -> bm25Sql,
    "q_lm_score" -> (
      "WITH tok AS (SELECT doc_id, unnest(list_filter(" +
      "  regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS w " +
      "  FROM documents), " +
      "cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w), " +
      "tot AS (SELECT sum(c) AS t FROM cnt), " +
      "vocab AS (SELECT w, CAST(floor(1e6 * ln(c * 1.0 / t) + 0.5) AS BIGINT) AS lp " +
      "  FROM cnt, tot QUALIFY row_number() OVER (ORDER BY c DESC, w ASC) <= 20), " +
      "oov AS (SELECT CAST(floor(1e6 * ln(0.5 / t) + 0.5) AS BIGINT) AS lp FROM tot), " +
      "scored AS (SELECT doc_id, count(*) AS n, " +
      "  sum(coalesce(v.lp, o.lp)) AS s " +
      "  FROM tok LEFT JOIN vocab v USING (w) CROSS JOIN oov o GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(coalesce(sc.n, 0) AS INT) AS n_tokens, " +
      "CAST(coalesce(sc.s, 0) AS BIGINT) AS lp_scaled, " +
      "CASE WHEN coalesce(sc.n, 0) = 0 THEN 0.0 ELSE " +
      "round(exp(-(CAST(sc.s AS DOUBLE)) / (sc.n * 1000000.0)), 6) END AS ppl " +
      "FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id"),
    // the exact quadratic form the blocking avoids; both engines'
    // levenshtein is the standard unit-cost edit distance
    "q_fuzzy_pairs" -> (
      "WITH pop AS (SELECT c_custkey AS id, lower(trim(c_name)) AS s " +
      "  FROM customer WHERE c_custkey % 10 = 0) " +
      "SELECT a.id AS id_a, b.id AS id_b, " +
      "CAST(levenshtein(a.s, b.s) AS INT) AS dist " +
      "FROM pop a JOIN pop b ON a.id < b.id " +
      "WHERE levenshtein(a.s, b.s) <= 1"),
    // full replay: identical integer-scaled idf, exact integer dot and
    // norms, cosine as the only double (sqrt correctly rounded), same
    // total order through the LIMIT
    "q_tfidf_sim" -> (
      "WITH tok AS (SELECT doc_id, unnest(list_filter(" +
      "  regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '')) AS w " +
      "  FROM documents), " +
      "tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w), " +
      "n AS (SELECT count(*) AS nd FROM documents), " +
      "idf AS (SELECT w, CAST(floor(1e3 * ln(nd * 1.0 / df) + 0.5) AS BIGINT) " +
      "  AS idf FROM (SELECT w, count(*) AS df FROM tf GROUP BY w) dfq, n " +
      "  WHERE df BETWEEN 2 AND 50), " +
      "vec AS (SELECT doc_id, tf.w, tf * idf AS wt FROM tf JOIN idf USING (w)), " +
      "nrm AS (SELECT doc_id, sum(wt * wt) AS n2 FROM vec GROUP BY doc_id), " +
      "dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "  sum(a.wt * b.wt) AS d FROM vec a JOIN vec b " +
      "  ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT id_a, id_b, round(CAST(d AS DOUBLE) / " +
      "  (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos " +
      "FROM dot JOIN nrm na ON na.doc_id = id_a " +
      "JOIN nrm nb ON nb.doc_id = id_b " +
      "ORDER BY cos DESC, id_a, id_b LIMIT 20"),
    // full model replay in SQL: both vocab tiers retrained from the
    // corpus, identical scaled-log arithmetic, chr(31) = the 
    // bigram separator; stupid-backoff branch = ln(0.4) + unigram(w2)
    "q_lm_bigram" -> (
      "WITH tok AS (SELECT doc_id, list_filter(" +
      "  regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != '') AS t " +
      "  FROM documents), " +
      "uni AS (SELECT unnest(t) AS w FROM tok), " +
      "cnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w), " +
      "tot AS (SELECT sum(c) AS tt FROM cnt), " +
      "vocab AS (SELECT w, CAST(floor(1e6 * ln(c * 1.0 / tt) + 0.5) AS BIGINT) AS lp " +
      "  FROM cnt, tot QUALIFY row_number() OVER (ORDER BY c DESC, w ASC) <= 20), " +
      "oov AS (SELECT CAST(floor(1e6 * ln(0.5 / tt) + 0.5) AS BIGINT) AS lp FROM tot), " +
      "bo AS (SELECT CAST(floor(1e6 * ln(0.4) + 0.5) AS BIGINT) AS lp), " +
      "pairs AS (SELECT doc_id, " +
      "  unnest(list_transform(range(1, len(t)), i -> t[i] || chr(31) || t[i+1])) AS b, " +
      "  unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2 " +
      "  FROM tok WHERE len(t) >= 2), " +
      "bcnt AS (SELECT b, count(*) AS cb FROM pairs GROUP BY b), " +
      "bmodel AS (SELECT b, CAST(floor(1e6 * ln(cb * 1.0 / c1.c) + 0.5) AS BIGINT) AS lp " +
      "  FROM bcnt JOIN cnt c1 ON split_part(bcnt.b, chr(31), 1) = c1.w " +
      "  QUALIFY row_number() OVER (ORDER BY cb DESC, b ASC) <= 30), " +
      "scored AS (SELECT doc_id, count(*) AS nb, " +
      "  sum(coalesce(bm.lp, bo.lp + coalesce(v.lp, o.lp))) AS s " +
      "  FROM pairs LEFT JOIN bmodel bm USING (b) " +
      "  LEFT JOIN vocab v ON pairs.w2 = v.w " +
      "  CROSS JOIN oov o CROSS JOIN bo GROUP BY doc_id) " +
      "SELECT tk.doc_id, " +
      "CAST(CASE WHEN len(tk.t) >= 2 THEN len(tk.t) - 1 ELSE 0 END AS INT) AS n_bigrams, " +
      "CAST(coalesce(sc.s, 0) AS BIGINT) AS lp_scaled, " +
      "CASE WHEN coalesce(sc.nb, 0) = 0 THEN 0.0 ELSE " +
      "round(exp(-(CAST(sc.s AS DOUBLE)) / (sc.nb * 1000000.0)), 6) END AS ppl " +
      "FROM tok tk LEFT JOIN scored sc ON tk.doc_id = sc.doc_id"),
    // generated per column — one UNION ALL branch per customer column
    "q_profile" -> (Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .map(c => s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
        s"CAST(count(*) - count($c) AS BIGINT) AS n_nulls, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM customer")
      .mkString(" UNION ALL ") +
      // temporal columns: DATE straight through; the events timestamp
      // compares at µs on both sides (epoch_us mirrors the Spark
      // side's timestamp_micros(ts div 1000) surface)
      " UNION ALL SELECT 'o_orderdate' AS col_name, count(*) AS n_rows, " +
      "CAST(count(*) - count(o_orderdate) AS BIGINT) AS n_nulls, " +
      "CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_distinct FROM orders" +
      " UNION ALL SELECT 'ts' AS col_name, count(*) AS n_rows, " +
      "CAST(count(*) - count(ts) AS BIGINT) AS n_nulls, " +
      "CAST(count(DISTINCT epoch_us(ts)) AS BIGINT) AS n_distinct FROM events"),
    "q_source_report" -> (
      "WITH t AS (SELECT source, " +
      "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp, " +
      s"CAST($qNtokSql AS BIGINT) AS tok, " +
      s"round($qQualitySql, 6) AS q FROM documents) " +
      // integer-only projection (mirrors Corpus.sourceReportInts): no
      // DOUBLE column survives to the compared output, so the row hash
      // cannot depend on any engine's float formatting — n_dups and
      // sum_q_scaled carry the same information as the dup_rate /
      // avg_quality ratios (one division recovers them)
      "SELECT source, count(*) AS n_docs, " +
      "count(DISTINCT fp) AS n_distinct, " +
      "CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dups, " +
      // CAST required: DuckDB types sum(BIGINT) as HUGEINT, which pandas
      // materializes as float64 while the Spark parquet column is int64 —
      // a typed hasher then differs on bit-identical values (this exact
      // column was the r5–r7 q_source_report hash mismatch)
      "CAST(sum(tok) AS BIGINT) AS total_tokens, " +
      "CAST(sum(CAST(floor(q * 1e6 + 0.5) AS BIGINT)) AS BIGINT) " +
      "AS sum_q_scaled " +
      "FROM t GROUP BY source"),
    // replays the runtime-derived keep-rate in SQL: rate = budget /
    // exact integer token total (both engines do the same float64
    // division), threshold = floor(rate * 16^15) rendered as 15 hex
    // digits — the same math as Sampling.thresholdHex, so the per-row
    // lexicographic md5 compare selects the identical rows
    "q_mix_token_budget" -> (
      "WITH t AS (SELECT doc_id, " +
      s"CAST($qNtokSql AS BIGINT) AS tok FROM documents), " +
      "ev AS (SELECT doc_id FROM t WHERE doc_id % 2 = 0), " +
      "rate AS (SELECT CAST(5000 AS DOUBLE) / sum(tok) AS r FROM t " +
      "  WHERE doc_id % 2 = 0) " +
      // r >= 1 replicates hashSample's keep-all branch: thresholdHex is
      // undefined at rate 1 (needs 16 hex digits) and Spark skips the
      // filter entirely — without this guard the truncated threshold
      // would silently keep ~1/16 of rows (r4 review finding)
      "SELECT doc_id, 'even' AS __source FROM ev, rate " +
      "WHERE r >= 1.0 OR " +
      "substr(md5('42:even:' || CAST(doc_id AS VARCHAR)), 1, 15) < " +
      "  lpad(lower(hex(CAST(floor(r * power(16.0, 15)) AS BIGINT))), 15, '0') " +
      "UNION ALL " +
      "SELECT doc_id, 'odd' AS __source FROM t WHERE doc_id % 2 != 0"),
    // temperature mix at tau=2: shares via sqrt (IEEE correctly rounded
    // => engine-identical from the same exact integer totals); operand
    // order mirrors Sampling.temperatureMix exactly: (p/denom * B) / t
    "q_mix_temperature" -> (
      "WITH t AS (SELECT doc_id, " +
      s"CAST($qNtokSql AS BIGINT) AS tok FROM documents), " +
      "te AS (SELECT CAST(sum(tok) AS DOUBLE) AS v FROM t WHERE doc_id % 2 = 0), " +
      "tod AS (SELECT CAST(sum(tok) AS DOUBLE) AS v FROM t WHERE doc_id % 2 != 0), " +
      "rates AS (SELECT " +
      "  sqrt(te.v) / (sqrt(te.v) + sqrt(tod.v)) * CAST(6000 AS DOUBLE) / te.v AS re, " +
      "  sqrt(tod.v) / (sqrt(te.v) + sqrt(tod.v)) * CAST(6000 AS DOUBLE) / tod.v AS ro " +
      "  FROM te, tod) " +
      "SELECT doc_id, 'even' AS __source FROM t, rates WHERE doc_id % 2 = 0 " +
      "AND (re >= 1.0 OR " +
      "substr(md5('42:even:' || CAST(doc_id AS VARCHAR)), 1, 15) < " +
      "  lpad(lower(hex(CAST(floor(re * power(16.0, 15)) AS BIGINT))), 15, '0')) " +
      "UNION ALL " +
      "SELECT doc_id, 'odd' AS __source FROM t, rates WHERE doc_id % 2 != 0 " +
      "AND (ro >= 1.0 OR " +
      "substr(md5('42:odd:' || CAST(doc_id AS VARCHAR)), 1, 15) < " +
      "  lpad(lower(hex(CAST(floor(ro * power(16.0, 15)) AS BIGINT))), 15, '0'))"),
    // the 60-bit md5 value rebuilt digit-by-digit as exact BIGINT math
    // (v < 16^15 fits int64); v is non-negative so % == pmod
    "q_shard_assign" -> {
      val poly = (1 to 15).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
          (1L << (4 * (15 - i)))).mkString(" + ")
      "WITH t AS (SELECT doc_id, " +
      "substr(md5('42:shard:' || CAST(doc_id AS VARCHAR)), 1, 15) AS h " +
      "FROM documents), " +
      s"v AS (SELECT doc_id, h, CAST($poly AS BIGINT) AS v FROM t) " +
      "SELECT doc_id, CAST(v % 8 AS INT) AS __shard, " +
      "CAST(row_number() OVER (PARTITION BY v % 8 ORDER BY h, doc_id) - 1 " +
      "AS BIGINT) AS __pos FROM v"
    },
    // repetition CTEs shared with q_quality_repetition; quality formula
    // shared with q_text_quality — all comparisons on round-6 values,
    // matching the Spark side's rounded signals exactly
    "q_quality_filter" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts " +
      "  FROM documents), " +
      "base AS (SELECT doc_id, len(ts) AS n_tokens, " +
      "  len(list_distinct(ts)) AS n_distinct FROM tok), " +
      "bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i)), " +
      "bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), " +
      "mx AS (SELECT doc_id, max(c) AS mc, sum(c) AS nb FROM bc GROUP BY 1), " +
      "rep AS (SELECT b.doc_id, b.n_tokens, " +
      "  round(CASE WHEN b.n_tokens = 0 THEN 0.0 " +
      "    ELSE 1.0 - b.n_distinct * 1.0 / b.n_tokens END, 6) AS dwr, " +
      "  round(CASE WHEN mx.nb IS NULL THEN 0.0 " +
      "    ELSE mx.mc * 1.0 / mx.nb END, 6) AS tbr " +
      "  FROM base b LEFT JOIN mx ON b.doc_id = mx.doc_id) " +
      "SELECT d.* FROM documents d JOIN rep r ON d.doc_id = r.doc_id " +
      "WHERE r.n_tokens BETWEEN 20 AND 1000 " +
      s"AND round($qQualitySql, 6) >= 0.55 " +
      "AND r.dwr <= 0.6 AND r.tbr <= 0.1"),
    // DSIR importance weights: hashed word-bigram buckets (the 52-bit
    // md5 bucket every hashing oracle replays), per-bucket smoothed
    // target/source count ratio, per-doc truncating mean; zero-bigram
    // docs keep an honest NULL weight via the left join
    "q_importance_weights" -> (
      "WITH tk AS (SELECT doc_id, lang, list_filter(" +
      "  regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != '') " +
      "  AS toks FROM documents), " +
      "bg AS MATERIALIZED (SELECT doc_id, lang, " +
      "  CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT) % 8192 " +
      "  AS bkt FROM (SELECT doc_id, lang, " +
      "  unnest(list_transform(range(len(toks) - 1), " +
      "    i -> toks[i + 1] || ' ' || toks[i + 2])) AS g FROM tk)), " +
      "tc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS t FROM bg " +
      "  WHERE lang = 'en' GROUP BY 1), " +
      "sc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS s FROM bg " +
      "  GROUP BY 1), " +
      "rt AS (SELECT sc.bkt, " +
      "  (coalesce(tc.t, 0) + 1) * 1000000 // (sc.s + 1) AS r " +
      "  FROM sc LEFT JOIN tc ON sc.bkt = tc.bkt), " +
      "pd AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
      "  CAST(sum(rt.r) // count(*) AS BIGINT) AS w " +
      "  FROM bg JOIN rt ON bg.bkt = rt.bkt GROUP BY 1) " +
      "SELECT d.doc_id, " +
      "CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams, " +
      "pd.w AS weight_ppm " +
      "FROM (SELECT DISTINCT doc_id FROM documents) d " +
      "LEFT JOIN pd ON d.doc_id = pd.doc_id"),
    // hashing-trick vectorizer: same 52-bit md5 bucket + independent
    // md5 sign bit as Corpus.featureHash
    "q_feature_hash" -> (
      "WITH tk AS (SELECT doc_id, unnest(list_filter(" +
      "  regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != '')) " +
      "  AS tok FROM documents), " +
      "h AS (SELECT doc_id, " +
      "  CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) % 64 " +
      "    AS feature, " +
      "  CASE WHEN CAST(concat('0x', substr(md5('sign:' || tok), 1, 13)) " +
      "    AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s FROM tk) " +
      "SELECT doc_id, feature, CAST(sum(s) AS BIGINT) AS val " +
      "FROM h GROUP BY 1, 2"),
    // nearest-centroid confusion: scaled-integer centroids (the
    // q_label_centroid_sim discipline), exact BIGINT L2, argmin with
    // label-asc ties
    "q_centroid_confusion" -> (
      "WITH q AS (SELECT vec_id, label AS true_label, " +
      "  unnest(list_transform(embedding, x -> " +
      "    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS qv, " +
      "  unnest(range(len(embedding))) AS pos FROM embeddings), " +
      "c AS (SELECT true_label AS clabel, pos, " +
      "  (CAST(sum(qv) AS BIGINT) + 1000000 * CAST(count(*) AS BIGINT)) " +
      "    // CAST(count(*) AS BIGINT) - 1000000 AS m FROM q GROUP BY 1, 2), " +
      "d AS (SELECT q.vec_id, q.true_label, c.clabel, " +
      "  CAST(sum((qv - m) * (qv - m)) AS BIGINT) AS dist " +
      "  FROM q JOIN c ON c.pos = q.pos GROUP BY 1, 2, 3), " +
      "p AS (SELECT vec_id, true_label, clabel AS predicted_label, " +
      "  row_number() OVER (PARTITION BY vec_id " +
      "    ORDER BY dist ASC, clabel ASC) AS rk FROM d) " +
      "SELECT true_label, predicted_label, CAST(count(*) AS BIGINT) AS n " +
      "FROM p WHERE rk = 1 GROUP BY 1, 2"),
    "q_dedup_incremental" -> incrementalDedupSql,
    // new-batch docs that are NOT >= 0.5-jaccard near-dups of any
    // accepted (doc_id < 400) document; jj carries id_a < id_b, and an
    // accepted-vs-new pair always has the accepted id on the a side
    "q_neardup_incremental" -> (
      s"WITH $jaccardCtesSql " +
      "SELECT d.* FROM documents d WHERE d.doc_id >= 400 " +
      "AND NOT EXISTS (SELECT 1 FROM jj " +
      "  WHERE jj.id_b = d.doc_id AND jj.id_a < 400)"),
    // the bloom pre-filter is result-invisible (no false negatives;
    // false positives removed by the verify join) => same oracle
    "q_dedup_incremental_bloom" -> incrementalDedupSql,
    "q_dedup_chunks" -> (
      "WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), " +
      "  '\\s+') AS ts FROM documents), " +
      "ch AS (SELECT doc_id, i, array_to_string(ts[i*10+1:i*10+10], ' ') AS chunk " +
      "  FROM tok, LATERAL (SELECT unnest(range(CAST(ceil(len(ts) / 10.0) " +
      "  AS BIGINT))) AS i)), " +
      "win AS (SELECT doc_id, i, chunk FROM ch QUALIFY " +
      "  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, i) = 1) " +
      "SELECT doc_id, string_agg(chunk, ' ' ORDER BY i) AS text_clean " +
      "FROM win GROUP BY doc_id"),
    "q_dedup_substring" -> (substrDupCtes +
      ", nd AS (SELECT doc_id, count(DISTINCT gram) AS n_dup_ngrams " +
      "  FROM h GROUP BY doc_id), " +
      "cv AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id) " +
      "SELECT t.doc_id, coalesce(nd.n_dup_ngrams, 0) AS n_dup_ngrams, " +
      "coalesce(cv.dup_tokens, 0) AS dup_tokens, len(t.toks) AS n_tokens " +
      "FROM tk t LEFT JOIN nd USING (doc_id) LEFT JOIN cv USING (doc_id)"),
    "q_dedup_substring_clean" -> substrCleanOracle,
    // same semantics through the SQL surface => same oracle
    "q_substring_clean_sql" -> substrCleanOracle,
    "q_sample_reservoir" -> (
      "SELECT doc_id, lang, source, n_chars FROM documents " +
      "ORDER BY md5('rsv' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 200"),
    "q_window_range_frame" -> (
      "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
      "  CAST(round(value*100) AS BIGINT) AS cents FROM events) " +
      "SELECT event_id, user_id, ts_us, " +
      "CAST(count(*) OVER w AS BIGINT) AS w_cnt, " +
      "CAST(sum(cents) OVER w AS BIGINT) AS w_cents " +
      "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us " +
      "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"),
    "q_time_to_event" -> (
      "WITH g AS (SELECT event_type, lead(epoch_us(ts)) OVER " +
      "  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) " +
      "  - epoch_us(ts) AS gap FROM events) " +
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, " +
      "CAST(sum(gap) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_gap_us " +
      "FROM g WHERE gap IS NOT NULL GROUP BY event_type"),
    // the IVM merge must equal the full recompute — so the oracle IS
    // the full recompute
    "q_ivm_agg" -> (
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
      "FROM orders GROUP BY o_orderpriority"),
    "q_cusum" -> (
      "WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day_idx, " +
      "  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS total, " +
      "  CAST(count(*) AS BIGINT) AS days FROM d) " +
      "SELECT day_idx, n, CAST(sum(n*1000000 - " +
      "  (SELECT total*1000000//days FROM t)) OVER " +
      "  (ORDER BY day_idx) AS BIGINT) AS cusum_ppm FROM d"),
    "q_contribution" -> (
      "WITH r AS (SELECT c_nationkey, " +
      "  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
      "  FROM customer JOIN orders ON c_custkey = o_custkey " +
      "  GROUP BY c_nationkey) " +
      "SELECT c_nationkey, cents, " +
      "cents*1000000 // CAST(sum(cents) OVER () AS BIGINT) AS share_ppm " +
      "FROM r"),
    "q_embed_quantize" -> (
      "WITH q AS (SELECT vec_id, label, list_transform(embedding, " +
      "  x -> greatest(-127, least(127, " +
      "  CAST(floor(CAST(x AS DOUBLE)*127 + 0.5) AS BIGINT)))) AS qq " +
      "  FROM embeddings) " +
      "SELECT vec_id, label, " +
      "CAST(list_aggregate(qq, 'sum') AS BIGINT) AS q_sum, " +
      "CAST(list_aggregate(list_transform(qq, x -> abs(x)), 'sum') " +
      "  AS BIGINT) AS q_l1, " +
      "CAST(list_aggregate(qq, 'max') AS BIGINT) AS q_max FROM q"),
    "q_quantile_normalize" -> (
      "WITH d AS (SELECT doc_id, source, n_chars, " +
      "  CAST(rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) " +
      "    AS BIGINT) AS rk, " +
      "  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS cnt " +
      "  FROM documents) " +
      "SELECT doc_id, source, n_chars, (rk-1)*1000000 // (cnt-1) AS pct_ppm " +
      "FROM d"),
    "q_gaps_islands" -> (
      "WITH d AS (SELECT DISTINCT user_id, " +
      "  epoch_us(ts) // 86400000000 AS day_idx FROM events), " +
      "i AS (SELECT user_id, day_idx, day_idx - row_number() OVER " +
      "  (PARTITION BY user_id ORDER BY day_idx) AS isl FROM d) " +
      "SELECT user_id, CAST(min(day_idx) AS BIGINT) AS start_day, " +
      "CAST(max(day_idx) AS BIGINT) AS end_day, " +
      "CAST(count(*) AS BIGINT) AS n_days FROM i GROUP BY user_id, isl"),
    "q_attribution" -> (
      "WITH m AS (SELECT event_id, user_id, event_type, " +
      "  epoch_us(ts) AS ts_us, " +
      "  CASE WHEN event_type IN ('click','view') THEN event_id END AS mk_id, " +
      "  CASE WHEN event_type IN ('click','view') THEN epoch_us(ts) END " +
      "    AS mk_ts FROM events), " +
      "a AS (SELECT event_id, user_id, event_type, ts_us, " +
      "  last_value(mk_id IGNORE NULLS) OVER w AS attr_id, " +
      "  last_value(mk_ts IGNORE NULLS) OVER w AS attr_ts FROM m " +
      "  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
      "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
      "SELECT event_id, user_id, attr_id, ts_us - attr_ts AS gap_us FROM a " +
      "WHERE event_type = 'purchase' AND attr_id IS NOT NULL"),
    // exact reachability closure (the q_graph_components oracle) +
    // majority vote with the (votes desc, label asc) tie-break
    "q_component_label" -> (
      "WITH RECURSIVE e AS (SELECT DISTINCT " +
      "  CAST(l_suppkey * 2 + 1 AS BIGINT) AS a, " +
      "  CAST(o_custkey * 2 AS BIGINT) AS b " +
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "  WHERE l_quantity = 50 AND l_linenumber = 7), " +
      "ud AS (SELECT a, b FROM e UNION SELECT b, a FROM e), " +
      "reach(s, t) AS (SELECT a, b FROM ud " +
      "  UNION SELECT r.s, u.b FROM reach r JOIN ud u ON r.t = u.a), " +
      "comp AS (SELECT s AS id, CAST(least(s, min(t)) AS BIGINT) " +
      "  AS component FROM reach GROUP BY s), " +
      "lab AS (SELECT c.component, cu.c_mktsegment AS seg, " +
      "  CAST(count(*) AS BIGINT) AS n FROM comp c " +
      "  JOIN customer cu ON c.id = cu.c_custkey * 2 GROUP BY 1, 2), " +
      "mx AS (SELECT component, seg, n, rank() OVER (PARTITION BY " +
      "  component ORDER BY n DESC, seg ASC) AS rk FROM lab) " +
      "SELECT component, seg AS majority_label, n AS n_votes " +
      "FROM mx WHERE rk = 1"),
    "q_basket_pairs" -> (
      "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 200 AS pg " +
      "  FROM lineitem) " +
      "SELECT a.pg AS item_a, b.pg AS item_b, " +
      "CAST(count(*) AS BIGINT) AS support " +
      "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.pg < b.pg " +
      "GROUP BY 1, 2 HAVING count(*) >= 8"),
    "q_dq_rules" -> (
      "SELECT 'c_acctbal_nonneg' AS rule, CAST(count(*) FILTER " +
      "  (WHERE c_acctbal < 0) AS BIGINT) AS n_violations, " +
      "  CAST(count(*) AS BIGINT) AS n_checked FROM customer " +
      "UNION ALL SELECT 'c_name_prefix', CAST(count(*) FILTER " +
      "  (WHERE c_name NOT LIKE 'Customer#%') AS BIGINT), " +
      "  CAST(count(*) AS BIGINT) FROM customer " +
      "UNION ALL SELECT 'o_totalprice_pos', CAST(count(*) FILTER " +
      "  (WHERE o_totalprice <= 0) AS BIGINT), " +
      "  CAST(count(*) AS BIGINT) FROM orders " +
      "UNION ALL SELECT 'l_discount_range', CAST(count(*) FILTER " +
      "  (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT), " +
      "  CAST(count(*) AS BIGINT) FROM lineitem"),
    "q_asof_tolerance" -> (
      "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
      "  FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT event_id AS attr_id, user_id, epoch_us(ts) AS c_ts " +
      "  FROM events WHERE event_type = 'click') " +
      "SELECT p.event_id, p.user_id, c.attr_id, p.ts_us - c.c_ts AS gap_us " +
      "FROM p JOIN c ON p.user_id = c.user_id " +
      "  AND c.c_ts <= p.ts_us AND c.c_ts > p.ts_us - 14400000000 " +
      "QUALIFY row_number() OVER (PARTITION BY p.event_id " +
      "  ORDER BY c.c_ts DESC, c.attr_id DESC) = 1"),
    "q_ohlc_resample" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx, " +
      "  epoch_us(ts) AS ts_us, event_id, " +
      "  CAST(round(value*100) AS BIGINT) AS cents FROM events), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY user_id, day_idx " +
      "  ORDER BY ts_us, event_id) AS ra, " +
      "  row_number() OVER (PARTITION BY user_id, day_idx " +
      "  ORDER BY ts_us DESC, event_id DESC) AS rd FROM e) " +
      "SELECT user_id, day_idx, " +
      "CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_c, " +
      "CAST(max(cents) AS BIGINT) AS high_c, " +
      "CAST(min(cents) AS BIGINT) AS low_c, " +
      "CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_c, " +
      "CAST(count(*) AS BIGINT) AS n_events FROM r GROUP BY 1, 2"),
    "q_target_encode" -> (
      "WITH o AS (SELECT o_orderkey, o_orderpriority, " +
      "  CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders), " +
      "g AS (SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS s, " +
      "  CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1) " +
      "SELECT o_orderkey, o.o_orderpriority, (s - c) // (n - 1) " +
      "  AS loo_cents " +
      "FROM o JOIN g USING (o_orderpriority) WHERE o_orderkey % 13 = 0"),
    "q_label_outliers" -> (
      "WITH q AS (SELECT vec_id, label, list_transform(embedding, " +
      "  x -> greatest(-127, least(127, " +
      "  CAST(floor(CAST(x AS DOUBLE)*127 + 0.5) AS BIGINT)))) AS qq " +
      "  FROM embeddings), " +
      "e AS (SELECT vec_id, label, i AS pos, qq[i+1] AS code " +
      "  FROM q, LATERAL (SELECT unnest(range(len(qq))) AS i)), " +
      "c AS (SELECT label, pos, CAST(sum(code) AS BIGINT) AS csum, " +
      "  CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), " +
      "d AS (SELECT e.vec_id, e.label, " +
      "  CAST(sum((e.code * c.n - c.csum) * (e.code * c.n - c.csum)) " +
      "    AS BIGINT) AS dist_sc " +
      "  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos " +
      "  GROUP BY 1, 2) " +
      "SELECT vec_id, label, dist_sc, CAST(rank() OVER (PARTITION BY " +
      "  label ORDER BY dist_sc DESC, vec_id ASC) AS BIGINT) AS out_rank " +
      "FROM d QUALIFY out_rank <= 5"),
    "q_sketch_hll" -> hllOracle,
    // merged shard registers ≡ whole-corpus registers => same oracle
    "q_sketch_hll_merge" -> hllOracle,
    "q_dist_drift" -> (
      "WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) " +
      "  AS xc, CASE WHEN epoch_us(ts) // 86400000000 < 19738 THEN 0 " +
      "  ELSE 1 END AS half FROM events), " +
      "b AS (SELECT min(xc) AS lo, max(xc) AS hi FROM c), " +
      "g AS (SELECT event_type, (xc - lo) * 10 // (hi - lo + 1) AS bin, " +
      "  CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS n0, " +
      "  CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS n1 " +
      "  FROM c, b GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(n0) AS BIGINT) AS t0, " +
      "  CAST(sum(n1) AS BIGINT) AS t1 FROM g GROUP BY 1) " +
      "SELECT g.event_type, CAST(sum(abs(n0 * 1000000 // t0 - " +
      "  n1 * 1000000 // t1)) // 2 AS BIGINT) AS tv_ppm " +
      "FROM g JOIN t ON g.event_type = t.event_type GROUP BY 1"),
    "q_session_duration" -> (
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts " +
      "  FROM events), " +
      "l AS (SELECT *, CASE WHEN ts - lag(ts) OVER w > 21600000000 " +
      "  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk FROM e " +
      "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id " +
      "  ORDER BY ts, event_id) AS sess FROM l), " +
      "agg AS (SELECT user_id, sess, max(ts) - min(ts) AS dur " +
      "  FROM s GROUP BY 1, 2), " +
      "r AS (SELECT user_id, dur, row_number() OVER (PARTITION BY " +
      "  user_id ORDER BY dur, sess) AS rn, " +
      "  count(*) OVER (PARTITION BY user_id) AS n FROM agg) " +
      "SELECT user_id, CAST(max(n) AS BIGINT) AS n_sessions, " +
      "CAST(max(CASE WHEN rn = ceil(n*0.5) THEN dur END) AS BIGINT) " +
      "  AS p50_dur_us, " +
      "CAST(max(CASE WHEN rn = ceil(n*0.9) THEN dur END) AS BIGINT) " +
      "  AS p90_dur_us FROM r GROUP BY 1"),
    "q_star_join" -> (
      "SELECT CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_yr, " +
      "CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week, " +
      "CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) " +
      "  AS cents FROM orders GROUP BY 1, 2"),
    "q_iqr_outliers" -> (
      "WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) " +
      "  AS xc, event_id FROM events), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
      "  ORDER BY xc, event_id) AS rn, " +
      "  count(*) OVER (PARTITION BY event_type) AS n FROM c), " +
      "q AS (SELECT event_type, " +
      "  max(CASE WHEN rn = ceil(n*0.25) THEN xc END) AS q1c, " +
      "  max(CASE WHEN rn = ceil(n*0.75) THEN xc END) AS q3c, " +
      "  max(n) AS n FROM r GROUP BY 1) " +
      "SELECT c.event_type, CAST(max(q.n) AS BIGINT) AS n, " +
      "CAST(max(q1c) AS BIGINT) AS q1_c, CAST(max(q3c) AS BIGINT) AS q3_c, " +
      "CAST(count(*) FILTER (WHERE 2*xc < 2*q1c - 3*(q3c-q1c) " +
      "  OR 2*xc > 2*q3c + 3*(q3c-q1c)) AS BIGINT) AS n_outliers " +
      "FROM c JOIN q ON c.event_type = q.event_type GROUP BY 1"),
    "q_ann_filtered" -> (
      "SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, " +
      "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), " +
      "CAST(c.embedding AS DOUBLE[])) AS cos, " +
      "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), " +
      "CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS INT) AS rank " +
      "FROM embeddings q JOIN embeddings c ON q.vec_id < 5 " +
      "AND q.vec_id != c.vec_id AND c.label % 2 = 0 " +
      "QUALIFY rank <= 5"),
    "q_activity_heatmap" -> (
      "WITH d AS (SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS dow, " +
      "  epoch_us(ts) % 86400000000 // 3600000000 AS hour FROM events), " +
      "g AS (SELECT dow, hour, CAST(count(*) AS BIGINT) AS n FROM d " +
      "  GROUP BY 1, 2) " +
      "SELECT dow, hour, n, n * 1000000 // " +
      "CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS share_ppm FROM g"),
    "q_lead_time_percentiles" -> (
      "WITH l AS (SELECT o_orderpriority AS pri, " +
      "  CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
      "    CAST(l_shipdate AS DATE)) AS BIGINT) AS days, " +
      "  o_orderkey, l_linenumber " +
      "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "r AS (SELECT pri, days, row_number() OVER (PARTITION BY pri " +
      "  ORDER BY days, o_orderkey, l_linenumber) AS rn, " +
      "  count(*) OVER (PARTITION BY pri) AS n FROM l) " +
      "SELECT pri, CAST(max(n) AS BIGINT) AS n, " +
      "CAST(max(CASE WHEN rn = ceil(n * 0.5) THEN days END) AS BIGINT) " +
      "  AS p50_days, " +
      "CAST(max(CASE WHEN rn = ceil(n * 0.9) THEN days END) AS BIGINT) " +
      "  AS p90_days FROM r GROUP BY pri"),
    "q_user_growth" -> (
      "WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 " +
      "  AS day FROM events), " +
      "f AS (SELECT user_id, min(day) AS fd FROM d GROUP BY 1), " +
      "nf AS (SELECT fd AS day, CAST(count(*) AS BIGINT) AS n_new " +
      "  FROM f GROUP BY 1), " +
      "sp AS (SELECT DISTINCT day FROM d) " +
      "SELECT sp.day, coalesce(nf.n_new, 0) AS n_new, " +
      "CAST(sum(coalesce(nf.n_new, 0)) OVER (ORDER BY sp.day) AS BIGINT) " +
      "  AS cum_users FROM sp LEFT JOIN nf ON sp.day = nf.day"),
    "q_longest_streak" -> (
      "WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 " +
      "  AS day FROM events), " +
      "i AS (SELECT user_id, day, day - row_number() OVER (PARTITION BY " +
      "  user_id ORDER BY day) AS isl FROM d), " +
      "s AS (SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len " +
      "  FROM i GROUP BY 1, 2) " +
      "SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak FROM s " +
      "GROUP BY 1"),
    "q_quality_yield" -> (
      "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
      "lower(text), '\\s+'), t -> t != '') AS ts FROM documents), " +
      "base AS (SELECT doc_id, len(ts) AS n_tokens, " +
      "  len(list_distinct(ts)) AS n_distinct FROM tok), " +
      "bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b " +
      "  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i)), " +
      "bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), " +
      "mx AS (SELECT doc_id, max(c) AS mc, sum(c) AS nb FROM bc GROUP BY 1), " +
      "rep AS (SELECT b.doc_id, b.n_tokens, " +
      "  round(CASE WHEN b.n_tokens = 0 THEN 0.0 " +
      "    ELSE 1.0 - b.n_distinct * 1.0 / b.n_tokens END, 6) AS dwr, " +
      "  round(CASE WHEN mx.nb IS NULL THEN 0.0 " +
      "    ELSE mx.mc * 1.0 / mx.nb END, 6) AS tbr " +
      "  FROM base b LEFT JOIN mx ON b.doc_id = mx.doc_id) " +
      "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(count(*) FILTER (WHERE r.n_tokens BETWEEN 20 AND 1000 " +
      s"  AND round($qQualitySql, 6) >= 0.55 " +
      "  AND r.dwr <= 0.6 AND r.tbr <= 0.1) AS BIGINT) AS n_kept, " +
      "CAST(count(*) FILTER (WHERE r.n_tokens BETWEEN 20 AND 1000 " +
      s"  AND round($qQualitySql, 6) >= 0.55 " +
      "  AND r.dwr <= 0.6 AND r.tbr <= 0.1) AS BIGINT) * 1000000 // " +
      "  CAST(count(*) AS BIGINT) AS yield_ppm " +
      "FROM documents d JOIN rep r ON d.doc_id = r.doc_id GROUP BY 1"),
    "q_churn" -> (
      "WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 " +
      "  AS day FROM events), " +
      "l AS (SELECT user_id, day, lead(day) OVER (PARTITION BY user_id " +
      "  ORDER BY day) AS nxt FROM a), " +
      "mx AS (SELECT max(day) AS maxd FROM a) " +
      "SELECT day, CAST(count(*) AS BIGINT) AS n_active, " +
      "CAST(count(*) FILTER (WHERE nxt IS NULL OR nxt > day + 1) " +
      "  AS BIGINT) AS n_churned, " +
      "CAST(count(*) FILTER (WHERE nxt IS NULL OR nxt > day + 1) " +
      "  AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS churn_ppm " +
      "FROM l WHERE day < (SELECT maxd FROM mx) GROUP BY day"),
    "q_new_vs_returning" -> (
      "WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 " +
      "  AS day FROM events), " +
      "f AS (SELECT user_id, min(day) AS fd FROM d GROUP BY 1) " +
      "SELECT day, CAST(count(*) FILTER (WHERE day = fd) AS BIGINT) " +
      "  AS n_new, CAST(count(*) FILTER (WHERE day > fd) AS BIGINT) " +
      "  AS n_returning FROM d JOIN f USING (user_id) GROUP BY day"),
    "q_power_users" -> (
      "WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n " +
      "  FROM events GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM u), " +
      "c AS (SELECT user_id, n, CAST(sum(n) OVER (ORDER BY n DESC, " +
      "  user_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "  AS BIGINT) AS cum_events FROM u) " +
      "SELECT user_id, n, cum_events FROM c, t " +
      "WHERE (cum_events - n) * 1000000 < 800000 * total"),
    "q_recommend" -> (
      "WITH li AS (SELECT DISTINCT l_orderkey, l_partkey % 200 AS pg " +
      "  FROM lineitem), " +
      "nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) " +
      "  AS n_baskets FROM li), " +
      "s AS (SELECT pg, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1), " +
      "p AS (SELECT a.pg AS item_a, b.pg AS item_b, " +
      "  CAST(count(*) AS BIGINT) AS support FROM li a " +
      "  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.pg <> b.pg " +
      "  GROUP BY 1, 2 HAVING count(*) >= 8), " +
      "l AS (SELECT item_a, item_b, support, " +
      "  support * (SELECT n_baskets FROM nb) * 1000000 // (sa.n * sb.n) " +
      "    AS lift_ppm FROM p JOIN s sa ON sa.pg = item_a " +
      "  JOIN s sb ON sb.pg = item_b) " +
      "SELECT item_a, item_b, support, lift_ppm, " +
      "CAST(row_number() OVER (PARTITION BY item_a ORDER BY lift_ppm " +
      "  DESC, item_b ASC) AS BIGINT) AS rec_rank " +
      "FROM l QUALIFY rec_rank <= 3"),
    // resource-allocation index: per shared neighbor z, weight
    // 1e6 div deg(z) summed per candidate pair — all exact integers
    "q_link_predict_ra" -> (
      "WITH e0 AS (SELECT DISTINCT CAST(l_suppkey*2+1 AS BIGINT) AS a, " +
      "  CAST(o_custkey*2 AS BIGINT) AS b " +
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "  WHERE l_quantity = 50), " +
      "ud AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
      "w AS (SELECT a AS b, 1000000 // CAST(count(*) AS BIGINT) AS wz " +
      "  FROM ud GROUP BY 1), " +
      "p AS (SELECT u1.a AS v1, u2.a AS v2, CAST(count(*) AS BIGINT) " +
      "  AS common, CAST(sum(w.wz) AS BIGINT) AS ra_ppm " +
      "  FROM ud u1 JOIN ud u2 ON u1.b = u2.b AND u1.a < u2.a " +
      "  JOIN w ON w.b = u1.b GROUP BY 1, 2) " +
      "SELECT v1, v2, common, ra_ppm FROM p WHERE ra_ppm >= 200000"),
    "q_link_predict" -> (
      "WITH e0 AS (SELECT DISTINCT CAST(l_suppkey*2+1 AS BIGINT) AS a, " +
      "  CAST(o_custkey*2 AS BIGINT) AS b " +
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "  WHERE l_quantity = 50), " +
      "ud AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
      "deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM ud " +
      "  GROUP BY 1), " +
      "cn AS (SELECT u1.a AS v1, u2.a AS v2, CAST(count(*) AS BIGINT) " +
      "  AS common FROM ud u1 JOIN ud u2 ON u1.b = u2.b AND u1.a < u2.a " +
      "  GROUP BY 1, 2) " +
      "SELECT v1, v2, common, " +
      "common * 1000000 // (d1.d + d2.d - common) AS jac_ppm " +
      "FROM cn JOIN deg d1 ON d1.v = v1 JOIN deg d2 ON d2.v = v2 " +
      "WHERE common * 1000000 // (d1.d + d2.d - common) >= 500000"),
    "q_attribution_linear" -> (
      "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts " +
      "  FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT event_id AS touch_id, user_id, epoch_us(ts) AS c_ts " +
      "  FROM events WHERE event_type IN ('click','view')), " +
      "m AS (SELECT p.event_id, p.user_id, c.touch_id, " +
      "  CAST(count(*) OVER (PARTITION BY p.event_id) AS BIGINT) " +
      "    AS n_touches FROM p JOIN c ON p.user_id = c.user_id " +
      "  AND c.c_ts <= p.ts AND c.c_ts > p.ts - 14400000000) " +
      "SELECT event_id, user_id, touch_id, n_touches, " +
      "1000000 // n_touches AS credit_ppm FROM m"),
    // decay attribution: exact power-of-two weights, credit halves per
    // full hour of touch age, capped at 20 half-lives
    "q_attribution_decay" -> (
      "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts " +
      "  FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT event_id AS touch_id, user_id, epoch_us(ts) AS c_ts " +
      "  FROM events WHERE event_type IN ('click','view')), " +
      "m AS (SELECT p.event_id, p.user_id, c.touch_id, " +
      "  least(20, (p.ts - c.c_ts) // 3600000000) AS half_lives " +
      "  FROM p JOIN c ON p.user_id = c.user_id " +
      "  AND c.c_ts <= p.ts AND c.c_ts > p.ts - 14400000000), " +
      "w AS (SELECT *, (CAST(1 AS BIGINT) << " +
      "  CAST(20 - half_lives AS INTEGER)) AS w FROM m) " +
      "SELECT event_id, user_id, touch_id, half_lives, " +
      "w * 1000000 // CAST(sum(w) OVER (PARTITION BY event_id) AS BIGINT) " +
      "  AS credit_ppm FROM w"),
    // Heaps curve: new-type credit lands on the smallest doc id
    // containing the type; both cumulatives are plain prefix sums
    "q_heaps_law" -> (
      "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(" +
      "  lower(trim(text)), '\\s+')) AS t FROM documents), " +
      "tk AS (SELECT doc_id, t FROM tok WHERE length(t) > 0), " +
      "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens " +
      "  FROM tk GROUP BY 1), " +
      "fd AS (SELECT min(doc_id) AS doc_id FROM tk GROUP BY t), " +
      "nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new " +
      "  FROM fd GROUP BY 1) " +
      "SELECT p.doc_id, p.n_tokens, " +
      "CAST(sum(p.n_tokens) OVER (ORDER BY p.doc_id) AS BIGINT) " +
      "  AS cum_tokens, " +
      "CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY p.doc_id) AS BIGINT) " +
      "  AS cum_types " +
      "FROM pd p LEFT JOIN nn n USING (doc_id)"),
    "q_engagement" -> (
      "WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
      "  epoch_us(ts) // 86400000000 // 30 AS month, user_id FROM events), " +
      "dau AS (SELECT day, month, CAST(count(DISTINCT user_id) AS BIGINT) " +
      "  AS dau FROM d GROUP BY 1, 2), " +
      "mau AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) " +
      "  AS mau FROM d GROUP BY 1) " +
      "SELECT day, dau.month, dau, mau, dau * 1000000 // mau " +
      "  AS stickiness_ppm FROM dau JOIN mau USING (month)"),
    "q_log2_histogram" -> (
      "SELECT CAST(length(bin(n_chars)) AS BIGINT) AS bin2, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(min(n_chars) AS BIGINT) AS lo, " +
      "CAST(max(n_chars) AS BIGINT) AS hi " +
      "FROM documents WHERE n_chars > 0 GROUP BY 1"),
    "q_freshness" -> (
      "WITH m AS (SELECT event_type, CAST(max(epoch_us(ts)) AS BIGINT) " +
      "  AS max_ts FROM events GROUP BY 1) " +
      "SELECT event_type, max_ts, " +
      "CAST(max(max_ts) OVER () AS BIGINT) - max_ts AS lag_us FROM m"),
    "q_lead_time" -> (
      "WITH l AS (SELECT o_orderpriority AS pri, " +
      "  CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
      "    CAST(l_shipdate AS DATE)) AS BIGINT) AS days " +
      "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey) " +
      "SELECT pri, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(days) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_days, " +
      "CAST(min(days) AS BIGINT) AS min_days, " +
      "CAST(max(days) AS BIGINT) AS max_days FROM l GROUP BY 1"),
    "q_mode_per_group" -> (
      "WITH c AS (SELECT c_nationkey, c_mktsegment, " +
      "  CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2), " +
      "r AS (SELECT *, rank() OVER (PARTITION BY c_nationkey " +
      "  ORDER BY n DESC, c_mktsegment ASC) AS rk FROM c) " +
      "SELECT c_nationkey, c_mktsegment AS mode_value, n FROM r " +
      "WHERE rk = 1"),
    "q_source_overlap" -> (
      s"WITH $jaccardCtesSql, " +
      "so AS (SELECT da.source AS sa, db.source AS sb FROM jj " +
      "  JOIN documents da ON da.doc_id = id_a " +
      "  JOIN documents db ON db.doc_id = id_b) " +
      "SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b, " +
      "CAST(count(*) AS BIGINT) AS n_pairs FROM so GROUP BY 1, 2"),
    "q_graph_bfs" -> bfsOracle,
    "q_dedup_cluster_sizes" -> (
      s"WITH RECURSIVE $jaccardCtesSql, " +
      "ud2 AS (SELECT id_a AS a, id_b AS b FROM jj " +
      "  UNION SELECT id_b, id_a FROM jj), " +
      "reach(s, t) AS (SELECT a, b FROM ud2 " +
      "  UNION SELECT r.s, u.b FROM reach r JOIN ud2 u ON r.t = u.a), " +
      "comp AS (SELECT s AS id, least(s, min(t)) AS c FROM reach " +
      "  GROUP BY s), " +
      "cs AS (SELECT c, CAST(count(*) AS BIGINT) AS csize FROM comp " +
      "  GROUP BY c) " +
      "SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters FROM cs " +
      "GROUP BY 1"),
    "q_ab_lift" -> (
      "WITH u AS (SELECT user_id, user_id % 2 AS variant, " +
      "  count(*) FILTER (WHERE event_type = 'purchase') AS np " +
      "  FROM events GROUP BY 1, 2), " +
      "v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users, " +
      "  CAST(count(*) FILTER (WHERE np >= 14) AS BIGINT) AS n_conv " +
      "  FROM u GROUP BY 1), " +
      "r AS (SELECT variant, n_users, n_conv, " +
      "  n_conv * 1000000 // n_users AS rate_ppm FROM v), " +
      "c AS (SELECT *, max(CASE WHEN variant = 0 THEN rate_ppm END) " +
      "  OVER () AS ctrl FROM r) " +
      "SELECT variant, n_users, n_conv, rate_ppm, " +
      "CASE WHEN variant <> 0 AND ctrl > 0 " +
      "THEN (rate_ppm - ctrl) * 1000000 // ctrl " +
      "END AS lift_ppm FROM c"),
    "q_readability" -> (
      "WITH d AS (SELECT doc_id, " +
      "  CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), " +
      "    '\\s+'), t -> t != '')) AS BIGINT) AS n_words, " +
      "  CAST(greatest(len(list_filter(regexp_split_to_array(" +
      "    coalesce(text, ''), '[.!?]+'), s -> trim(s) != '')), 1) " +
      "    AS BIGINT) AS n_sentences, " +
      "  CAST(length(regexp_replace(coalesce(text, ''), '\\s', '', 'g')) " +
      "    AS BIGINT) AS nc FROM documents) " +
      "SELECT doc_id, n_words, n_sentences, " +
      "n_words * 1000000 // n_sentences AS wps_ppm, " +
      "CASE WHEN n_words > 0 THEN nc * 1000000 // n_words END AS cpw_ppm " +
      "FROM d"),
    "q_daily_paths" -> (
      "WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, " +
      "  event_id, event_type, epoch_us(ts) AS ts_us FROM events), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY user_id, day " +
      "  ORDER BY ts_us, event_id) AS rn FROM d), " +
      "p AS (SELECT user_id, day, string_agg(event_type, '>' " +
      "  ORDER BY ts_us, event_id) AS path FROM rk WHERE rn <= 5 " +
      "  GROUP BY 1, 2) " +
      "SELECT path, CAST(count(*) AS BIGINT) AS n_buckets FROM p " +
      "GROUP BY 1 HAVING count(*) >= 5"),
    "q_t_closeness" -> (
      "WITH g AS (SELECT c_nationkey AS grp, c_mktsegment AS seg, " +
      "  CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2), " +
      "gt AS (SELECT grp, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY 1), " +
      "al AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) " +
      "  AS n_all FROM customer GROUP BY 1), " +
      "at2 AS (SELECT CAST(sum(n_all) AS BIGINT) AS tot_all FROM al), " +
      "d AS (SELECT al.seg, gt.grp, coalesce(g.n, 0) AS n, gt.tot, " +
      "  al.n_all, (SELECT tot_all FROM at2) AS tot_all " +
      "  FROM al CROSS JOIN gt " +
      "  LEFT JOIN g ON g.grp = gt.grp AND g.seg = al.seg) " +
      "SELECT grp AS c_nationkey, CAST(sum(abs(n*1000000//tot - " +
      "  n_all*1000000//tot_all)) // 2 AS BIGINT) AS tv_ppm " +
      "FROM d GROUP BY grp"),
    "q_spearman" -> (
      "WITH m AS (SELECT c_custkey, c_mktsegment AS seg, c_acctbal, " +
      "  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) " +
      "    AS cents FROM customer JOIN orders ON c_custkey = o_custkey " +
      "  GROUP BY 1, 2, 3), " +
      "r AS (SELECT seg, " +
      "  CAST(row_number() OVER (PARTITION BY seg ORDER BY c_acctbal, " +
      "    c_custkey) AS BIGINT) AS ra, " +
      "  CAST(row_number() OVER (PARTITION BY seg ORDER BY cents, " +
      "    c_custkey) AS BIGINT) AS rb FROM m) " +
      "SELECT seg, CAST(count(*) AS BIGINT) AS n, " +
      "1000000 - 6000000 * CAST(sum((ra-rb)*(ra-rb)) AS BIGINT) // " +
      "  (CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) * " +
      "  CAST(count(*) AS BIGINT) - 1)) AS rho_ppm FROM r GROUP BY seg"),
    "q_rake_keyphrases" -> rakeOracle,
    "q_period_over_period" -> (
      "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
      "  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) " +
      "    AS cents FROM orders GROUP BY 1), " +
      "l AS (SELECT day, cents, lag(cents) OVER (ORDER BY day) AS prev " +
      "  FROM d) " +
      "SELECT day, cents, CASE WHEN prev IS NOT NULL THEN " +
      "(cents - prev) * 1000000 // prev END AS delta_ppm FROM l"),
    "q_cohort_ltv" -> (
      "WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p, " +
      "  CAST(round(value*100) AS BIGINT) AS c FROM events), " +
      "f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1), " +
      "g AS (SELECT cohort, e.p - cohort AS offs, " +
      "  CAST(sum(c) AS BIGINT) AS cents, " +
      "  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
      "  FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2) " +
      "SELECT cohort, offs AS offset, cents, n_users, " +
      "CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY offs) AS BIGINT) " +
      "  AS cum_cents FROM g"),
    // reuses the shared jaccard shingle CTEs; jj is simply unused
    "q_dedup_containment" -> (
      s"WITH $jaccardCtesSql " +
      "SELECT id_a, id_b, CAST(common AS BIGINT) AS common, " +
      "common * 1000000 // x.sz AS cont_ab_ppm, " +
      "common * 1000000 // y.sz AS cont_ba_ppm " +
      "FROM jp JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b " +
      "WHERE common * 1000000 // x.sz >= 800000 " +
      "  OR common * 1000000 // y.sz >= 800000"),
    "q_seasonality" -> (
      "WITH d AS (SELECT event_type, " +
      "  (epoch_us(ts) // 86400000000 + 3) % 7 AS dow, " +
      "  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2) " +
      "SELECT event_type, dow, n, n * 1000000 // " +
      "CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS share_ppm " +
      "FROM d"),
    "q_rfm" -> (
      "WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, " +
      "  CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders), " +
      "per AS (SELECT o_custkey, max(d) AS last_d, " +
      "  CAST(count(*) AS BIGINT) AS f, CAST(sum(c) AS BIGINT) AS m_cents " +
      "  FROM o GROUP BY 1), " +
      "g AS (SELECT max(last_d) AS maxd FROM per), " +
      "j AS (SELECT cu.c_mktsegment AS seg, per.*, " +
      "  CAST(date_diff('day', last_d, (SELECT maxd FROM g)) AS BIGINT) " +
      "    AS rec FROM per JOIN customer cu ON per.o_custkey = cu.c_custkey) " +
      "SELECT o_custkey, seg, rec, f, m_cents, " +
      "CAST(ntile(5) OVER (PARTITION BY seg ORDER BY rec ASC, o_custkey " +
      "  ASC) AS BIGINT) * 100 + " +
      "CAST(ntile(5) OVER (PARTITION BY seg ORDER BY f DESC, o_custkey " +
      "  ASC) AS BIGINT) * 10 + " +
      "CAST(ntile(5) OVER (PARTITION BY seg ORDER BY m_cents DESC, " +
      "  o_custkey ASC) AS BIGINT) AS rfm FROM j")
  )

  /** SQL replica of Corpus.rakeKeyphrases, GENERATED from the kernel's
    * own stopword list (one source of truth, the langIdSql pattern):
    * stopword-free runs via the pos − row_number islands key, word
    * degree/freq in integer ppm, phrase scores summed per instance. */
  private lazy val rakeOracle: String = {
    val stop = graft.functions.TextKernels.enStopwords
      .map(w => s"'$w'").mkString("[", ",", "]")
    "WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
    "lower(trim(text)), '\\s+'), t -> t != '') AS ts FROM documents), " +
    "pt AS (SELECT doc_id, i + 1 AS pos, ts[i + 1] AS tok " +
    "  FROM tk, LATERAL (SELECT unnest(range(len(ts))) AS i)), " +
    s"cand AS (SELECT doc_id, pos, tok FROM pt WHERE NOT list_contains($stop, tok)), " +
    "ph AS (SELECT doc_id, pos, tok, pos - row_number() OVER " +
    "  (PARTITION BY doc_id ORDER BY pos) AS pk FROM cand), " +
    "phr AS (SELECT doc_id, pk, string_agg(tok, ' ' ORDER BY pos) AS phrase, " +
    "  count(*) AS plen FROM ph GROUP BY 1, 2), " +
    "wo AS (SELECT p.doc_id, p.pk, p.tok, r.plen FROM ph p " +
    "  JOIN phr r ON p.doc_id = r.doc_id AND p.pk = r.pk), " +
    "wsc AS (SELECT tok, CAST(sum(plen) AS BIGINT) * 1000000 // " +
    "  CAST(count(*) AS BIGINT) AS wscore FROM wo GROUP BY tok), " +
    "psc AS (SELECT w.doc_id, w.pk, CAST(sum(c.wscore) AS BIGINT) AS score " +
    "  FROM wo w JOIN wsc c ON w.tok = c.tok GROUP BY 1, 2) " +
    "SELECT r.phrase, CAST(count(*) AS BIGINT) AS n_occurrences, " +
    "CAST(min(s.score) AS BIGINT) AS score_ppm " +
    "FROM phr r JOIN psc s ON r.doc_id = s.doc_id AND r.pk = s.pk " +
    "GROUP BY 1 HAVING count(*) >= 3 " +
    "ORDER BY score_ppm DESC, phrase ASC LIMIT 30"
  }

  /** Shared CTE chain of the view→click→purchase funnel (strict-order,
    * 3-day window) — used by the per-user row and the rates report. */
  private lazy val funnelCtes: String =
    "ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events), " +
    "s1 AS (SELECT user_id, min(ts) AS t1 FROM ev " +
    "  WHERE event_type = 'view' GROUP BY user_id), " +
    "s2 AS (SELECT s1.user_id, s1.t1, " +
    "  min(CASE WHEN e.ts > s1.t1 AND e.ts <= s1.t1 + 259200000000 " +
    "    THEN e.ts END) AS t2 " +
    "  FROM s1 LEFT JOIN ev e ON e.user_id = s1.user_id " +
    "    AND e.event_type = 'click' GROUP BY s1.user_id, s1.t1), " +
    "s3 AS (SELECT s2.user_id, s2.t1, s2.t2, " +
    "  min(CASE WHEN e.ts > s2.t2 AND e.ts <= s2.t1 + 259200000000 " +
    "    THEN e.ts END) AS t3 " +
    "  FROM s2 LEFT JOIN ev e ON e.user_id = s2.user_id " +
    "    AND e.event_type = 'purchase' GROUP BY s2.user_id, s2.t1, s2.t2)"

  /** SQL replica of Graph.bfsDepth's 6 fixed rounds, generated like
    * pagerankOracle: each step unions the frontier's min-plus
    * expansion; the final min per vertex is the ≤6-hop distance. */
  private lazy val bfsOracle: String = {
    val head =
      "WITH e0 AS (SELECT DISTINCT CAST(l_suppkey*2+1 AS BIGINT) AS a, " +
      "  CAST(o_custkey*2 AS BIGINT) AS b " +
      "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "  WHERE l_quantity = 50), " +
      "ud AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
      "s0 AS (SELECT DISTINCT a AS v, CAST(0 AS BIGINT) AS d FROM e0 " +
      "  WHERE (a - 1) // 2 % 25 = 0)"
    val steps = (1 to 6).map { i =>
      s", s$i AS (SELECT v, d FROM s${i - 1} UNION " +
      s"SELECT vv, dd FROM (SELECT ud.b AS vv, min(s.d) + 1 AS dd " +
      s"FROM s${i - 1} s JOIN ud ON s.v = ud.a GROUP BY ud.b))"
    }.mkString
    head + steps +
    " SELECT v, CAST(min(d) AS BIGINT) AS depth FROM s6 GROUP BY v"
  }

  /** SQL replica of the HLL register build: same 52-bit md5 hash as
    * the KMV oracle, bucket = hash div 2^44, rho = trailing-zero rank
    * of the 44-bit remainder via the shared shift-mod arithmetic. */
  private lazy val hllOracle: String =
    "WITH v AS (SELECT event_type, " +
    "  user_id * 100000 + epoch_us(ts) // 86400000000 AS ud FROM events), " +
    "h AS (SELECT DISTINCT event_type, " +
    "  CAST(concat('0x', substr(md5(CAST(ud AS VARCHAR)), 1, 13)) " +
    "    AS BIGINT) AS h FROM v), " +
    "b AS (SELECT event_type, h // 17592186044416 AS bucket, " +
    "  h % 17592186044416 AS rem FROM h), " +
    "r AS (SELECT event_type, bucket, " +
    "  max(len(list_filter(range(1, 44), k -> rem % (1::BIGINT << k) = 0)) " +
    "    + 1) AS r FROM b GROUP BY 1, 2) " +
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets, " +
    "CAST(sum(r) AS BIGINT) AS sum_rho, CAST(max(r) AS BIGINT) AS max_rho, " +
    "CAST((256 - count(*)) * 17592186044416 + " +
    "  sum(1::BIGINT << (44 - r)) AS BIGINT) AS denom FROM r GROUP BY 1"

  /** Shared by q_sketch_quantile and its merge row (lossless merge ⇒
    * same sketch ⇒ same oracle): rebuild the bottom-64 md5-ordered row
    * sample per group, then DuckDB's quantile_cont over the sampled
    * values — the same linear interpolation as the estimator. */
  private lazy val quantileSketchOracle: String =
    "WITH h AS (SELECT event_type, value, " +
    "  CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) " +
    "    AS BIGINT) AS h FROM events), " +
    "r AS (SELECT event_type, value, row_number() OVER " +
    "  (PARTITION BY event_type ORDER BY h, value) AS rn FROM h) " +
    "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50_est, " +
    "round(quantile_cont(value, 0.9), 6) AS p90_est " +
    "FROM r WHERE rn <= 64 GROUP BY event_type"

  /** The same graph in SQL, shared by both graph-query oracles
    * ([[SparkEntry]] keeps the DataFrame twin, coPartEdges). */
  private lazy val coPartEdgesSql: String =
    "li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem " +
    "  WHERE l_orderkey % 5 = 0), " +
    "e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM li a " +
    "  JOIN li b ON a.ok = b.ok AND a.p < b.p)"

  /** SQL replica of Graph.kTruss's 3 fixed peel rounds at k = 5: each
    * round recomputes degree-oriented per-edge triangle support on the
    * surviving subgraph (one oriented wedge join + closure join, each
    * triangle credited to its three undirected edges) and keeps edges
    * with support ≥ k − 2; the final support recomputes once more on
    * the survivors. CTEs are MATERIALIZED — each o/t frame is
    * referenced three times, and DuckDB's default inlining would
    * recompute the wedge join exponentially across rounds. */
  private lazy val kTrussOracle: String = {
    val k = 5; val rounds = 3
    def supportCtes(i: Int): String = {
      val p = i - 1
      s"d$i AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM " +
      s"(SELECT a AS v FROM e$p UNION ALL SELECT b FROM e$p) GROUP BY 1), " +
      s"o$i AS MATERIALIZED (SELECT CASE WHEN da.d < db.d OR " +
      s"(da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS src, " +
      s"CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
      s"THEN e.b ELSE e.a END AS dst " +
      s"FROM e$p e JOIN d$i da ON da.v = e.a JOIN d$i db ON db.v = e.b), " +
      s"t$i AS MATERIALIZED (SELECT w1.src AS u, w1.dst AS v, w2.dst AS w " +
      s"FROM o$i w1 JOIN o$i w2 ON w1.dst = w2.src " +
      s"JOIN o$i c ON c.src = w1.src AND c.dst = w2.dst), " +
      s"s$i AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS sup " +
      s"FROM (SELECT least(u, v) AS a, greatest(u, v) AS b FROM t$i " +
      s"UNION ALL SELECT least(v, w), greatest(v, w) FROM t$i " +
      s"UNION ALL SELECT least(u, w), greatest(u, w) FROM t$i) GROUP BY 1, 2)"
    }
    val peel = (1 to rounds).map(i => supportCtes(i) + ", " +
      s"e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e " +
      s"LEFT JOIN s$i s ON s.a = e.a AND s.b = e.b " +
      s"WHERE coalesce(s.sup, 0) >= ${k - 2})").mkString(", ")
    s"WITH $coPartEdgesSql, e0 AS MATERIALIZED (SELECT a, b FROM e), " +
    peel + ", " + supportCtes(rounds + 1) +
    s" SELECT e.a AS id_a, e.b AS id_b, coalesce(s.sup, 0) AS support " +
    s"FROM e$rounds e LEFT JOIN s${rounds + 1} s ON s.a = e.a AND s.b = e.b"
  }

  /** SQL replica of Graph.kCore's 4 fixed peel rounds at k = 16: each
    * round keeps vertices with ≥ k surviving-degree and restricts the
    * edge set to kept endpoints (generated like bfsOracle). */
  private lazy val kCoreOracle: String = {
    val k = 16
    val head = s"WITH $coPartEdgesSql, " +
      "r0 AS (SELECT a, b FROM e UNION SELECT b, a FROM e)"
    val steps = (1 to 4).map { i =>
      s", k$i AS (SELECT a FROM r${i - 1} GROUP BY a " +
      s"HAVING count(*) >= $k), " +
      s"r$i AS (SELECT r.a, r.b FROM r${i - 1} r " +
      s"JOIN k$i x ON r.a = x.a JOIN k$i y ON r.b = y.a)"
    }.mkString
    head + steps +
    " SELECT a AS v, CAST(count(*) AS BIGINT) AS degree FROM r4 GROUP BY 1"
  }

  /** q_ewma's oracle: the same fixed left-to-right chain of
    * power-of-two-weighted lags (exact exponent shifts, no rounding). */
  private lazy val ewmaOracle: String = {
    val terms = (0 to 9).map { k =>
      val v = if (k == 0) "value" else s"lag(value, $k) OVER w"
      s"coalesce($v / ${1L << k}.0, 0.0)"
    }.mkString(" + ")
    "WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, value " +
    "FROM events WHERE user_id % 7 = 0) " +
    s"SELECT user_id, ts, event_id, $terms AS ewma " +
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
  }

  /** q_pagerank's oracle, generated by unrolling the 5 power steps as
    * chained CTEs — each step replays pageRankScaled's integer
    * arithmetic exactly (`//` ≡ Spark `div` on non-negative BIGINTs). */
  private lazy val pagerankOracle: String = {
    val S = "1000000000000"
    val head =
      "WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, " +
      "CAST(o_custkey + 100000 AS BIGINT) AS dst " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE l_quantity >= 48), " +
      "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
      "od AS (SELECT src, count(*) AS od FROM e GROUP BY src), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
      s"r0 AS (SELECT id, CAST($S // n AS BIGINT) AS pr FROM nodes, nn)"
    val steps = (1 to 5).map { i =>
      val p = s"r${i - 1}"
      s", s$i AS (SELECT e.dst AS id, " +
      "CAST(sum(r.pr // o.od) AS BIGINT) AS m " +
      s"FROM e JOIN $p r ON e.src = r.id JOIN od o ON e.src = o.src " +
      "GROUP BY e.dst)" +
      s", r$i AS (SELECT nodes.id, CAST(((15 * $S) // (100 * n)) + " +
      s"((85 * coalesce(s$i.m, 0)) // 100) AS BIGINT) AS pr " +
      s"FROM nodes LEFT JOIN s$i ON nodes.id = s$i.id, nn)"
    }.mkString
    head + steps + " SELECT id, pr AS rank_scaled FROM r5"
  }

  /** Weighted-PageRank replay: the pagerankOracle recurrence with
    * weight-proportional splits (pr·w // W(u)), parallel edges
    * weight-summed first. */
  private lazy val pagerankWeightedOracle: String = {
    val S = "1000000000000"
    val head =
      "WITH e AS (SELECT CAST(l_suppkey AS BIGINT) AS src, " +
      "CAST(o_custkey + 100000 AS BIGINT) AS dst, " +
      "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE l_quantity >= 48 GROUP BY 1, 2), " +
      "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
      "ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
      s"r0 AS (SELECT id, CAST($S // n AS BIGINT) AS pr FROM nodes, nn)"
    val steps = (1 to 5).map { i =>
      val p = s"r${i - 1}"
      s", s$i AS MATERIALIZED (SELECT e.dst AS id, " +
      "CAST(sum(r.pr * e.w // o.ow) AS BIGINT) AS m " +
      s"FROM e JOIN $p r ON e.src = r.id JOIN ow o ON e.src = o.src " +
      "GROUP BY e.dst)" +
      s", r$i AS MATERIALIZED (SELECT nodes.id, " +
      s"CAST(((15 * $S) // (100 * n)) + " +
      s"((85 * coalesce(s$i.m, 0)) // 100) AS BIGINT) AS pr " +
      s"FROM nodes LEFT JOIN s$i ON nodes.id = s$i.id, nn)"
    }.mkString
    head + steps + " SELECT id, pr AS rank_scaled FROM r5"
  }

  /** HITS replay: the L1-ppm-normalized hub/auth recurrence unrolled
    * as MATERIALIZED CTE pairs (the q_linkage_em lesson — chained
    * iteration CTEs inline exponentially without it), same `//`
    * truncation points as the Spark side. */
  private lazy val hitsOracle: String = {
    val head =
      "WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, " +
      "CAST(o_custkey + 100000 AS BIGINT) AS dst " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE l_quantity >= 48), " +
      "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
      "h0 AS MATERIALIZED (SELECT id, CAST(1000000 // n AS BIGINT) AS h " +
      "FROM nodes, nn)"
    val steps = (1 to 4).map { i =>
      s", ar$i AS MATERIALIZED (SELECT e.dst AS id, " +
      s"CAST(sum(h.h) AS BIGINT) AS ar " +
      s"FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY 1)" +
      s", at$i AS (SELECT greatest(CAST(sum(ar) AS BIGINT), 1) AS t FROM ar$i)" +
      s", a$i AS MATERIALIZED (SELECT nodes.id, " +
      s"CAST(coalesce(ar$i.ar, 0) * 1000000 // t AS BIGINT) AS a " +
      s"FROM nodes LEFT JOIN ar$i ON nodes.id = ar$i.id, at$i)" +
      s", hr$i AS MATERIALIZED (SELECT e.src AS id, " +
      s"CAST(sum(a.a) AS BIGINT) AS hr " +
      s"FROM e JOIN a$i a ON e.dst = a.id GROUP BY 1)" +
      s", ht$i AS (SELECT greatest(CAST(sum(hr) AS BIGINT), 1) AS t FROM hr$i)" +
      s", h$i AS MATERIALIZED (SELECT nodes.id, " +
      s"CAST(coalesce(hr$i.hr, 0) * 1000000 // t AS BIGINT) AS h " +
      s"FROM nodes LEFT JOIN hr$i ON nodes.id = hr$i.id, ht$i)"
    }.mkString
    head + steps +
    " SELECT h4.id, h4.h AS hub_ppm, a4.a AS auth_ppm " +
    "FROM h4 JOIN a4 ON h4.id = a4.id"
  }

  /** Personalized-PageRank replay: the pagerankOracle recurrence with
    * the teleport term gated on seed membership (suppliers ≡ 0 mod 7)
    * and normalized by |seeds| instead of |nodes|. */
  private lazy val pprOracle: String = {
    val S = "1000000000000"
    val head =
      "WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, " +
      "CAST(o_custkey + 100000 AS BIGINT) AS dst " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE l_quantity >= 48), " +
      "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
      "seeds AS (SELECT id FROM nodes WHERE id < 100000 AND id % 7 = 0), " +
      "od AS (SELECT src, count(*) AS od FROM e GROUP BY src), " +
      "ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds), " +
      "r0 AS (SELECT nodes.id, CASE WHEN seeds.id IS NOT NULL " +
      s"THEN CAST($S // n AS BIGINT) ELSE 0 END AS pr " +
      "FROM nodes LEFT JOIN seeds ON nodes.id = seeds.id, ns)"
    val steps = (1 to 5).map { i =>
      val p = s"r${i - 1}"
      s", s$i AS (SELECT e.dst AS id, " +
      "CAST(sum(r.pr // o.od) AS BIGINT) AS m " +
      s"FROM e JOIN $p r ON e.src = r.id JOIN od o ON e.src = o.src " +
      "GROUP BY e.dst)" +
      s", r$i AS (SELECT nodes.id, CAST(CASE WHEN seeds.id IS NOT NULL " +
      s"THEN (15 * $S) // (100 * n) ELSE 0 END + " +
      s"((85 * coalesce(s$i.m, 0)) // 100) AS BIGINT) AS pr " +
      s"FROM nodes LEFT JOIN s$i ON nodes.id = s$i.id " +
      "LEFT JOIN seeds ON nodes.id = seeds.id, ns)"
    }.mkString
    head + steps + " SELECT id, pr AS rank_scaled FROM r5"
  }

  /** CMS replay: rebuild the depth×width counter table from exact
    * token counts (cell sums are order-free), re-hash the 30 probe
    * tokens with the same salted md5, take the per-probe min. Shared
    * by q_sketch_cms and q_sketch_cms_merge (shard tables SUM to the
    * corpus table, so the merged estimates are identical by
    * construction). */
  private lazy val cmsOracle: String =
    "WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), " +
    "  '\\s+')) AS token FROM documents), " +
    "tf AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok " +
    "  WHERE length(token) > 0 GROUP BY token), " +
    "probes AS (SELECT token, cnt FROM tf " +
    "  ORDER BY cnt DESC, token ASC LIMIT 30), " +
    "d AS (SELECT unnest([0, 1, 2, 3]) AS i), " +
    "counters AS (SELECT d.i AS i, " +
    "  CAST(concat('0x', substr(md5(concat(CAST(d.i AS VARCHAR), ':', " +
    "    token)), 1, 13)) AS BIGINT) % 1024 AS bucket, " +
    "  CAST(sum(cnt) AS BIGINT) AS c " +
    "  FROM tf CROSS JOIN d GROUP BY 1, 2) " +
    "SELECT p.token AS token, p.cnt AS exact_cnt, " +
    "  CAST(min(c.c) AS BIGINT) AS est_cnt " +
    "FROM probes p CROSS JOIN d " +
    "JOIN counters c ON c.i = d.i AND c.bucket = " +
    "  CAST(concat('0x', substr(md5(concat(CAST(d.i AS VARCHAR), ':', " +
    "    p.token)), 1, 13)) AS BIGINT) % 1024 " +
    "GROUP BY 1, 2"

  private lazy val kmvOracle: String =
    "WITH h AS (SELECT DISTINCT event_type, " +
    "  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) " +
    "    AS BIGINT) AS h FROM events), " +
    "r AS (SELECT event_type, h, row_number() OVER " +
    "  (PARTITION BY event_type ORDER BY h) AS rn FROM h), " +
    "k AS (SELECT event_type, max(h) AS kth, count(*) AS n " +
    "  FROM r WHERE rn <= 32 GROUP BY event_type) " +
    "SELECT event_type, CASE WHEN n < 32 THEN n " +
    "ELSE CAST(floor(CAST(31 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) " +
    "  / kth) AS BIGINT) END AS n_est " +
    "FROM k"

  private lazy val substrCleanOracle: String = substrDupCtes +
    ", pt AS (SELECT doc_id, i AS pos, toks[i + 1] AS tok " +
    "  FROM tk, LATERAL (SELECT unnest(range(len(toks))) AS i)), " +
    "cl AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean " +
    "  FROM pt WHERE NOT EXISTS (SELECT 1 FROM cov c " +
    "    WHERE c.doc_id = pt.doc_id AND c.p = pt.pos) GROUP BY doc_id) " +
    "SELECT t.doc_id, coalesce(cl.text_clean, '') AS text_clean " +
    "FROM tk t LEFT JOIN cl USING (doc_id)"
}
