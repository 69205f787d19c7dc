package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.fakegen.FakeGen
import graft.functions.text

/** Deduplication family for the training-data pipeline (BASELINE.json
  * north star). Four tiers, cheapest first:
  *
  *  1. exact            — one hash shuffle on the dedup key
  *  2. fingerprint      — exact on a normalized fingerprint (near-free)
  *  3. minhash LSH      — shuffle on (band, bandHash); candidate pairs
  *                        verified by signature agreement. THE 100 TB
  *                        path: cost ~ O(docs x bands), never O(docs^2)
  *  4. ngram Jaccard    — exact set similarity via a shingle self-join;
  *                        quadratic in bucket size, for validation and
  *                        small corpora (it is the oracle for tier 3)
  *
  * All outputs are deterministic (stable ids, stable tie-breaks).
  */
object Dedup {

  /** Materialize a shared candidate subplan (the two multi-consumer
    * sites: minhashPairs' banding output and verifyPairsJaccard's
    * candidate set) via EAGER localCheckpoint.
    *
    * Pinned by a same-box min-of-3 A/B/C at sf0.1 (eager checkpoint vs
    * lazy persist vs none, per site — the r7 lazy-persist switch
    * regressed the verified tiers ~2x and this measurement settled it):
    *
    *   query            lazy   eager   none   band=lazy+cand=eager
    *   q_dedup_minhash  2.92   1.57    2.86   1.62
    *   q_dedup_simhash  2.48   1.47    1.80   1.70
    *   q_dedup_corpus   1.41   1.69*   1.57   1.80   (*repeat: 1.39 — noise)
    *   q_dedup_ngram    1.40   1.60    1.33   (control: uses neither site)
    *
    * Lazy persist loses because the cold InMemoryRelation's cache
    * stages race under AQE and re-run the upstream per consumer; eager
    * computes the subplan exactly once at construction. The cost is
    * that plan CONSTRUCTION launches the candidate jobs — acceptable
    * here (callers of these tiers always execute), and deliberately NOT
    * used in contaminationPairs, whose shared work ends at an exchange
    * AQE reuse already dedups (see the A/B/C at its bucketHits site:
    * plain 1.9s vs lazy-persist 7.0s vs eager 5.6s) and whose
    * construction must stay job-free (PlanAuditSpec).
    *
    * Lifecycle: checkpoint blocks live in the block manager, NOT the
    * CacheManager, so they are freed by the ContextCleaner when the
    * returned Dataset becomes unreachable — no clearCache() hygiene
    * required of callers. [[withCandidateScope]] frees them
    * deterministically at scope exit for long-lived sessions.
    *
    * CALLER CONTRACT (applies transitively to every operator built on
    * this: the dedup/minhash tier, communityQuality, the wedge tier,
    * blockingQuality*, centroidCalibration, mutualTopMatches, ...):
    * (1) construction is EAGER — building the frame launches Spark
    * jobs; (2) if construction happens inside a [[withCandidateScope]],
    * the returned frame's data is freed — unrecoverably, since a local
    * checkpoint has no lineage — at that scope's exit, so the terminal
    * action (write/collect) MUST run inside the same scope. Building a
    * frame inside a scope and executing it after exit reads freed
    * blocks. */
  private[graft] def materializeShared(df: DataFrame): DataFrame =
    track(df.localCheckpoint(eager = true))

  // ---- materialization lifecycle --------------------------------------
  // Every cache()/localCheckpoint the dedup tier creates is registered
  // with the innermost active scope (if any), so withCandidateScope can
  // free the storage deterministically instead of waiting for GC +
  // ContextCleaner. A ThreadLocal stack: pipelines are built on one
  // thread; nested scopes free only their own materializations.
  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.Buffer[DataFrame]]] {
      override def initialValue
          : List[scala.collection.mutable.Buffer[DataFrame]] = Nil
    }

  private def track(df: DataFrame): DataFrame = {
    scopes.get() match {
      case head :: _ => head += df
      case Nil       => ()
    }
    df
  }

  /** Deterministic storage lifecycle for a dedup pipeline: run `body`
    * — which must include the pipeline's TERMINAL ACTION (write /
    * collect), since the candidate materializations are freed at scope
    * exit and a local checkpoint's data is unrecoverable afterwards —
    * then release every cache entry and checkpoint block the dedup
    * operators created inside it. Long-lived sessions processing many
    * corpora get a storage footprint that returns to baseline per
    * pipeline without `spark.catalog.clearCache()` hygiene (which would
    * also evict unrelated caches the caller owns).
    */
  def withCandidateScope[T](body: => T): T = {
    val buf = scala.collection.mutable.Buffer.empty[DataFrame]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get() match { case _ :: t => t; case Nil => Nil })
      buf.foreach(org.apache.spark.sql.graftbridge.Bridge.releaseMaterialized)
    }
  }

  /** Exact dedup on `keyCols`, keeping the row with the smallest `idCol`
    * — deterministic, unlike dropDuplicates (which keeps an arbitrary
    * first-seen row per partition ordering). Aggregate formulation
    * (min_by): partial map-side combine, so on a dup-heavy corpus the
    * one shuffle carries ~distinct keys, not all rows. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    KeyedReduce.reduceByKey(df, keyCols, Seq(idCol), largest = false)

  /** Exact dedup on the normalized md5 fingerprint of `textCol`. */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df.withColumn("__fp", text.fingerprintMd5(col(textCol))), idCol, Seq("__fp"))
      .drop("__fp")

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    *
    * Signature: `numHashes` minhashes over word `shingleWidth`-shingles.
    * Banding: `bands` bands of `numHashes/bands` rows; docs sharing ANY
    * band hash become candidates (probability ~1-(1-j^r)^b). Candidates
    * are then scored by full-signature agreement (estimated Jaccard) and
    * kept when >= `threshold`.
    *
    * Scale shape: explode to (band, bandHash) — docs x bands rows of a
    * few dozen bytes — shuffle once, self-join within buckets only.
    * Output: (id_a < id_b, est_jaccard), distinct.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleWidth: Int = 3, numHashes: Int = 128,
                   bands: Int = 32, threshold: Double = 0.5,
                   seed: Long = FakeGen.DefaultSeed): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // materialize: `cand` feeds three consumers below (two sides of the
    // doc-id union + the pair join); Spark has no cross-join common-
    // subplan reuse, so without materialization the banding self-join
    // would execute three times (measured ~3x on this stage). EAGER
    // checkpoint, not lazy persist: the r7 lazy switch regressed this
    // tier ~2x (cold cache stages race under AQE) — A/B/C table at
    // materializeShared.
    val cand = materializeShared(bandedCandidates(df, idCol, textCol,
      shingleWidth, numHashes, bands, seed))

    // re-attach signatures by recomputing them ONLY for candidate docs
    // (semi-join the raw rows first): referencing `sigs` here would
    // re-run the 128-hash kernel over the whole corpus once per join
    // side — three corpus-wide passes of the most expensive kernel in
    // the job instead of one
    val sigsCand = sigsForDocs(df, idCol, textCol,
      cand.select(col("id_a").as(idCol))
        .unionByName(cand.select(col("id_b").as(idCol))).distinct(),
      shingleWidth, numHashes, seed)
    cand
      .join(sigsCand.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsCand.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", graft.functions.text.sigAgreement(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** The raw LSH band-bucket candidate join of [[minhashPairs]], before
    * the eager materialization hides its plan: (id_a < id_b) doc pairs
    * sharing at least one band hash. Package-private so PlanAuditSpec
    * can assert the join really buckets on the band hash (the property
    * that keeps the governance queries off the corpus-quadratic
    * shingle self-join). */
  /** The MinHash-LSH band table of a corpus slice: (id, band,
    * bandHash), `bands` rows per document. This IS the persistable
    * near-dup INDEX — write it as parquet partitioned however the
    * ingest shards, append each accepted batch's rows, and probe new
    * batches against it with [[incrementalNearDup]] without ever
    * re-signaturing the accepted corpus. Band b's hash = hash of the
    * signature slice [b*rows, (b+1)*rows), statically unrolled (bands
    * is a plan-time constant). The explode carries ONLY (id, band,
    * bandHash) — never the 1KB signature (numHashes longs): shuffling
    * signatures through the docs x bands explode measured ~100x more
    * shuffle bytes. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       shingleWidth: Int = 3, numHashes: Int = 128,
                       bands: Int = 32,
                       seed: Long = FakeGen.DefaultSeed): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = df.select(col(idCol).as("id"),
      text.minhash(col(textCol), shingleWidth, numHashes, seed).as("sig"))
    val bandHashes = (0 until bands).map(b =>
      hash(slice(col("sig"), b * rows + 1, rows), lit(b)))
    sigs.select(col("id"),
      posexplode(array(bandHashes: _*)).as(Seq("band", "bandHash")))
  }

  private[graft] def bandedCandidates(df: DataFrame, idCol: String,
                                      textCol: String, shingleWidth: Int,
                                      numHashes: Int, bands: Int,
                                      seed: Long): DataFrame = {
    val banded = minhashBandIndex(df, idCol, textCol, shingleWidth,
      numHashes, bands, seed)
    val a = banded.select(col("band"), col("bandHash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bandHash"), col("id").as("id_b"))
    a.join(b, Seq("band", "bandHash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Incremental NEAR-dup ingest: drop every `newDocs` row that is an
    * n-gram-jaccard near-duplicate (>= `threshold`) of some
    * already-accepted document, probing a PERSISTED band index
    * ([[minhashBandIndex]] over the accepted corpus) instead of
    * re-scanning the corpus — the near-dup analogue of
    * [[incrementalByFingerprint]]. Ids must be disjoint across the two
    * sides (same contract as the exact tier).
    *
    * Scale shape: the probe is an equi-join on (band, bandHash) — the
    * batch's band rows are batch-sized (AQE broadcasts them against
    * the corpus-sized index), candidates are bounded by real band
    * collisions, and the exact-jaccard verify shingles ONLY candidate
    * docs (semi-join prune inside [[verifyPairsJaccard]]). The
    * accepted corpus' text is touched only for those candidates —
    * never re-signatured, never re-shingled corpus-wide. Within-batch
    * duplicates are NOT collapsed here (that is [[minhashVerifiedPairs]]'
    * job on the batch itself). */
  def incrementalNearDup(indexDocs: DataFrame, index: DataFrame,
                         newDocs: DataFrame, idCol: String, textCol: String,
                         shingleWidth: Int = 3, numHashes: Int = 128,
                         bands: Int = 32, threshold: Double = 0.5,
                         seed: Long = FakeGen.DefaultSeed): DataFrame = {
    val probe = minhashBandIndex(newDocs, idCol, textCol, shingleWidth,
      numHashes, bands, seed)
    val cand = index.select(col("band"), col("bandHash"), col("id").as("id_a"))
      .join(probe.select(col("band"), col("bandHash"), col("id").as("id_b")),
        Seq("band", "bandHash"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val both = indexDocs.select(col(idCol), col(textCol))
      .unionByName(newDocs.select(col(idCol), col(textCol)))
    val dups = verifyPairsJaccard(both, idCol, textCol, cand,
      shingleWidth, threshold)
    newDocs.join(dups.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs via SimHash + MULTI-PROBE pigeonhole banding
    * (the HmSearch idea): split the 64-bit sketch into `nBands` bands of
    * width 64/nBands; if two sketches differ in <= maxHamming bits, some
    * band differs in <= floor(maxHamming/nBands) bits (pigeonhole), so
    * side A probes every <=f-bit flip of each of its band values and the
    * match is a plain equi-join on (band, bits). The band plan is chosen
    * automatically to minimize expected random collisions
    * (nBands x C(width, <=f) x 2^-width) under a probe-fan-out cap —
    * e.g. maxHamming 6 picks 4x16-bit bands with 1-bit probes: ~13x
    * fewer random collisions than 7x9-bit exact bands, and the wider
    * bands split the hot buckets a clustered corpus produces. Candidates
    * are verified by exact popcount BEFORE the distinct, so hot-bucket
    * duplicates never reach a shuffle. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   seed: Long = FakeGen.DefaultSeed,
                   maxProbes: Int = 256): DataFrame = {
    val plans = (1 to maxHamming + 1).flatMap { nb =>
      val width = 64 / nb
      val f = maxHamming / nb
      // width capped at 63: a 64-bit band mask (1L << 64) - 1 wraps to 0
      // in Scala (shift mod 64), so the single-band plan is never valid
      if (width > 63 || f > width) None
      else {
        val probes = BigInt(nb) * ProbeMasks.count(width, f)
        if (probes > maxProbes) None
        else Some((nb, width, f, probes.toDouble * math.pow(2.0, -width)))
      }
    }
    require(plans.nonEmpty, s"no feasible band plan for maxHamming=$maxHamming")
    val (nBands, width, flips, _) = plans.minBy(_._4)

    val sigs = df.select(col(idCol).as("id"),
      text.simhash(col(textCol), seed).as("sh"))
    val bandBits = (0 until nBands).map(b =>
      shiftrightunsigned(col("sh"), b * width).bitwiseAND(lit((1L << width) - 1)))
    // side B: exact band values
    val banded = sigs.select(col("id"), col("sh"),
      posexplode(array(bandBits: _*)).as(Seq("band", "bits")))
    val b = banded.select(col("band"), col("bits"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    // side A: every <=flips-bit variant of each band value (the plan
    // search above already bounded nb * C(width, <=flips) <= maxProbes)
    val masks: Seq[Long] = ProbeMasks.masks(width, flips, cap = maxProbes.toLong)
    val a = banded.select(col("band"),
      explode(array(masks.map(m => col("bits").bitwiseXOR(lit(m))): _*)).as("bits"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Minhash signatures (id, sig) for ONLY the docs named in `docIds`
    * (a column named `idCol`): the shared recompute-after-pruning idiom
    * — candidate sets are a sliver of the corpus, so signature
    * re-attachment must never trigger a corpus-wide kernel pass. */
  private def sigsForDocs(df: DataFrame, idCol: String, textCol: String,
                          docIds: DataFrame, shingleWidth: Int,
                          numHashes: Int, seed: Long): DataFrame =
    df.join(docIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("id"),
        text.minhash(col(textCol), shingleWidth, numHashes, seed).as("sig"))

  /** Distinct HASHED word n-shingles per document: (id, sh: long).
    * Docs shorter than n tokens contribute their whole token string as
    * one shingle. The per-doc dedupe happens inside the codegen'd
    * kernel ([[graft.functions.TextKernels.shingleHashes]]), which
    * deletes the corpus-wide distinct exchange the string formulation
    * needed, and the self-join downstream shuffles 8-byte keys instead
    * of shingle text (~8x fewer shuffle bytes at 3-word shingles). The
    * 2^-64 collision rate perturbs a common-count by 1 only when BOTH
    * docs of a pair contain the colliding shingles — see the kernel
    * doc for the corpus-scale bound. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(text.shingleHashes(col(textCol), n)).as("sh"))

  /** Shingle-set SIZE as a pure projection (the kernel array's length)
    * — replaces a groupBy(id).count over the exploded shingle stream,
    * i.e. one less corpus-wide aggregation exchange. */
  private def shingleSizes(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      size(text.shingleHashes(col(textCol), n)).as("sz"))

  /** FUZZY (edit-distance ≤ 1) id pairs via SYMMETRIC-DELETE blocking
    * — the SymSpell idea (Garbe 2012) as a distributed join: every
    * string emits its single-character deletion neighborhood (itself +
    * one variant per position), and two strings within one edit MUST
    * share a variant (identical ⇒ the string itself; substitution at
    * i ⇒ both i-deletions agree; insert/delete ⇒ one side's original
    * is in the other's neighborhood), so candidates come from an
    * equi-join on the variant — complete by construction, never an
    * all-pairs scan — and exact `levenshtein` prunes false candidates
    * (sharing a variant does not bound the distance: "ab" and "ba"
    * share variant "a" at distance 2). Shuffle is
    * (len+1) variants per row of (variant, id) — linear in corpus
    * text volume. The k=1 radius is inherent to single-deletion
    * neighborhoods; higher radii need k-deletion variants (cost
    * (len choose k)) — the standard SymSpell trade, not implemented.
    * Strings are matched case-insensitively on trimmed text. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // normalize in its OWN projection: the deletion lambda references
    // the string many times, and referencing the source column in the
    // same select that re-aliases it trips lateral-column-alias
    // resolution inside the lambda (INTERNAL_ERROR on Spark 4)
    val base = df.select(col(idCol).as("id"),
      lower(trim(coalesce(col(textCol), lit("")))).as("s"))
    val s = col("s")
    val dels = transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i)))
    // array_union dedups repeated-character variants; empty strings
    // guard the descending-sequence edge (sequence(1,0) counts DOWN)
    val variants = when(length(s) >= 1, array_union(array(s), dels))
      .otherwise(array(s))
    val keyed = base.select(col("id"), s, explode(variants).as("v"))
    val a = keyed.select(col("v"), col("id").as("id_a"), col("s").as("s_a"))
    val b = keyed.select(col("v"), col("id").as("id_b"), col("s").as("s_b"))
    a.join(b, Seq("v")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .distinct() // a pair sharing several variants must emit once
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Character-trigram similarity join (the pg_trgm model): pairs
    * whose DISTINCT-trigram Jaccard clears `thresholdPpm`, similarity
    * reported as the exact integer `shared·1e6 div (|A|+|B|−shared)`.
    * The record-linkage complement to [[fuzzyPairs]]: edit distance
    * catches typos, trigram overlap catches word-order swaps and
    * longer-range rewording of short strings (names, titles).
    *
    * Scale shape: block on SHARED TRIGRAM — the self-join is quadratic
    * only within one trigram's posting list, never globally — then one
    * (id_a, id_b) count aggregation yields `shared` directly (each
    * co-occurring trigram contributes exactly one joined row, since
    * gram sets are distinct per id). Set sizes ride the join tuples,
    * so similarity needs no second lookup. Complete: a pair above any
    * positive threshold shares ≥ 1 trigram and is found in that
    * trigram's block. Strings shorter than 3 chars have no trigrams
    * and never pair. */
  def trigramJoin(df: DataFrame, idCol: String, strCol: String,
                  thresholdPpm: Long): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000L)
    val base = df.select(col(idCol).cast("long").as("id"),
      lower(trim(coalesce(col(strCol), lit("")))).as("s"))
    val grams = base
      .select(col("id"), array_distinct(
        filter(transform(sequence(lit(1), length(col("s")) - 2),
          i => col("s").substr(i, lit(3))),
          g => length(g) === 3)).as("gs"))
      .select(col("id"), size(col("gs")).as("ng"), explode(col("gs")).as("g"))
    val a = grams.select(col("g"), col("id").as("id_a"), col("ng").as("na"))
    val b = grams.select(col("g"), col("id").as("id_b"), col("ng").as("nb"))
    a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jac_ppm",
        expr("shared * 1000000L div (na + nb - shared)"))
      .filter(col("jac_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("shared"), col("jac_ppm"))
  }

  /** EXACT n-gram Jaccard similarity pairs — the verification tier and
    * the SQL oracle for minhash. Shingle self-join: quadratic only
    * within shared-shingle buckets. `threshold` in (0,1].
    *
    * `maxShingleDocFreq` (0 = off) drops shingles shared by more than
    * that many documents before the self-join — the standard
    * stop-shingle cap. A boilerplate shingle in k docs contributes k^2
    * join rows; at corpus scale one hot shingle is the whole job. The
    * cap UNDERCOUNTS common; with sizes computed on the uncapped sets
    * (as here) the reported jaccard is a lower bound, so pairs near the
    * threshold may be missed — a recall/cost dial, off by default and
    * excluded from the oracle-checked queries. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDocFreq: Long = 0L): DataFrame = {
    val shingles = shingleSets(df, idCol, textCol, n)
    val sizes = shingleSizes(df, idCol, textCol, n)
    val joinable =
      if (maxShingleDocFreq <= 0) shingles
      else {
        val rare = shingles.groupBy(col("sh"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxShingleDocFreq)
          .select(col("sh"))
        shingles.join(rare, Seq("sh"), "left_semi")
      }
    val a = joinable.select(col("id").as("id_a"), col("sh"))
    val b = joinable.select(col("id").as("id_b"), col("sh"))
    val common = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** DIRECTED containment pairs (Broder 1997's resemblance companion):
    * c(A→B) = |A∩B| / |A|. Jaccard misses subset copies — a doc fully
    * embedded in a 10× larger one scores j ≈ 0.1 but c(A→B) = 1 — and
    * containment is how quote/excerpt duplication is actually caught.
    * Both directions reported as exact integer ppm; a pair surfaces
    * when EITHER direction clears the threshold. Scale shape matches
    * [[ngramJaccardPairs]]: shared-shingle blocking, never corpus-
    * quadratic; sizes ride pure projections. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, thresholdPpm: Long = 800000L): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000L)
    val shingles = shingleSets(df, idCol, textCol, n)
    val sizes = shingleSizes(df, idCol, textCol, n)
    val a = shingles.select(col("id").as("id_a"), col("sh"))
    val b = shingles.select(col("id").as("id_b"), col("sh"))
    a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("cont_ab_ppm", expr("common * 1000000L div sz_a"))
      .withColumn("cont_ba_ppm", expr("common * 1000000L div sz_b"))
      .filter(col("cont_ab_ppm") >= thresholdPpm ||
        col("cont_ba_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("common"),
        col("cont_ab_ppm"), col("cont_ba_ppm"))
  }

  /** EXACT n-gram Jaccard computed ONLY for the given candidate pairs —
    * the verification stage of a prune-then-verify dedup. Cost is linear
    * in candidates x shingles-per-doc (never corpus-quadratic): the
    * shingle stream is first semi-join-pruned to candidate docs, then
    * each pair's common-shingle count comes from one equi-join on
    * (doc, shingle). Returns (id_a, id_b, jaccard) with jaccard >=
    * `threshold`; candidate pairs below it (including zero-overlap
    * pairs) are dropped. */
  def verifyPairsJaccard(df: DataFrame, idCol: String, textCol: String,
                         pairs: DataFrame, n: Int = 3,
                         threshold: Double = 0.5,
                         materializeCand: Boolean = true): DataFrame = {
    // the candidate set feeds three consumers (the doc-id prune plus
    // both pair joins). Whether to MATERIALIZE it depends on upstream:
    //  - materializeCand = true (default): `pairs` carries work AQE's
    //    exchange reuse cannot dedupe (minhashPairs' post-exchange
    //    signature re-attach + agreement filter) — without
    //    materialization the upstream re-executes per consumer
    //    (measured 3x on the minhash-verified query). Candidates ~
    //    dup-rate x corpus — bounded executor-local storage. EAGER
    //    checkpoint per the A/B/C table at materializeShared (lazy
    //    persist regressed this tier ~2x in r7).
    //  - materializeCand = false: `pairs` ends at a plain exchange
    //    (contaminationPairs' deduped bucket hits) that exchange reuse
    //    already shares across consumers; caching it instead HID the
    //    common exchange from reuse and let the three cold-cache scan
    //    stages race, re-running the corpus minhash per consumer
    //    (measured 3x worse WITH the cache on q_contamination_report).
    val candBase = pairs.select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val cand =
      if (materializeCand) materializeShared(candBase)
      else candBase
    val docs = cand.select(col("id_a").as(idCol))
      .unionByName(cand.select(col("id_b").as(idCol))).distinct()
    // prune to candidate DOCS before shingling: candidate docs are a
    // sliver of the corpus (dup-rate x docs), so the shingle explode —
    // ~60 rows/doc — must never run over rows that no pair references
    val candDocs = df.join(docs, Seq(idCol), "left_semi")
    val shC = shingleSets(candDocs, idCol, textCol, n)
    val sizes = shingleSizes(candDocs, idCol, textCol, n)
    val common = cand
      .join(shC.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(shC.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Production prune-then-verify near-dup pairs: MinHash-LSH candidates
    * (pruned LOOSELY at `candThreshold` on the signature estimate, so
    * estimate noise near the boundary doesn't cost recall), each
    * verified by EXACT n-gram Jaccard at `threshold`. Output equals the
    * exact tier's pairs wherever LSH recall is 1 — which is what the
    * DuckDB oracle checks on the planted corpus. */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           shingleWidth: Int = 3, numHashes: Int = 128,
                           bands: Int = 32, candThreshold: Double = 0.35,
                           threshold: Double = 0.5,
                           seed: Long = FakeGen.DefaultSeed): DataFrame =
    verifyPairsJaccard(df, idCol, textCol,
      minhashPairs(df, idCol, textCol, shingleWidth, numHashes, bands,
        candThreshold, seed),
      shingleWidth, threshold)

  /** Near-dup pair EXPLAIN report: every minhash-verified pair with
    * its three similarity facets in exact ppm — Jaccard, CONTAINMENT
    * (common / min size: the facet that catches subset-style
    * near-dups Jaccard underrates — Broder 1997 distinguishes
    * resemblance from containment for exactly this reason), and the
    * raw length ratio. The governance row a human reviews before a
    * dedup policy deletes at corpus scale: a high-containment /
    * low-jaccard pair is an excerpt, not a duplicate. The ppm
    * threshold keeps the SAME pair set as [[minhashVerifiedPairs]]
    * (floor(c·1e6/u) ≥ t·1e6 ⟺ c/u ≥ t for integral t·1e6).
    *
    * Scale shape: identical prune-then-verify cost to the verified
    * tier (banded candidates, candidate-doc pruned shingles) plus two
    * bounded joins for sizes and lengths — all keyed on candidate
    * pairs, never the corpus. */
  def nearDupExplain(df: DataFrame, idCol: String, textCol: String,
                     lenCol: String, shingleWidth: Int = 3,
                     numHashes: Int = 128, bands: Int = 32,
                     candThreshold: Double = 0.35, threshold: Double = 0.5,
                     seed: Long = FakeGen.DefaultSeed): DataFrame = {
    val cand = materializeShared(
      minhashPairs(df, idCol, textCol, shingleWidth, numHashes, bands,
        candThreshold, seed)
        .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b"))
    val docs = cand.select(col("id_a").as(idCol))
      .unionByName(cand.select(col("id_b").as(idCol))).distinct()
    val candDocs = df.join(docs, Seq(idCol), "left_semi")
    val shC = shingleSets(candDocs, idCol, textCol, shingleWidth)
    val sizes = shingleSizes(candDocs, idCol, textCol, shingleWidth)
    val lens = candDocs.select(col(idCol).as("id"),
      col(lenCol).cast("long").as("len"))
    cand
      .join(shC.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(shC.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("__sa")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("__sb")), Seq("id_b"))
      .join(lens.select(col("id").as("id_a"), col("len").as("__la")), Seq("id_a"))
      .join(lens.select(col("id").as("id_b"), col("len").as("__lb")), Seq("id_b"))
      .withColumn("jaccard_ppm",
        expr("common * 1000000L div (__sa + __sb - common)"))
      .filter(col("jaccard_ppm") >= lit((threshold * 1e6).toLong))
      .withColumn("containment_ppm",
        expr("common * 1000000L div least(__sa, __sb)"))
      .withColumn("len_ratio_ppm",
        expr("least(__la, __lb) * 1000000L div greatest(__la, __lb, 1L)"))
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard_ppm"),
        col("containment_ppm"), col("len_ratio_ppm"))
  }

  /** Transitivity audit over a verified near-dup pair set: of all
    * WEDGES (a~m, m~b through a shared middle), how many close into a
    * triangle (a~b is itself a pair)? Transitive-closure dedup merges
    * clusters THROUGH wedges, so a low closure share means cluster
    * growth is CHAINING — documents merged because each resembles the
    * next, not each other — the known failure mode that deletes
    * non-duplicates at corpus scale and the reason keep-best policies
    * audit their clusters. One row: n_pairs, n_wedges (instances, one
    * per middle), n_closed, closure_ppm.
    *
    * Scale shape: the wedge join is keyed on the middle vertex of the
    * PAIR set (dup-rate-sized, never the corpus); closure is one
    * left-semi back onto the pairs. The same degree-bounded wedge
    * arithmetic as triangle counting, on a far smaller input.
    *
    * Input pairs are normalized INSIDE the operator (canonical
    * id_a < id_b orientation, duplicates dropped): a caller passing
    * reversed or repeated pairs would otherwise get silently wrong
    * closure counts — the (x, y) semi-join can't match a (y, x) row
    * and repeated rows inflate the wedge count. */
  def transitivityAudit(pairs: DataFrame): DataFrame = {
    // materialize once: the canonical pair frame feeds SIX subtrees
    // below (two symmetrize legs × two wedge-join sides, the closure
    // semi-join's right side, and the n_pairs aggregate), and for the
    // wired caller `pairs` is the minhash VERIFY — only its banded
    // candidates are materialized upstream, so without this cut the
    // signature-attach + exact-jaccard verify re-ran per consumer
    // (the componentsAuto lesson, same round)
    val pr = materializeShared(pairs.select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b"))
    val ud = pr.select(col("id_a").as("m"), col("id_b").as("e"))
      .unionByName(pr.select(col("id_b").as("m"), col("id_a").as("e")))
    val wedges = ud.select(col("m"), col("e").as("x"))
      .join(ud.select(col("m"), col("e").as("y")), Seq("m"))
      .filter(col("x") < col("y"))
    val closed = wedges.join(
      pr.select(col("id_a").as("x"), col("id_b").as("y")),
      Seq("x", "y"), "left_semi")
    pr.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_closed"))))
      .withColumn("closure_ppm",
        expr("n_closed * 1000000L div greatest(n_wedges, 1L)"))
  }

  /** SimHash-banded candidates verified by EXACT n-gram Jaccard — same
    * prune-then-verify shape with the hamming-pigeonhole pruner. */
  def simhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3, n: Int = 3,
                           threshold: Double = 0.5,
                           seed: Long = FakeGen.DefaultSeed): DataFrame =
    verifyPairsJaccard(df, idCol, textCol,
      simhashPairs(df, idCol, textCol, maxHamming, seed), n, threshold)

  /** Detector-characterization eval for the SimHash gate: every
    * shared-shingle pair bucketed by exact-jaccard decile, with the
    * share the hd ≤ `maxHamming` hamming gate would flag — on the
    * near-dup bands that share is the gate's RECALL, on the low-sim
    * bands its false-flag rate. The quality report run before trusting
    * a banding config at corpus scale. Exact integer ppm throughout.
    *
    * Scale shape: the pair frame is the shared-shingle join the exact
    * dedup tier already pays (linear in posting lists, never
    * corpus-quadratic); signatures attach as two plain equi-joins. */
  def simhashFlagRateEval(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxHamming: Int = 6,
                          seed: Long = FakeGen.DefaultSeed): DataFrame = {
    val shingles = shingleSets(df, idCol, textCol, n)
    val sizes = shingleSizes(df, idCol, textCol, n)
    val a = shingles.select(col("id").as("id_a"), col("sh"))
    val b = shingles.select(col("id").as("id_b"), col("sh"))
    val pairs = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("__jacc_ppm",
        expr("common * 1000000L div (sz_a + sz_b - common)"))
    val sigs = df.select(col(idCol).as("__sid"),
      text.simhash(col(textCol), seed).as("__sig"))
    pairs
      .join(sigs.select(col("__sid").as("id_a"), col("__sig").as("__sa")),
        Seq("id_a"))
      .join(sigs.select(col("__sid").as("id_b"), col("__sig").as("__sb")),
        Seq("id_b"))
      .withColumn("__hd", expr("bit_count(__sa ^ __sb)"))
      .groupBy(expr("__jacc_ppm div 100000").as("jacc_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("__hd") <= maxHamming, 1)).as("n_flagged"))
      .withColumn("flag_ppm", expr("n_flagged * 1000000L div n_pairs"))
  }

  /** Training-set DECONTAMINATION: drop every corpus document that is a
    * near-duplicate (n-gram jaccard >= `threshold`) of some document in
    * `reference` (an eval/benchmark set). Asymmetric by design: the
    * reference is tiny next to the corpus, so its banded minhash table
    * BROADCASTS and the corpus streams through one map-side bucket join
    * — no corpus shuffle at all until the (small) candidate verify.
    * Candidates are pruned loosely on signature agreement
    * (`candThreshold`) and verified by exact jaccard, like the
    * symmetric tiers. */
  def decontaminate(corpus: DataFrame, reference: DataFrame,
                    idCol: String, textCol: String,
                    shingleWidth: Int = 3, numHashes: Int = 128,
                    bands: Int = 32, candThreshold: Double = 0.35,
                    threshold: Double = 0.5,
                    seed: Long = FakeGen.DefaultSeed,
                    checkDisjoint: Boolean = true): DataFrame =
    corpus.join(
      contaminationPairs(corpus, reference, idCol, textCol, shingleWidth,
        numHashes, bands, candThreshold, threshold, seed, checkDisjoint)
        .select(col("id_a").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** The verified (corpus id_a, reference id_b) contamination matches —
    * the shared core of [[decontaminate]] (anti-join) and
    * [[contaminationReport]] (aggregate). Same prune-then-verify shape
    * and broadcast asymmetry as documented on [[decontaminate]]. */
  def contaminationPairs(corpus: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         shingleWidth: Int = 3, numHashes: Int = 128,
                         bands: Int = 32, candThreshold: Double = 0.35,
                         threshold: Double = 0.5,
                         seed: Long = FakeGen.DefaultSeed,
                         checkDisjoint: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the exact verify shingles corpus+reference as ONE id space — an
    // id collision would silently merge two documents' shingle sets and
    // corrupt every jaccard involving them. The reference side is tiny,
    // so this guard is one explicitly-BROADCAST semi-join (no corpus
    // shuffle; the scan prunes to the id column) + limit(1). It is an
    // EXECUTED job at plan-construction time, which at corpus scale is
    // an extra id-column scan per call — callers that already guarantee
    // disjoint id spaces (e.g. by key construction) pass
    // checkDisjoint = false and pay nothing; plan construction then
    // launches zero jobs (asserted in PlanAuditSpec).
    if (checkDisjoint)
      require(corpus
          .join(broadcast(reference.select(col(idCol))), Seq(idCol), "left_semi")
          .limit(1).isEmpty,
        s"corpus and reference share $idCol values; id spaces must be disjoint")
    val rows = numHashes / bands
    def sigsOf(df: DataFrame) = df.select(col(idCol).as("id"),
      text.minhash(col(textCol), shingleWidth, numHashes, seed).as("sig"))
    def bandedOf(sigs: DataFrame) = {
      val bandHashes = (0 until bands).map(b =>
        hash(slice(col("sig"), b * rows + 1, rows), lit(b)))
      sigs.select(col("id"),
        posexplode(array(bandHashes: _*)).as(Seq("band", "bandHash")))
    }
    val sigsC = sigsOf(corpus)
    val sigsR = sigsOf(reference)
    // bucketHits feeds both the signature re-attach prune and the
    // candidate join. NOT cached and NOT checkpointed on purpose: the
    // subplan ends at the dropDuplicates EXCHANGE, which AQE's
    // exchange reuse already computes once and shares across all
    // consumers — measured A/B/C on q_contamination_report at sf0.1
    // (min of 3): plain 1.9s, lazy-persist 7.0s (cold-cache scan
    // stages race and re-run the corpus minhash per consumer), eager
    // checkpoint 5.6s (r6 shape; also launched the full bucket join at
    // plan-construction time, which PlanDump paid per round).
    val bucketHits = bandedOf(sigsC).select(col("band"), col("bandHash"), col("id").as("id_a"))
      .join(broadcast(
        bandedOf(sigsR).select(col("band"), col("bandHash"), col("id").as("id_b"))),
        Seq("band", "bandHash"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // loose signature prune before the exact verify. Corpus signatures
    // are recomputed ONLY for bucket-hit docs — never a second
    // corpus-wide minhash pass.
    val sigsHit = sigsForDocs(corpus, idCol, textCol,
      bucketHits.select(col("id_a").as(idCol)).distinct(),
      shingleWidth, numHashes, seed)
    val cand = bucketHits
      .join(sigsHit.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(broadcast(sigsR.select(col("id").as("id_b"), col("sig").as("sig_b"))), Seq("id_b"))
      .filter(graft.functions.text.sigAgreement(col("sig_a"), col("sig_b")) >= candThreshold)
      .select(col("id_a"), col("id_b"))
    // exact verify over BOTH sides' shingles (one shingle job over the
    // union; id spaces must be disjoint — corpus ids vs eval-set ids).
    // materializeCand = false: this pipeline's shared work lives at
    // exchanges that AQE reuse already dedupes — see the A/B/C numbers
    // on verifyPairsJaccard/bucketHits
    verifyPairsJaccard(
      corpus.select(col(idCol), col(textCol))
        .unionByName(reference.select(col(idCol), col(textCol))),
      idCol, textCol, cand, shingleWidth, threshold,
      materializeCand = false)
      .select(col("id_a"), col("id_b"))
  }

  /** EXACT-overlap decontamination — the strict variant used for
    * GPT/PaLM-style eval hygiene: drop every corpus document that
    * shares ANY length-`n` token shingle with the eval set (no
    * similarity threshold; one shared n-gram is contamination). The
    * jaccard-threshold [[decontaminate]] is the lenient tier; this is
    * the paranoid one, and it is CHEAPER: the eval set's distinct
    * shingle hashes broadcast, the corpus streams through one map-side
    * semi-join — no candidate verify stage at all, zero corpus
    * shuffle. Same whole-doc fallback as every shingle kernel: a
    * document shorter than `n` tokens is one exact-text shingle.
    *
    * Collision bound: shingles compare by 64-bit hash, and under the
    * any-shared-shingle rule a single corpus-vs-eval hash collision
    * false-drops a whole document (unlike the jaccard tiers, where a
    * collision only perturbs a count by 1). Expected cross-set
    * collisions ≈ |corpus shingles| x |eval shingles| / 2^64 — at
    * ~10^12 x 10^7 that is order-1 documents lost from ~10^9, an
    * acceptable decontamination-side error (it over-drops, never
    * under-drops). If even that is unacceptable, re-verify the (tiny)
    * hit set against exact shingle strings before the anti-join. */
  def decontaminateExactNgram(corpus: DataFrame, reference: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 13): DataFrame = {
    val refSh = shingleSets(reference, idCol, textCol, n)
      .select(col("sh")).distinct()
    val hit = shingleSets(corpus, idCol, textCol, n)
      .join(broadcast(refSh), Seq("sh"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    corpus.join(hit, Seq(idCol), "left_anti")
  }

  /** Contamination DASHBOARD: per `groupCol` of the corpus (source,
    * language, shard…), how many documents are near-dups of the eval
    * set and how many (document, eval-item) matches there are — the
    * audit you run BEFORE deciding to decontaminate, and the evidence
    * artifact afterwards. Groups with zero matches don't appear (the
    * report is about contamination found). Cost = [[contaminationPairs]]
    * (broadcast-asymmetric, no corpus shuffle) + one aggregate over the
    * tiny match set. */
  def contaminationReport(corpus: DataFrame, reference: DataFrame,
                          idCol: String, textCol: String, groupCol: String,
                          shingleWidth: Int = 3, numHashes: Int = 128,
                          bands: Int = 32, candThreshold: Double = 0.35,
                          threshold: Double = 0.5,
                          seed: Long = FakeGen.DefaultSeed,
                          checkDisjoint: Boolean = true): DataFrame =
    contaminationPairs(corpus, reference, idCol, textCol, shingleWidth,
      numHashes, bands, candThreshold, threshold, seed, checkDisjoint)
      .join(corpus.select(col(idCol).as("id_a"), col(groupCol)), Seq("id_a"))
      .groupBy(col(groupCol))
      .agg(countDistinct(col("id_a")).as("n_docs_flagged"),
           count(lit(1)).as("n_matches"))

  /** Connected components over an undirected pair list ((id_a, id_b)
    * edges): returns (id, component) where component = the minimum id
    * reachable from `id`. Iterative min-label propagation — each round
    * is one join + aggregate, converging in O(component diameter)
    * rounds (near-dup clusters are shallow; 25 rounds covers a
    * 33M-node path). Deterministic.
    */
  def components(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = track(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache())
    // Each round references the previous round's result: without lineage
    // truncation the logical plan doubles per iteration (OOM by ~30
    // rounds). LineageCut materializes and cuts the lineage —
    // localCheckpoint by default, reliable (HDFS) checkpoint when the
    // session opts in via spark.graft.bsp.checkpoint=reliable (fault
    // tolerance for long chains on a real cluster). The label frame is
    // read several times per round, so the chain cuts every round; each
    // cut frees the superseded round's blocks (reliable mode also its
    // snapshot files) right after the new round is materialized — O(1)
    // label snapshots instead of O(iterations) until GC.
    val pc = new LineageCut.PeriodicCut()
    var labels = pc.cut(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate label for each node: min over neighbors' labels
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nbr_component"))
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr_component"), col("component")))
            .as("component"))
      // pointer jumping (path-halving): component := label(component).
      // The looked-up label is reachable from the current one, so the
      // min-reachable invariant holds, and round count drops from
      // O(diameter) to O(log diameter) — on a long chain that is the
      // difference between 30 rounds of fixed per-round job overhead
      // and 6. One extra self-join of the label table per round.
      //
      // The PREVIOUS round's label rides through the cut as __old so
      // the convergence probe is a filter over the checkpoint blocks —
      // the old probe re-joined two materialized |V|-row frames
      // (shuffle both sides by id) every round for one boolean. 8
      // bytes/row of extra checkpoint width buys two exchanges + a
      // join per round; the decision ("any label changed") and the
      // returned labels are identical.
      labels = pc.cut(stepped.as("s")
        .join(stepped.select(col("id").as("__cid"),
          col("component").as("__cc")),
          col("s.component") === col("__cid"), "left")
        .select(col("s.id").as("id"), col("s.__old").as("__old"),
          least(col("s.component"), coalesce(col("__cc"), col("s.component")))
            .as("component")))
      val changed = labels.filter(col("component") =!= col("__old"))
        .limit(1).count()
      converged = changed == 0
      iter += 1
    }
    // the probe column is internal; output stays (id, component)
    track(labels.drop("__old"))
  }

  /** Driver-side union-find over a collected pair list — the fast path
    * when candidate pairs fit in driver memory (they usually do: pairs
    * ~ dup-rate x docs, NOT docs^2). Returns ids to DROP (every member
    * of a component except its minimum). */
  private[graft] def unionFindDropIds(pairs: Array[(Long, Long)]): Set[Long] =
    unionFindComponents(pairs).collect { case (id, c) if c != id => id }.toSet

  /** Driver union-find that returns the full (id → component) map,
    * component = the minimum id of the member's component. */
  private[graft] def unionFindComponents(
      pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min root wins => representative = min id
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      .map((id: Long) => id -> find(id)).toMap
  }

  /** [[components]] with the [[dedupCorpus]] hybrid applied to the
    * GENERAL operator: when the edge list fits the driver
    * (`maxDriverPairs`, ~16 bytes/pair), one union-find pass replaces
    * the iterative distributed fixpoint — a bounded collect, the same
    * contract as IVF centroids — and the result is parallelized back.
    * Above the bound, the min-label BSP runs unchanged. Both branches
    * produce the identical (id, component=min reachable id) mapping. */
  def componentsAuto(pairs: DataFrame, maxDriverPairs: Long = 2000000L,
                     maxIter: Int = 25): DataFrame = {
    val norm = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    // branch probe AND data in ONE action: collect a LIMIT(bound+1)
    // slice — under the bound, limit(n) with n > count is the full
    // edge list, so the union-find input is already in hand and the
    // possibly-expensive upstream (the near-dup pair verify) runs
    // once, not twice (the old count-then-collect shape re-ran it per
    // action; only the banded candidates are materialized upstream).
    // Over the bound the slice is discarded and the distributed
    // fixpoint takes over — bound+1 rows (~16 bytes each) is the same
    // driver-memory class as the under-bound collect the old path
    // already paid.
    val probeCap = math.min(maxDriverPairs + 1, Int.MaxValue.toLong).toInt
    val arr = norm.limit(probeCap).collect().map(r => (r.getLong(0), r.getLong(1)))
    if (arr.length <= maxDriverPairs) {
      val comp = unionFindComponents(arr).toSeq
      val s = pairs.sparkSession
      import s.implicits._
      comp.toDF("id", "component")
    } else components(pairs, maxIter)
  }

  /** Full near-dup dedup: detect pairs (minhash LSH), cluster them, and
    * keep only each component's minimum-id document. Returns the
    * surviving rows of `df`.
    *
    * Clustering is hybrid: when the candidate-pair count fits the
    * driver (`maxDriverPairs`, ~16 bytes/pair), union-find runs locally
    * in one pass — like IVF centroids, a bounded driver-side structure,
    * much cheaper than an iterative distributed fixpoint. Above the
    * bound it falls back to [[components]] (min-label propagation).
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  shingleWidth: Int = 3, numHashes: Int = 128,
                  bands: Int = 32, threshold: Double = 0.5,
                  seed: Long = FakeGen.DefaultSeed,
                  maxDriverPairs: Long = 5000000L): DataFrame =
    dropNearDupsByPairs(df, idCol,
      minhashPairs(df, idCol, textCol, shingleWidth, numHashes,
        bands, threshold, seed),
      maxDriverPairs)

  /** Full embedding near-dup dedup: subquadratic LSH pair detection,
    * cluster, keep each component's minimum-id row — the embedding twin
    * of [[dedupCorpus]] with the same hybrid clustering. */
  def dedupCorpusEmbedding(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nBits: Int = 8,
                           probeHamming: Int = 2,
                           seed: Long = FakeGen.DefaultSeed,
                           maxDriverPairs: Long = 5000000L): DataFrame =
    dropNearDupsByPairs(df, idCol,
      embeddingNearDupPairsLsh(df, idCol, vecCol, threshold, nBits,
        probeHamming, seed),
      maxDriverPairs)

  /** [[dedupCorpus]] with QUALITY-AWARE representative selection: each
    * near-dup cluster keeps its best member by (`qualityCol` desc, id
    * asc) instead of the minimum id — the "keep the longest copy"
    * curation rule (RefinedWeb/Dolma keep the highest-quality
    * duplicate, not the first-seen one; Penedo et al. 2023 §3.3).
    * Same pair source and hybrid clustering as [[dedupCorpus]], so the
    * cluster STRUCTURE is identical — only the survivor per cluster
    * changes. The representative window partitions by component
    * (bounded by the largest dup cluster, never corpus-sized). */
  def dedupCorpusKeepBest(df: DataFrame, idCol: String, textCol: String,
                          qualityCol: String, shingleWidth: Int = 3,
                          numHashes: Int = 128, bands: Int = 32,
                          threshold: Double = 0.5,
                          seed: Long = FakeGen.DefaultSeed,
                          maxDriverPairs: Long = 2000000L): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleWidth, numHashes,
      bands, threshold, seed)
    val comp = componentsAuto(pairs, maxDriverPairs)
    val q = df.select(col(idCol).cast("long").as("id"),
      col(qualityCol).as("__q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("__q").desc, col("id").asc)
    val drop = comp.join(q, Seq("id"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("id").as(idCol))
    // no broadcast hint: the drop set is dup-rate x corpus, which AQE
    // can judge at runtime (the forced-|V|-broadcast lesson from
    // Graph.neighborJaccard)
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Per-document n-gram NOVELTY: the share of a document's distinct
    * shingles whose first corpus occurrence (minimum id) is this
    * document — 1.0 for genuinely new content, 0 for a pure rehash of
    * earlier documents, the "how much does this doc add" curation
    * signal between exact dedup (all-or-nothing) and near-dup pairs
    * (pairwise only). Cost is one aggregation + one join keyed on the
    * shingle — shuffle ∝ distinct (doc, shingle) rows, linear like the
    * exact-ngram tiers, never pairwise. All-integer ppm. */
  def noveltyReport(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val sh = shingleSets(df, idCol, textCol, n)
    val first = sh.groupBy(col("sh")).agg(min(col("id")).as("__first"))
    val perDoc = sh.join(first, Seq("sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__ns"),
        count(when(col("__first") === col("id"), 1)).as("__nv"))
    df.select(col(idCol))
      .join(perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ns"), lit(0L)).as("n_shingles"),
        coalesce(col("__nv"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr(
        "CASE WHEN n_shingles > 0 THEN n_novel * 1000000 div n_shingles " +
          "ELSE 0 END"))
  }

  /** Leakage-free train/val/test split: near-duplicate CLUSTERS are
    * assigned as units, so no eval document has a near-copy in train —
    * the contamination mode a plain per-document hash split
    * ([[Sampling.splitAssign]]) cannot prevent. Split identity is the
    * cluster representative (component min id; singletons are their
    * own id), hashed with the same content-keyed md5 rule as every
    * sampling operator, so assignment stays stable across runs,
    * re-partitionings, and corpus growth that doesn't touch a cluster.
    * Same pair source and hybrid clustering as [[dedupCorpus]]. */
  def leakageFreeSplit(df: DataFrame, idCol: String, textCol: String,
                       trainFrac: Double, valFrac: Double,
                       shingleWidth: Int = 3, numHashes: Int = 128,
                       bands: Int = 32, threshold: Double = 0.5,
                       seed: Long = FakeGen.DefaultSeed,
                       maxDriverPairs: Long = 2000000L): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleWidth, numHashes,
      bands, threshold, seed)
    val comp = componentsAuto(pairs, maxDriverPairs)
      .withColumnRenamed("id", idCol)
    val withComp = df.join(comp, Seq(idCol), "left")
      .withColumn("component",
        coalesce(col("component"), col(idCol).cast("long")))
    Sampling.splitAssign(withComp, "component", trainFrac, valFrac,
      seed, domain = "split")
  }

  /** Shared clustering tail of the corpus dedups: cluster the (id_a,
    * id_b) near-dup pairs and anti-join every non-minimum component
    * member out of `df`. Hybrid: pair lists that fit the driver
    * (`maxDriverPairs` x ~16 bytes) use one-pass union-find; larger
    * ones the distributed min-label fixpoint. */
  private def dropNearDupsByPairs(df: DataFrame, idCol: String,
                                  rawPairs: DataFrame,
                                  maxDriverPairs: Long): DataFrame = {
    val pairs = track(rawPairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .localCheckpoint(true))
    if (pairs.count() <= maxDriverPairs) {
      val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      // the pair list is fully on the driver now; its checkpoint blocks
      // have no further reader (the survivors join below touches only
      // `df` and the broadcast drop set)
      org.apache.spark.sql.graftbridge.Bridge.releaseMaterialized(pairs)
      val drop = unionFindDropIds(collected)
      if (drop.isEmpty) df
      else {
        // broadcast anti-join (drop set is small by construction); an
        // isin() literal list would bloat the plan at millions of ids
        val spark = df.sparkSession
        import spark.implicits._
        val dropDf = broadcast(drop.toSeq.toDF(idCol))
        df.join(dropDf, Seq(idCol), "left_anti")
      }
    } else {
      val comp = components(pairs.toDF("id_a", "id_b"))
      val dropIds = comp.filter(col("id") =!= col("component")).select(col("id"))
      df.join(dropIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    }
  }

  /** EXACT embedding near-duplicate pairs: every pair with cosine >=
    * threshold. Exact all-pairs is inherently Theta(n^2) COMPUTE at a
    * low threshold (no metric structure to prune against — the
    * candidate boundary sits inside the bulk of the random-cosine
    * distribution), but it must never be a driver-side or single-task
    * cartesian. This runs as a balanced blocked self-join:
    *
    *   - each row gets a block id `pmod(hash(id), nBlocks)`
    *   - the upper-triangle grid of block pairs (i <= j) is a tiny
    *     broadcast table; side A replicates each row to its row-block's
    *     grid row, side B to its block's grid column
    *   - the join key is the CELL id — a plain shuffled equi-join with
    *     n(nBlocks+1)/2 rows per side spread evenly over
    *     nBlocks(nBlocks+1)/2 keys. No CartesianProduct /
    *     BroadcastNestedLoop node; every executor scores an equal slice.
    *
    * Shuffle volume is n*(nBlocks+1) rows; compute n^2/2 cosines. Size
    * nBlocks ~ sqrt(tasks wanted). For the subquadratic NEAR-DUP regime
    * (high threshold) use [[embeddingNearDupPairsLsh]].
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nBlocks: Int = 16): DataFrame = {
    import graft.functions.vectors
    val spark = df.sparkSession
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      pmod(hash(col(idCol)), lit(nBlocks)).as("blk"))
    val cells = spark.range(nBlocks.toLong * nBlocks)
      .select((col("id") / nBlocks).cast("int").as("bi"),
              (col("id") % nBlocks).cast("int").as("bj"))
      .filter(col("bi") <= col("bj"))
      .withColumn("cell", col("bi") * nBlocks + col("bj"))
    val aSide = v.join(broadcast(cells), col("blk") === col("bi"))
      .select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
    val bSide = v.join(broadcast(cells), col("blk") === col("bj"))
      .select(col("cell"), col("id").as("id_b"), col("v").as("v_b"))
    aSide.join(bSide, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cos", vectors.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      // diagonal cells emit both orders; canonicalize then drop the twin
      .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"),
              round(col("cos"), 6).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup-style within-cluster near-dup pairs: a k-means coarse
    * quantizer (the IVF centroid table — reuse one training run for
    * both search and dedup) partitions the corpus; pairs are scored
    * ONLY inside a cluster. Compute drops from n^2/2 to
    * sum(cluster_size^2)/2 — with nlist ~ n/target_cluster_size the
    * standard corpus-scale recipe (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540). A near-dup pair straddling a centroid boundary
    * is missed by construction; that is the accepted recall trade of
    * the method (the LSH tier [[embeddingNearDupPairsLsh]] is the
    * boundary-free alternative).
    *
    * Inside a cluster the same balanced upper-triangle cell grid as
    * [[embeddingNearDupPairs]] applies — join key (cluster, cell) — so
    * a hot cluster spreads over nBlocks(nBlocks+1)/2 tasks instead of
    * one: cluster skew is the known failure mode of semantic dedup at
    * scale and the grid is the fix, not a bigger executor.
    *
    * `nprobe`: SOFT assignment — each vector enters its `nprobe`
    * nearest clusters, and a pair is found if ANY probed cluster is
    * shared. nprobe=1 is hard SemDeDup (boundary pairs whose members
    * fall on different sides of a Voronoi face are missed — observed
    * on the planted corpus at 2 of 3 SFs); nprobe=2 recovers them
    * for ~2x the replicated rows (candidate volume per cluster-pair
    * is unchanged; duplicate discoveries collapse in the final
    * distinct). The standard multi-probe recall/cost dial.
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: Array[Array[Float]],
                           threshold: Double, nBlocks: Int = 8,
                           nprobe: Int = 2): DataFrame = {
    import graft.functions.vectors
    val spark = df.sparkSession
    // vectors ride the nprobe x grid replication INLINE — deliberately
    // NOT the minhash/LSH re-attach shape: those tiers prune before
    // verifying, so their candidate sets are small, while SemDeDup's
    // "candidates" are ALL within-cluster pairs (sum(size^2)/2 —
    // quadratic in cluster size). Re-attaching would materialize that
    // pair stream; inline vectors cost a LINEAR ~nprobe*(nBlocks+1)
    // copies per row and let the cosine filter run inside the join
    // with nothing quadratic ever stored.
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      explode(Ivf.probes(col(vecCol), centroids, nprobe)).as("cluster"),
      pmod(hash(col(idCol)), lit(nBlocks)).as("blk"))
    val cells = spark.range(nBlocks.toLong * nBlocks)
      .select((col("id") / nBlocks).cast("int").as("bi"),
              (col("id") % nBlocks).cast("int").as("bj"))
      .filter(col("bi") <= col("bj"))
      .withColumn("cell", col("bi") * nBlocks + col("bj"))
    val aSide = v.join(broadcast(cells), col("blk") === col("bi"))
      .select(col("cluster"), col("cell"), col("id").as("id_a"), col("v").as("v_a"))
    val bSide = v.join(broadcast(cells), col("blk") === col("bj"))
      .select(col("cluster"), col("cell"), col("id").as("id_b"), col("v").as("v_b"))
    aSide.join(bSide, Seq("cluster", "cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cos", vectors.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"),
              round(col("cos"), 6).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Semantic (cluster-bounded) embedding dedup end to end: within-
    * cluster pairs -> shared clustering tail -> keep each component's
    * minimum id. The SemDeDup pipeline shape. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Float]], threshold: Double,
                    nBlocks: Int = 8, nprobe: Int = 2,
                    maxDriverPairs: Long = 5000000L): DataFrame =
    dropNearDupsByPairs(df, idCol,
      semanticNearDupPairs(df, idCol, vecCol, centroids, threshold, nBlocks,
        nprobe),
      maxDriverPairs)

  /** Subquadratic embedding near-dup pairs — the 100 TB path for the
    * actual near-duplicate regime (threshold near 1, e.g. copies /
    * re-encodes). Hyperplane-LSH bucket equi-join with multi-probe:
    * side A probes every bucket within `probeHamming` bit flips of its
    * own, candidates verified by EXACT cosine. Only (id, bucket) goes
    * through the probe explode — vectors re-attach to the (small)
    * candidate set afterwards (same shuffle shape as [[minhashPairs]]).
    *
    * Recall < 1 by construction: a true pair is missed when its
    * sketches differ in > probeHamming bits (P ~ Binomial(nBits,
    * angle/pi) tail — e.g. cos 0.999, 8 bits, probe 2 => ~0.999 per
    * pair). Candidate volume for unrelated pairs ~ P[Bin(nBits, 1/2) <=
    * probeHamming] * n^2 (~3.5% at 8/2). Tune both dials jointly.
    */
  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, nBits: Int = 8,
                               probeHamming: Int = 2,
                               seed: Long = FakeGen.DefaultSeed): DataFrame = {
    import graft.functions.vectors
    // every XOR pattern flipping <= probeHamming of the nBits, with a
    // pre-counted fan-out cap (the probe explode multiplies side A by
    // masks.size)
    val masks: Seq[Long] = ProbeMasks.masks(nBits, probeHamming)
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      vectors.hyperplaneBucket(col(vecCol), nBits, seed).as("bucket"))
    val aProbe = sigs.select(col("id").as("id_a"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val bSide = sigs.select(col("bucket"), col("id").as("id_b"))
    val cand = aProbe.join(bSide, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sigs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", vectors.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** [[embeddingNearDupPairsLsh]] with the bucket-space dial derived
    * from the corpus size: the smallest `nBits` whose unrelated-pair
    * collision tail `P[Bin(nBits, 1/2) <= probeHamming]` keeps the
    * expected candidate partners per row at or under `targetPartners`.
    * Bucket occupancy then stays CONSTANT as the corpus grows, so
    * candidate volume stays ~targetPartners·n/2 — linear — instead of
    * the fixed-bits `n² · tail` blow-up the 10× scale probe caught
    * (44× wall for 10× data at a constant nBits = 8). One bounded
    * `count()` picks the dial (the componentsAuto probe pattern).
    *
    * Recall note: multi-probe covers sketches within `probeHamming`
    * flips, and a true pair's per-bit flip probability is θ/π — in
    * the operator's designed near-dup regime (threshold near 1,
    * θ/π ≪ 1/nBits) recall stays ~1 as nBits grows with the corpus;
    * at similarity-regime thresholds it does not, and the IVF-blocked
    * semantic tier is the right tool instead. */
  def embeddingNearDupPairsLshAuto(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, probeHamming: Int = 2,
      targetPartners: Int = 8, minBits: Int = 6, maxBits: Int = 24,
      seed: Long = FakeGen.DefaultSeed): DataFrame = {
    val n = math.max(df.count(), 2L)
    val nBits = autoLshBits(n, probeHamming, targetPartners, minBits, maxBits)
    embeddingNearDupPairsLsh(df, idCol, vecCol, threshold, nBits,
      probeHamming, seed)
  }

  /** The [[embeddingNearDupPairsLshAuto]] dial as a pure function:
    * smallest b in [minBits, maxBits] with
    * (Σ_{k<=probe} C(b,k)) / 2^b · (n−1) ≤ targetPartners. */
  private[graft] def autoLshBits(n: Long, probeHamming: Int,
      targetPartners: Int, minBits: Int, maxBits: Int): Int = {
    require(minBits >= 1 && maxBits <= 62 && minBits <= maxBits,
      s"bits range out of order: [$minBits, $maxBits]")
    def tail(b: Int): Double = {
      var s = 0.0; var c = 1.0
      for (k <- 0 to probeHamming) { s += c; c = c * (b - k) / (k + 1) }
      s / math.pow(2.0, b)
    }
    (minBits to maxBits).find(b => tail(b) * (n - 1) <= targetPartners)
      .getOrElse(maxBits)
  }

  /** INCREMENTAL exact dedup: filter a NEW batch against an existing
    * corpus's fingerprint index without rescanning the corpus — the
    * continuous-curation shape (every ingest batch dedups against
    * everything already accepted). `existingFps` is the persisted
    * one-column fingerprint table the pipeline maintains (append the
    * survivors' fingerprints after each batch); at 100 TB it is the
    * only corpus-sized state touched, and the anti-join against it is
    * a plain hash join on a 32-char key. Within-batch duplicates also
    * collapse (min-id winner, like [[exact]]). */
  def incrementalByFingerprint(newDocs: DataFrame, idCol: String,
                               textCol: String,
                               existingFps: DataFrame): DataFrame = {
    require(existingFps.columns.length == 1,
      s"existingFps must be a one-column fingerprint table, got " +
      existingFps.columns.mkString(", "))
    val fpCol = existingFps.columns.head
    // fingerprint ONCE (the md5 over full text is the dominant per-row
    // cost): within-batch min-id collapse and the index anti-join both
    // ride the same __fp column
    exact(newDocs.withColumn("__fp", text.fingerprintMd5(col(textCol))),
        idCol, Seq("__fp"))
      .join(existingFps.select(col(fpCol).as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** [[incrementalByFingerprint]] with a BLOOM pre-filter — the
    * bloom-join pattern for when the fingerprint index is too large to
    * broadcast (billions of fps): one distributed pass builds a Bloom
    * filter over the index (`df.stat.bloomFilter`, tree-aggregated);
    * batch rows whose fingerprint MISSES the filter are definitely new
    * (no false negatives) and skip the join entirely, so the exact
    * anti-join's shuffle carries only possible-hits — true dups plus
    * `fpp` of the batch — instead of the whole batch. Result is
    * IDENTICAL to the exact tier (false positives are eliminated by
    * the verify join), which is why the same oracle checks both.
    * Size `expectedItems` to the index cardinality: at 1e9 fps and
    * fpp=0.01 the filter is ~1.2 GB (executor-resident, plan-embedded);
    * prefer the plain anti-join while the index still broadcasts. */
  def incrementalByFingerprintBloom(newDocs: DataFrame, idCol: String,
                                    textCol: String,
                                    existingFps: DataFrame,
                                    expectedItems: Long,
                                    fpp: Double = 0.01): DataFrame = {
    require(existingFps.columns.length == 1,
      s"existingFps must be a one-column fingerprint table, got " +
      existingFps.columns.mkString(", "))
    val fpName = existingFps.columns.head
    val bloom = existingFps.stat.bloomFilter(fpName, expectedItems, fpp)
    val mightContain = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BloomMightContainExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("__fp")),
        new graft.functions.BloomRef(bloom, s"fp-index~$expectedItems@$fpp")))
    val batch = exact(
      newDocs.withColumn("__fp", text.fingerprintMd5(col(textCol))),
      idCol, Seq("__fp"))
    // null fingerprints (null text) never equal any index key, so the
    // exact tier's anti-join KEEPS them; a bare `!mightContain` is NULL
    // for them and would drop them from BOTH branches here — coalesce
    // routes them to definitelyNew, keeping the tiers identical on any
    // corpus with null text
    val hit = coalesce(mightContain, lit(false))
    val definitelyNew = batch.filter(!hit)
    val verified = batch.filter(hit)
      .join(existingFps.select(col(fpName).as("__fp")), Seq("__fp"), "left_anti")
    definitelyNew.unionByName(verified).drop("__fp")
  }

  /** Chunk-level exact dedup (the "line dedup" of CCNet/RefinedWeb,
    * word-chunk flavored since this corpus has no newlines): split each
    * document into consecutive `chunkWords`-word chunks, keep only the
    * globally FIRST occurrence of every distinct chunk (ordered by
    * (id, chunk index) — deterministic), and reassemble the surviving
    * chunks per document in their original order. Documents whose every
    * chunk appeared earlier elsewhere drop out entirely.
    *
    * Scale shape: chunking is a local projection (lambdas evaluate per
    * CHUNK, not per char, so interpretation overhead is ~len/chunkWords
    * per doc); first-occurrence is `min(struct(id, idx))` grouped by
    * chunk — a hash aggregate with MAP-SIDE partial combine, so the
    * exchange carries ~one row per distinct chunk per task; reassembly
    * re-groups winners by doc id (winners only — already shrunk).
    * Chunk text rides the first shuffle once; that is the same bytes
    * the scan already paid, and it avoids the second full corpus scan
    * a hash-then-reattach formulation would need.
    */
  def dedupChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkWords: Int): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive, got $chunkWords")
    val chunks = expr(
      s"transform(sequence(0, cast(ceil(size(__toks) / ${chunkWords}.0) as int) - 1), " +
      s"i -> array_join(slice(__toks, i * $chunkWords + 1, $chunkWords), ' '))")
    val exploded = df
      .withColumn("__toks", split(lower(trim(col(textCol))), "\\s+"))
      .select(col(idCol), posexplode(chunks).as(Seq("idx", "chunk")))
    exploded
      .groupBy(col("chunk"))
      .agg(min(struct(col(idCol), col("idx"))).as("__w"))
      .select(col("__w")(idCol).as(idCol), col("__w")("idx").as("idx"), col("chunk"))
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("chunk")))),
        x => x.getField("chunk")), " ").as("text_clean"))
  }

  // ---------------------------------------------------------------------
  // Exact substring-level dedup (word-n-gram granularity)
  // ---------------------------------------------------------------------

  /** Tokens for the substring tier: lower + trim + \s+ split, empty
    * segments dropped — the corpus-wide tokenization convention shared
    * with [[graft.functions.TextKernels]] and every text oracle. */
  private def substrToks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= lit(""))

  /** (gram stream (id, pos, gram), per-doc base (id, ntok)) for the
    * substring tier: every word `n`-gram with its 0-based start
    * position. A doc shorter than `n` tokens contributes no grams but
    * stays in `base` so it surfaces downstream with zero counts. */
  private def gramStream(df: DataFrame, idCol: String, textCol: String,
                         n: Int, hashed: Boolean): (DataFrame, DataFrame) = {
    require(n > 0, s"n must be positive, got $n")
    val base = df
      .select(col(idCol).as("id"), substrToks(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("ntok"))
    val gramsArr = when(col("ntok") >= n,
        transform(sequence(lit(0), col("ntok") - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val grams0 = base.select(col("id"), posexplode(gramsArr).as(Seq("pos", "gram")))
    val grams =
      if (hashed) grams0.withColumn("gram", xxhash64(col("gram"))) else grams0
    // the stream feeds BOTH the dup-set aggregate and the hits join —
    // eager checkpoint computes the scan+explode once (the
    // materializeShared contract above; sf0.1 A/B: clean 2.33s -> 1.77s,
    // stats neutral until its aggregate fuse, below)
    (materializeShared(grams), base.select(col("id"), col("ntok")))
  }

  /** The duplicated-gram set: grams occurring in >= `minDocs` DISTINCT
    * docs (within-doc repetition alone does not qualify — that regime
    * is the repetition kernel's). One groupBy with map-side partial
    * count-distinct; shuffle ∝ distinct grams, never all-pairs. */
  private def duplicatedGrams(grams: DataFrame, minDocs: Int): DataFrame =
    grams.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("gram")

  /** Exact substring-duplication stats at word `n`-gram granularity —
    * the distributed form of suffix-array substring dedup (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better":
    * a span occurring verbatim in enough distinct documents is
    * duplicated text, the single largest source of memorized training
    * data). Per document:
    *   n_dup_ngrams — distinct n-grams of this doc occurring in
    *                  >= `minDocs` distinct docs;
    *   dup_tokens   — token positions covered by at least one such
    *                  gram (the length [[removeDuplicatedNgrams]] would
    *                  delete);
    *   n_tokens     — total tokens.
    *
    * Scale shape: explode grams with positions, one distinct-doc-count
    * groupBy over the gram stream, one equi-join of the stream against
    * the duplicated set, per-doc aggregates — every stage keyed, no
    * pairwise comparison anywhere. `hashed=true` shuffles 64-bit
    * xxhash64 fingerprints instead of gram strings (~4-8x fewer shuffle
    * bytes at n=5; a false dup needs a 64-bit collision), so the scale
    * path trades an astronomically-small error for bandwidth — the
    * exact string path is the default and the oracle contract, and
    * SubstringDedupSpec pins both paths equal on the test corpus. */
  def duplicatedNgramStats(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 5, minDocs: Int = 2,
                           hashed: Boolean = false): DataFrame = {
    val (grams, base) = gramStream(df, idCol, textCol, n, hashed)
    val hits = grams.join(duplicatedGrams(grams, minDocs), Seq("gram"))
    // one aggregate, one exchange: explode each hit into its covered
    // positions carrying the gram along, then BOTH distinct counts in a
    // single groupBy (Spark plans the two distincts via one Expand —
    // measured at sf0.1 vs separate distinct()+agg+join: 2.31s -> 1.81s)
    val perDoc = hits
      .select(col("id"), col("gram"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .groupBy(col("id"))
      .agg(countDistinct(col("gram")).as("n_dup_ngrams"),
        countDistinct(col("p")).as("dup_tokens"))
    base
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_dup_ngrams"), lit(0L)).as("n_dup_ngrams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("ntok").cast("long").as("n_tokens"))
  }

  /** Deletes every cross-document duplicated span: tokens covered by
    * any word n-gram occurring in >= `minDocs` distinct docs are
    * removed; survivors re-join with single spaces in original order.
    * Output text is in the tier's normalized token space (lower,
    * whitespace collapsed) — the [[dedupChunks]] convention. Docs with
    * nothing left (fully duplicated, or empty input) yield ''. */
  def removeDuplicatedNgrams(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 5, minDocs: Int = 2): DataFrame = {
    val (grams, _) = gramStream(df, idCol, textCol, n, hashed = false)
    // no distinct(): left_anti ignores right-side multiplicity, and the
    // dedupe would cost a full (id, pos) exchange the join re-does anyway
    val covered = grams.join(duplicatedGrams(grams, minDocs), Seq("gram"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
    val positioned = df.select(col(idCol).as("id"),
      posexplode(substrToks(col(textCol))).as(Seq("pos", "tok")))
    val clean = positioned.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("text_clean"))
    df.select(col(idCol))
      .join(clean.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
