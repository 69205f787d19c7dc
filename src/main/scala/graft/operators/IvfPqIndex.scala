package graft.operators

import graft.functions.{PqEncodeExpr, PqLutExpr, PqTable}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Persisted IVF-PQ index: the serving composition of [[IvfIndex]]
  * (partition-pruned inverted lists) and [[Pq]] (compressed-domain
  * scoring). The inverted lists store each row's PQ CODES next to its
  * raw vector; both quantizers (coarse centroids + PQ codebook) ride in
  * the index metadata — so a fresh session loads the directory and
  * serves queries with NO retraining and NO re-encoding, which is the
  * artifact a 100 TB corpus actually ships ([[Pq.ivfAdcTopK]] is the
  * same plan shape but re-encodes the corpus on every call).
  *
  * Layout under `dir`:
  *  - `centroids.parquet` — (cluster INT, vec ARRAY<FLOAT>), nlist rows.
  *  - `codebook.parquet`  — (sub INT, code INT, vec ARRAY<FLOAT>),
  *    m x k rows. Floats round-trip parquet exactly, so the loaded
  *    quantizers encode/score identically to the builders.
  *  - `lists.parquet/cluster=<c>/` — (id, codes ARRAY<INT>, vec).
  *
  * The scale story is COLUMNAR: the ADC scan projects (id, codes) only,
  * so parquet never materializes the vec pages for scored rows — the
  * scan reads 4·dim/m times less than raw — while the exact re-rank
  * reads (id, vec) for just the few surviving candidates from the SAME
  * pruned directories. Storing vectors beside codes costs write-side
  * space but keeps the index self-contained (re-rank needs no join back
  * to the source corpus, which at serving time may be cold storage).
  */
object IvfPqIndex {

  final case class Loaded(centroids: Array[Array[Float]], cb: PqTable,
                          lists: DataFrame)

  /** Write the index from PRE-TRAINED quantizers (train once, build
    * many shards — the serving workflow; see [[Ivf.train]] /
    * [[Pq.train]] for the trainers). One corpus pass: assign + encode
    * are both projections. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
            coarse: Array[Array[Float]], cb: PqTable): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    coarse.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cluster", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    (for { s <- 0 until cb.m; c <- 0 until cb.k }
      yield (s, c, cb.table(s)(c).toSeq)).toDF("sub", "code", "vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebook.parquet")
    corpus.select(
        Ivf.assign(col(vecCol), coarse).as("cluster"),
        col(idCol).as("id"),
        Bridge.column(PqEncodeExpr(
          Bridge.expression(col(vecCol).cast("array<float>")), cb)).as("codes"),
        col(vecCol).cast("array<float>").as("vec"))
      // co-locate each list before the partitioned write (same writer
      // math as IvfIndex.build: without this every task opens up to
      // nlist writers)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/lists.parquet")
  }

  /** Train both quantizers, then [[build]] — the one-call path when no
    * pre-trained models exist. */
  def buildTrained(corpus: DataFrame, idCol: String, vecCol: String,
                   dir: String, nlist: Int, m: Int, k: Int,
                   iters: Int = 2, maxTrainRows: Long = 0L): Unit = {
    val coarse = Ivf.train(corpus, idCol, vecCol, nlist, iters, maxTrainRows)
    val cb = Pq.train(corpus, idCol, vecCol, m, k, iters)
    build(corpus, idCol, vecCol, dir, coarse, cb)
  }

  /** Append a batch to an EXISTING index without retraining: both
    * quantizers are read back frozen from the index metadata, the new
    * rows are assigned + encoded in one projection, and the result
    * lands as NEW parquet files inside the same `cluster=<c>` partition
    * directories (append mode — existing segments untouched, readers
    * pruned exactly as before). This is the serving-scale ingest story:
    * codebook freeze is the standard IVF/PQ production posture (daily
    * ingest appends inverted-list segments; retraining is a deliberate,
    * infrequent rebuild). Because assignment and encoding are
    * deterministic under frozen quantizers, an appended index is
    * byte-equivalent in CONTENT to a [[build]] over the union corpus
    * with the same models — IvfPqAppendSpec pins list parity and
    * query-result parity, and q_ann_ivfpq_append oracle-checks the
    * served result. Id dedup across batches is the caller's contract
    * (same as build: the index stores what it is given). */
  def append(newRows: DataFrame, idCol: String, vecCol: String,
             dir: String): Unit = {
    val spark = newRows.sparkSession
    val idx = load(spark, dir)
    newRows.select(
        Ivf.assign(col(vecCol), idx.centroids).as("cluster"),
        col(idCol).as("id"),
        Bridge.column(PqEncodeExpr(
          Bridge.expression(col(vecCol).cast("array<float>")), idx.cb)).as("codes"),
        col(vecCol).cast("array<float>").as("vec"))
      .repartition(col("cluster"))
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$dir/lists.parquet")
  }

  def load(spark: SparkSession, dir: String): Loaded = {
    val centroids = spark.read.parquet(s"$dir/centroids.parquet")
      .orderBy("cluster").collect() // nlist rows — driver-bounded
      .map(_.getSeq[Float](1).toArray)
    val cbRows = spark.read.parquet(s"$dir/codebook.parquet")
      .orderBy("sub", "code").collect() // m x k rows — driver-bounded
    val m = cbRows.map(_.getInt(0)).max + 1
    val k = cbRows.map(_.getInt(1)).max + 1
    require(cbRows.length == m * k, s"codebook has ${cbRows.length} rows, " +
      s"want $m x $k — corrupt index directory?")
    val table = Array.ofDim[Array[Float]](m, k)
    cbRows.foreach(r => table(r.getInt(0))(r.getInt(1)) =
      r.getSeq[Float](2).toArray)
    Loaded(centroids, new PqTable(table),
      spark.read.parquet(s"$dir/lists.parquet"))
  }

  /** ANN top-k against the prebuilt compressed lists: probe the nprobe
    * nearest lists (partition pruning at the file listing, as
    * [[IvfIndex.topK]]), ADC-score the stored codes against each
    * query's lookup table (codes-only projection — vec pages unread),
    * keep the `rerank` best per query, exact-cosine re-rank those few
    * from the same pruned directories. Output contract matches every
    * ANN tier: (query_id, corpus_id, cos, rank), ties on corpus id. */
  def topK(index: Loaded, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, nprobe: Int = 4,
           rerank: Int = 32): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must cover k=$k")
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<float>").as("qv"),
        Bridge.column(PqLutExpr(
          Bridge.expression(col(vecCol).cast("array<float>")),
          index.cb)).as("lut"),
        explode(Ivf.probes(col(vecCol), index.centroids, nprobe)).as("cluster"))
      .localCheckpoint(true) // probes feed the prune AND both joins
    val probed = q.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)) // ≤ nlist values
    val pruned = index.lists
      .filter(col("cluster").isin(probed.toIndexedSeq: _*))
    // compressed-domain scan: (cluster, id, codes) — never the vectors
    val scored = pruned
      .select(col("cluster"), col("id").as("corpus_id"), col("codes"))
      .join(broadcast(q.select(col("cluster"), col("query_id"), col("lut"))),
        Seq("cluster"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        Pq.adcScore(col("lut"), col("codes"), index.cb).as("adc"))
    val cands = graft.plans.TopK.perKey(scored,
      Seq("query_id"), Seq(("adc", true), ("corpus_id", true)), rerank)
    // exact re-rank out of the index's own vec column; the explode
    // duplicated (query_id, qv) per probe — dedup before the broadcast
    // or the re-rank rows (and ranks) would multiply
    Pq.rerankExact(pruned.select(col("id"), col("vec")), "id", "vec",
      q.dropDuplicates(Seq("query_id")).select(col("query_id"), col("qv")),
      cands, k)
  }
}
