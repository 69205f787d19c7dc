package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds the scale-probe fixture: an N× (default 10×) derivation of an
  * sf dir that preserves each table's WORKLOAD SHAPE instead of merely
  * repeating rows — the empirical check behind every operator's "one
  * exchange / bounded collect / never a global sort" 100× claim
  * (scripts/scale_probe.sh benches the heavy tiers at 1× vs N× and
  * writes BENCH_SCALE.json).
  *
  * Copy 0 is the source data verbatim; copies 1..N−1 are key-disjoint
  * isomorphic replicas:
  *   - documents: doc_id offset; every TEXT TOKEN salted with the copy
  *     id. The per-copy token spaces are disjoint, so shingle/minhash
  *     similarity structure replicates exactly N× — naive row
  *     repetition would instead square the near-duplicate pair count
  *     (every copy of a pair matches every other copy), which is a
  *     different workload, not a bigger one. Empty docs stay empty
  *     (the empty-text contract feeds the dedup kernels no shingles).
  *   - events: user_id/event_id offsets, timestamps kept — N× more
  *     concurrent users over the same clock, the realistic growth axis
  *     for sessionize/concurrency/cumsum.
  *   - lineitem/orders: orderkey offset by a multiple of 5 (the co-part
  *     edge subsample keys on l_orderkey % 5), partkey/suppkey/custkey
  *     offsets — the derived co-purchase and supplier→customer graphs
  *     become N disjoint isomorphic components, so BSP rounds carry N×
  *     the edges with the original per-component diameter.
  *   - customer: custkey offset (the SAME offset orders.o_custkey uses,
  *     so referential integrity survives) and c_name REWRITTEN to the
  *     offset key ("Customer#" + 9-digit pad) — the ER tier blocks on
  *     name-derived bands, so scaled copies must mint NEW band values
  *     or blocking degenerates back to the fixed-domain quadratic.
  *   - embeddings: vec_id offset; each copy's vectors are CIRCULARLY
  *     SHIFTED by the copy id. Cosine is invariant under a permutation
  *     applied to both sides, so every copy's intra-copy similarity
  *     structure (near-dup pairs, kNN graphs) is exactly isomorphic to
  *     copy 0, while cross-copy cosines scatter — verbatim copies would
  *     instead make every vector an exact dup of its N−1 clones and
  *     square the pair count (a different workload, not a bigger one).
  * The remaining tables are copied unscaled (none of the probed
  * queries read them beyond Bench's warmup).
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale/x10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 2 && factor <= 100, s"factor out of range: $factor")
    val done = new java.io.File(s"$out/_PROBE_READY")
    if (done.exists()) { println(s"scale fixture already at $out"); return }

    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale-probe")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // copies dimension: one scan, multiplied by a small literal array
    val copies = explode(lit((0 until factor).toArray)).as("__c")
    def scaled(df: DataFrame): DataFrame = df.select(col("*"), copies)
    val c = col("__c").cast("long")

    // documents: disjoint per-copy token spaces (see scaladoc)
    // drop empty split segments (edge whitespace) BEFORE salting: the
    // text kernels ignore them, so a salted "" would otherwise become a
    // real token only in copies 1..N-1 and break the isomorphism
    val saltedText = when(length(trim(col("text"))) === 0, col("text"))
      .otherwise(array_join(
        transform(filter(split(col("text"), "\\s+"), t => t =!= ""),
          t => concat(t, lit("_c"), col("__c").cast("string"))), " "))
    write(scaled(read("documents"))
      .withColumn("doc_id", col("doc_id") + c * 100000000L)
      .withColumn("text", when(c === 0, col("text")).otherwise(saltedText))
      .drop("__c"), "documents")

    write(scaled(read("events"))
      .withColumn("event_id", col("event_id") + c * 1000000000L)
      .withColumn("user_id", col("user_id") + c * 100000000L)
      .drop("__c"), "events")

    write(scaled(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + c * 1000000000L)
      .withColumn("l_partkey", col("l_partkey") + c * 100000000L)
      .withColumn("l_suppkey", col("l_suppkey") + c * 100000000L)
      .drop("__c"), "lineitem")

    write(scaled(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + c * 1000000000L)
      .withColumn("o_custkey", col("o_custkey") + c * 100000000L)
      .drop("__c"), "orders")

    // customer: same custkey offset as orders.o_custkey; name rewritten
    // so name-derived block keys mint new values per copy (see scaladoc)
    write(scaled(read("customer"))
      .withColumn("c_custkey", col("c_custkey") + c * 100000000L)
      // lpad TRUNCATES over-length strings (offset keys pass 9 digits
      // at factor >= 11), so pad only when the key fits
      .withColumn("c_name", concat(lit("Customer#"),
        when(length(col("c_custkey").cast("string")) <= 9,
          lpad(col("c_custkey").cast("string"), 9, "0"))
          .otherwise(col("c_custkey").cast("string"))))
      .drop("__c"), "customer")

    // embeddings: per-copy circular dimension shift (see scaladoc);
    // copy 0 verbatim, copy k shifts by 1 + k mod (dim-1) — NEVER 0
    // for k > 0 (a plain k mod dim would make copies dim, 2*dim, ...
    // verbatim clones of copy 0, squaring the pair count — the exact
    // workload distortion the shift exists to avoid)
    val dim = size(col("embedding"))
    val shift = (lit(1L) +
      (c - 1L) % greatest(dim.cast("long") - 1L, lit(1L))).cast("int")
    val shifted = concat(
      slice(col("embedding"), shift + 1, dim - shift),
      slice(col("embedding"), lit(1), shift))
    write(scaled(read("embeddings"))
      .withColumn("vec_id", col("vec_id") + c * 100000000L)
      .withColumn("embedding",
        when(c === 0, col("embedding")).otherwise(shifted))
      .drop("__c"), "embeddings")

    for (t <- Seq("region", "nation", "supplier", "part"))
      write(read(t), t)

    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath,
      s"src=$src factor=$factor\n".getBytes("UTF-8"))
    println(s"scale fixture ($factor x $src) written to $out")
    spark.stop()
  }
}
