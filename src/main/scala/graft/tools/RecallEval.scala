package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}

/** ANN quality harness: recall@k of the approximate tiers (hyperplane
  * LSH, IVF) against exact brute force, over the real embeddings table.
  * `sbt "runMain graft.tools.RecallEval [sfDir] [k]"`.
  */
object RecallEval {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val k = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Sessions.local(8, "graft-recall")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 50)

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k))

    def recall(approx: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else (exact & approx).size.toDouble / exact.size

    for (nBits <- Seq(6, 8, 10)) {
      val r = recall(pairs(Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k, nBits = nBits)))
      println(f"[recall] lsh nBits=$nBits%-3d recall@$k = $r%.3f")
    }
    for ((nlist, nprobe) <- Seq((16, 2), (16, 4), (16, 8), (32, 8))) {
      val centroids = Ivf.train(emb, "vec_id", "embedding", nlist, iters = 2)
      val r = recall(pairs(Ivf.topK(emb, queries, "vec_id", "embedding", k,
        centroids, nprobe)))
      println(f"[recall] ivf nlist=$nlist%-3d nprobe=$nprobe%-2d recall@$k = $r%.3f")
    }
    spark.stop()
  }
}
