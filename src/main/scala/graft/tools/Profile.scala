package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-profiler: times named plans twice (cold = planning + codegen +
  * execute, warm = execute only). `sbt "runMain graft.tools.Profile [sfDir]"`. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local(32, "graft-profile")

    def time(name: String)(mk: => DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once(); val warm = once()
      println(f"[profile] $name%-28s cold=$cold%7.3f warm=$warm%7.3f")
    }

    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val li = () => spark.read.parquet(s"$sfDir/lineitem.parquet")
    val docs = () => spark.read.parquet(s"$sfDir/documents.parquet")

    time("li_count")(li().groupBy().count())
    time("li_sum_double")(li().groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")), sum(col("l_extendedprice"))))
    time("li_sum_scaledlong")(li().groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")),
           sum(round(col("l_extendedprice") * 100).cast("long"))))
    time("li_repart_sum")(li().repartition(32)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(round(col("l_quantity") * 100).cast("long"))))
    time("docs_minhash_sigs")(docs().select(col("doc_id"),
      graft.functions.text.minhash(col("text")).as("sig")))
    time("docs_minhash_pairs")(graft.operators.Dedup.minhashPairs(
      docs(), "doc_id", "text", threshold = 0.5))
    time("docs_ngram_pairs")(graft.operators.Dedup.ngramJaccardPairs(
      docs(), "doc_id", "text", n = 3, threshold = 0.5))

    // custom TopKPerKeyExec vs window row_number formulation
    {
      import org.apache.spark.sql.expressions.Window
      val orders = () => spark.read.parquet(s"$sfDir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      time("topk_window")(orders().withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn"))
      time("topk_custom")(graft.plans.TopK.perKey(orders(), Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3))
    }

    // bucketed co-located join vs plain shuffle join
    {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .withColumnRenamed("l_orderkey", "o_orderkey")
      graft.operators.Bucketing.writeBucketed(orders, "p_orders", "o_orderkey", 16,
        sortCols = Seq("o_orderkey"))
      graft.operators.Bucketing.writeBucketed(li, "p_lineitem", "o_orderkey", 16,
        sortCols = Seq("o_orderkey"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      time("join_shuffle")(orders.join(li, "o_orderkey")
        .groupBy("o_orderpriority").count())
      time("join_bucketed")(graft.operators.Bucketing
        .coLocatedJoin(spark, "p_orders", "p_lineitem", "o_orderkey")
        .groupBy("o_orderpriority").count())
      val plan = graft.operators.Bucketing
        .coLocatedJoin(spark, "p_orders", "p_lineitem", "o_orderkey")
        .queryExecution.executedPlan.toString
      // shuffle nodes print as 'Exchange hashpartitioning' (the class
      // name ShuffleExchangeExec never appears in plan strings)
      println(s"[profile] bucketed join shuffle-free = " +
        s"${!plan.contains("Exchange hashpartitioning")}")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    }

    // cardinality breakdown of the minhash pipeline
    {
      val sigs = docs().select(col("doc_id").as("id"),
        graft.functions.text.minhash(col("text")).as("sig"))
      val rows = 4
      val bandHashes = (0 until 32).map(b =>
        hash(slice(col("sig"), b * rows + 1, rows), lit(b)))
      val banded = sigs.select(col("id"), col("sig"),
        posexplode(array(bandHashes: _*)).as(Seq("band", "bandHash")))
      println(s"[profile] banded rows = ${banded.count()}")
      val a = banded.select(col("band"), col("bandHash"), col("id").as("id_a"))
      val b = banded.select(col("band"), col("bandHash"), col("id").as("id_b"))
      val joined = a.join(b, Seq("band", "bandHash")).filter(col("id_a") < col("id_b"))
      println(s"[profile] joined pair-band rows = ${joined.count()}")
      println(s"[profile] distinct cand pairs = ${joined.select("id_a", "id_b").distinct().count()}")
    }
    spark.stop()
  }
}
