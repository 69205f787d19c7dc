package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps (min/max envelopes) over a parquet directory,
  * and a reader that prunes the FILE LIST against them before Spark
  * ever plans the scan.
  *
  * Parquet footers already carry row-group min/max, but the scan still
  * has to OPEN every file to read them — on a 100k-file, 100 TB table
  * the footer reads alone are minutes of pure metadata latency per
  * query. A zone map hoists those envelopes into one tiny side table
  * (one row per file, written once at ingest/compaction time), so a
  * selective query turns into: scan the stats table (KBs), keep the
  * files whose envelope overlaps the predicate, and hand Spark ONLY
  * those paths. Combined with [[Layout.writeZOrdered]] the envelopes
  * are tight on BOTH clustered dimensions — that pairing is the
  * whole point of z-ordering (Delta/Iceberg/Hudi all pair clustering
  * with file-level stats skipping this way; this is the engine-native
  * form of the same design).
  *
  * Scale shape: the stats build is one pass over the directory (an
  * ingest-time cost, amortized over every later read); stats rows are
  * one per file, so the prune-time collect is bounded by file count —
  * the same order as the file LISTING Spark's own FileIndex already
  * materializes on the driver.
  */
object ZoneMap {

  /** Stats subdirectory. Underscore-prefixed, so plain
    * `spark.read.parquet(dir)` ignores it (Spark/Hadoop hidden-path
    * convention) — the index never pollutes the data scan. */
  val StatsDir = "_graft_zonemap"

  private def minCol(c: String) = s"${c}__min"
  private def maxCol(c: String) = s"${c}__max"

  /** One pass over `dir`: per-file min/max envelope for `cols`.
    * Output schema: (file STRING, <c>__min, <c>__max per col). */
  def build(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(minCol(c)), max(col(c)).as(maxCol(c))))
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Build and persist the index beside the data (under
    * `dir/_graft_zonemap`). One file: the stats table is one row per
    * data file — always tiny relative to the data. */
  def write(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    build(spark, dir, cols).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$StatsDir")

  /** Incrementally extend a persisted index with stats for
    * newly-ingested files — the daily-append cycle (same posture as
    * the IVF-PQ index append): scan ONLY the new files, union with the
    * existing stats, swap the stats table in place. Without this, each
    * small delivery would force a full-directory rescan to keep
    * pruning alive. The swap goes through a temp dir + rename so a
    * crash mid-rewrite leaves either the old or the new index, never
    * a half-written one. */
  def appendFiles(spark: SparkSession, dir: String, cols: Seq[String],
                  newFiles: Seq[String]): Unit = {
    require(newFiles.nonEmpty, "no files to append")
    val statsPath = s"$dir/$StatsDir"
    val existing = spark.read.parquet(statsPath)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(minCol(c)), max(col(c)).as(maxCol(c))))
    val fresh = spark.read.parquet(newFiles: _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val tmp = s"$dir/${StatsDir}_tmp"
    existing.unionByName(fresh).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (src, dst) = (new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(statsPath))
    if (!fs.delete(dst, true) || !fs.rename(src, dst))
      throw new java.io.IOException(s"zone-map stats swap failed: $tmp -> $statsPath")
  }

  /** A closed-interval predicate `col BETWEEN lo AND hi` for pruning.
    * Point lookups are `Interval(c, v, v)`. */
  final case class Interval(column: String, lo: Any, hi: Any)

  /** The file paths whose envelopes OVERLAP every interval. A file is
    * kept unless some interval proves it empty (`max < lo` or
    * `min > hi`); files whose envelope is NULL (all-null column) can
    * never prove non-overlap, so they are kept — pruning must be
    * sound, never clairvoyant. */
  def overlappingFiles(stats: DataFrame, preds: Seq[Interval]): Seq[String] = {
    val keep = preds.foldLeft(lit(true)) { (acc, p) =>
      acc && !(col(maxCol(p.column)) < lit(p.lo) ||
               col(minCol(p.column)) > lit(p.hi))
    }
    stats.filter(keep).select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Scan only the files that can hold rows matching `preds`, using
    * the persisted index; the row-level filter is applied on top (zone
    * maps prune FILES — the predicate still runs on the survivors).
    * Falls back to a full filtered scan when the index is absent:
    * pruning is an optimization, never a correctness dependency. */
  def prunedRead(spark: SparkSession, dir: String,
                 preds: Seq[Interval]): DataFrame = {
    val rowFilter = preds
      .map(p => col(p.column).between(lit(p.lo), lit(p.hi)))
      .reduce(_ && _)
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/$StatsDir")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath))
      return spark.read.parquet(dir).filter(rowFilter)
    val files = overlappingFiles(spark.read.parquet(statsPath.toString), preds)
    if (files.isEmpty)
      // no file can match: an empty frame with the table's schema
      spark.read.parquet(dir).filter(rowFilter).limit(0)
    else
      spark.read.parquet(files: _*).filter(rowFilter)
  }
}
