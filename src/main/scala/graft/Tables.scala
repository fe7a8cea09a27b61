package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver's testdata layout (TESTDATA.md): one parquet
  * file per table under a scale-factor directory.
  *
  * Scale posture: these are plain parquet scans — column pruning and predicate
  * pushdown reach the scan via Catalyst, so callers should express filters on
  * the returned DataFrame (never pre-collect). At 100 TB each "file" becomes a
  * directory of row-grouped parquet; the same `spark.read.parquet(path)` call
  * handles both.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")

  /** `events.parquet` carries TIMESTAMP(NANOS) which vanilla Spark rejects;
    * see [[Events.events]] for the normalizing loader. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Exact money arithmetic: cast a double column to DECIMAL(18,2) so sums
    * and running totals are associative (bit-identical regardless of
    * partitioning / aggregation order — required both for the DuckDB oracle
    * hash-compare and for run-to-run determinism on a real cluster). Final
    * outputs go back to double AFTER the exact aggregation. */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")

  /** Ceiling under which [[fanOutSmallScan]] fires, conf-overridable
    * (`spark.graft.fanout.smallScanBytes`). Default 64 MB: far above any
    * local-testdata scan, far below anything a warehouse table reports. */
  private val FanOutSmallScanBytesDefault: Long = 64L * 1024 * 1024

  /** Pin a compute-bound per-row pipeline to cluster parallelism when its
    * input scan is too small to split: a single-row-group parquet file
    * yields ONE scan task no matter what `maxPartitionBytes` says, which
    * serializes every expensive per-row stage stacked on it (tokenize,
    * gram explode, perplexity scoring — the r21 StageProbe showed 0.6-1 s
    * single-task stages across the text keys). A round-robin repartition
    * of the tiny input buys full parallelism for those stages.
    *
    * Size-dispatched on pure plan metadata (no job), same adaptive style
    * as Graph.triangleAdjEstimate: above the ceiling the scan already
    * splits and this is the identity — the repartition must NEVER fire at
    * warehouse scale, where it would shuffle the whole corpus for
    * nothing. Determinism: round-robin repartition sorts before
    * assignment (sortBeforeRepartition, Spark default), so the row →
    * partition map is a pure function of the scan order and re-runs are
    * bit-identical.
    *
    * `sizeOf` takes the size dispatch from a different frame than the
    * one being fanned (default: `df` itself). For a frame a few operators
    * past the scan (a join, a collect_set aggregation) Catalyst's stat
    * estimate MULTIPLIES through the operators and lands above the
    * ceiling even when the true data is kilobytes — the r21 StageProbe
    * showed q_cooccurrence's pair expansion serialized on ONE task
    * because its post-join docToks estimate blocked the dispatch. The
    * base SCAN the frame derives from has exact file-size stats and
    * upper-bounds the derived frame's rows (joins on a key subset and
    * per-key aggregation only shrink it), so dispatching on the scan is
    * sound: at warehouse scale the scan is over the ceiling and this is
    * the identity.
    *
    * `maxParts` is a per-SITE parts cap (r22): the default min(cores, 8)
    * is tuned for tokenize/shingle kernels, but the heaviest expand/gram
    * sites (q_profile's 3× countDistinct Expand, q_dup_ngrams' gram
    * explode) sit PAST the memory-bandwidth knee already at 8-way — r21
    * measured their cpu_ns up 1.8-4× for flat wall. A site that knows its
    * stage is bandwidth-bound caps lower. */
  def fanOutSmallScan(df: DataFrame, sizeOf: Option[DataFrame] = None,
      maxParts: Int = Int.MaxValue): DataFrame = {
    val s = df.sparkSession
    val ceiling = s.conf.getOption("spark.graft.fanout.smallScanBytes")
      .map(_.toLong).getOrElse(FanOutSmallScanBytesDefault)
    // min(cores, 8): the stages this feeds (tokenize, gram explode,
    // string building) are MEMORY-BANDWIDTH-bound, not ALU-bound — the
    // r21 AbBench sweep measured wall flat beyond ~8-way while total
    // CPU-seconds inflated superlinearly with thread count (4-way 2.3 s,
    // 8-way 3.9 s, 16-way 7.7 s, 32-way 22 s CPU for the same
    // q_substring_dedup work at walls within ±20%). Past the bandwidth
    // knee, extra threads only stall on the same DRAM.
    val parts = math.min(
      math.min(s.sparkContext.defaultParallelism, 8), maxParts)
    if (sizeOf.getOrElse(df).queryExecution.optimizedPlan.stats
        .sizeInBytes <= BigInt(ceiling))
      df.repartition(parts)
    else df
  }
}
