package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Scan-parallelism guard for work-amplifying pipeline heads and writers.
  *
  * Spark sizes a file scan's task count by input bytes, and a narrow plan
  * keeps that count all the way to its writer. Two kinds of caller break
  * the bytes-to-work proportionality: the dedup/tokenizer/ANN heads
  * (a shingle explode inflates compressed text 10-100×, and 64-hash
  * signatures or centroid assignment multiply CPU per byte again), and
  * the writers (one part file per task). A corpus that arrives as ONE
  * small, highly compressed file therefore runs as ONE task while every
  * other core idles (the r14 sf10 rehearsal: a single 27 MB
  * single-row-group parquet gave a 28-minute single-task straggler over
  * 500 k docs with 31 cores idle).
  *
  * [[spread]] has one rule. It repartitions to `defaultParallelism` only
  * when the plan's file scans carry at least 8 MB AND pack into fewer
  * than half that many splits AND the unexecuted physical plan has no
  * shuffle exchange yet (an exchange already lands on
  * `shuffle.partitions` tasks). Otherwise, and for streaming input, it
  * returns its input unchanged.
  *
  * Only file-scan leaves count. Their bytes and file count are listing
  * metadata, and Spark's FilePartition packing
  * (`(bytes + openCost per file) / maxPartitionBytes`) turns them into a
  * split estimate. The root optimizer estimate is no substitute: it
  * multiplies sizes across joins (a deduped corpus over 0.7 MB of files
  * reads as 1.95 GB) and is `Long.MaxValue` for RDD-rooted frames. A plan with no file
  * scan (ranges, local rows, RDDs, cached frames) stays as it is.
  *
  * The decision never touches `df.rdd`: with AQE on that finalizes the
  * adaptive plan and RUNS every upstream stage, which the caller's own
  * action then computes again. Physical planning runs only for inputs
  * that pass both size checks, so fixture-scale frames pay none.
  *
  * The spread hashes a deterministic content key,
  * `pmod(xxhash64(all columns), slots·64)`, so it needs no sort: a keyless
  * `repartition(n)` is round-robin and pays a full local sort first
  * (`spark.sql.execution.sortBeforeRepartition`, SPARK-23207), which r15
  * measured at ~70% of every io-write row. 64× more key values than
  * partitions keep the spread even, and retried map tasks reproduce the
  * same row→partition assignment. Identical rows co-locate, which is
  * harmless unless the table is mostly one repeated row. Hash
  * expressions reject `MapType`, so frames carrying maps fall back to the
  * round-robin.
  */
object Rebalance extends AdaptiveSparkPlanHelper {

  /** Below 8 MB of scanned files even a single-task amplified stage
    * completes in seconds; spreading would only add an exchange to every
    * fixture-scale plan.
    */
  private val MinFileBytes: Long = 8L << 20

  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val slots = spark.sparkContext.defaultParallelism
    val files = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case fs: HadoopFsRelation => fs.location }
    val bytes = files.map(_.sizeInBytes).sum
    if (bytes < MinFileBytes) return df
    val maxSplitBytes = math.max(1L, conf.filesMaxPartitionBytes)
    val packed = bytes + conf.filesOpenCostInBytes * files.map(_.inputFiles.length.toLong).sum
    val splits = (packed + maxSplitBytes - 1) / maxSplitBytes
    if (splits * 2 >= slots) return df
    // executedPlan is AQE's initial plan: EnsureRequirements has placed
    // the exchanges, nothing has run
    if (find(df.queryExecution.executedPlan)(_.isInstanceOf[ShuffleExchangeLike]).isDefined)
      return df
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    if (df.schema.fields.exists(f => hasMap(f.dataType))) df.repartition(slots)
    else {
      val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
      df.repartition(slots, pmod(xxhash64(cols: _*), lit(slots * 64)))
    }
  }
}
