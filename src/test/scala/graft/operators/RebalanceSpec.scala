package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** [[Rebalance.spread]] — the monolith-input guard for work-amplifying
  * pipeline heads and writers. The contract: an under-split file scan of
  * 8 MB or more spreads by a hashed content key (no sort);
  * well-split, tiny, exchange-rooted, file-less and streaming inputs are
  * IDENTITY; and the decision runs no Spark job on any input.
  */
class RebalanceSpec extends SparkSpec with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val dir = java.nio.file.Files.createTempDirectory("rebal").toFile

  /** One file, one row group, ~13.7 MB of incompressible hex: the
    * monolith shape that Spark scans as a single task. */
  private lazy val monolith: DataFrame = {
    val path = s"$dir/monolith.parquet"
    spark.range(180000).select($"id", sha2($"id".cast("string"), 256).as("t"))
      .coalesce(1).write.option("compression", "none").parquet(path)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1 && files.head.length() >= (8L << 20))
    spark.read.parquet(path)
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    super.afterAll()
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }

  /** Runs `f` and counts the Spark jobs it starts. Jobs are matched by
    * this thread's job group; a sentinel job in a second group flushes
    * the listener bus (events arrive in order), so every job `f` started
    * has been counted once the sentinel is seen.
    */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"rebalance-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-sentinel" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "rebalance decision")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never seen")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("under-split file scan over 8 MB spreads by a hashed key with no sort") {
    val out = Rebalance.spread(monolith)
    val ex = shuffles(out)
    assert(ex.size === 1)
    assert(ex.head.outputPartitioning.isInstanceOf[HashPartitioning], ex.head)
    assert(ex.head.outputPartitioning.numPartitions === spark.sparkContext.defaultParallelism)
    assert(collect(out.queryExecution.executedPlan) { case s: SortExec => s }.isEmpty,
      out.queryExecution.executedPlan)
    assert(out.count() === 180000L)
    // the key quotes column names: dots and backticks stay literal
    val odd = monolith.withColumnRenamed("t", "a.`b")
    assert(Rebalance.spread(odd).count() === 180000L)
  }

  test("a map column falls back to the round-robin spread") {
    val out = Rebalance.spread(monolith.withColumn("m", map(lit("k"), $"t")))
    val ex = shuffles(out)
    assert(ex.size === 1 && ex.head.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
  }

  test("under-split file scan below 8 MB is untouched") {
    val path = s"$dir/small.parquet"
    spark.range(100).select($"id", lit("x").as("t")).coalesce(1).write.parquet(path)
    val df = spark.read.parquet(path)
    assert(Rebalance.spread(df) eq df, "tiny input must not pay a rebalance shuffle")
  }

  test("well-split input is identity even over the floor") {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (4L << 20).toString) // ~13.7 MB + open cost → 5 splits
    try assert(Rebalance.spread(monolith) eq monolith, "a well-split scan must not re-shuffle")
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("groupBy-rooted input is identity and starts no job") {
    val df = monolith.groupBy(($"id" % 10).as("k")).count()
    val (out, jobs) = jobsDuring(Rebalance.spread(df))
    assert(out eq df, "an exchange-rooted plan already spreads to shuffle.partitions")
    assert(jobs === 0)
  }

  test("broadcast-join-rooted input starts no job") {
    val dim = Seq((0L, "zero"), (1L, "one")).toDF("k", "name")
    val df = monolith.join(broadcast(dim), ($"id" % 2) === $"k")
    val (out, jobs) = jobsDuring(Rebalance.spread(df))
    assert(jobs === 0)
    assert(shuffles(out).size === 1, "no shuffle below a broadcast join: the scan still spreads")
  }

  test("RDD-rooted input is identity and starts no job") {
    val df = spark.sparkContext.parallelize(1 to 1000, 1).toDF("x")
    val (out, jobs) = jobsDuring(Rebalance.spread(df))
    assert(out eq df, "no file scan: nothing to estimate")
    assert(jobs === 0)
  }

  test("streaming input passes through untouched") {
    val df = spark.readStream.format("rate").load()
    assert(Rebalance.spread(df) eq df)
  }

  test("dedup head plans on fixture-scale parquet stay rebalance-free") {
    // the guard must never add an Exchange to a small-corpus plan: the
    // minhash pipeline on a KB-scale single-file parquet input keeps the
    // same number of shuffles as before the guard existed
    val path = s"$dir/docs.parquet"
    spark.range(200).select($"id".as("doc_id"),
      concat(lit("alpha beta gamma tok"), $"id" % 7, lit(" delta epsilon zeta"))
        .as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val docs = spark.read.parquet(path)
    val sh = graft.ml.Dedup.shingleFrame(docs, "doc_id", "text", 3)
    // physical plan of the shingle head has no exchange at all
    val p = sh.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }
}
