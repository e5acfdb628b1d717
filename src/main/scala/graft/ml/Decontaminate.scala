package graft.ml

import graft.plans.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the GPT-3/PaLM-style pass that removes
  * training documents sharing any word n-gram (classically 13) with an
  * evaluation benchmark, so test answers can't leak into the training
  * set. (No reference analogue; table stakes for a 100 TB training-data
  * pipeline alongside dedup/quality/PII.)
  *
  * Scale shape: the benchmark n-gram dictionary is tiny relative to the
  * corpus (benchmarks are MBs, corpora are TBs). Corpus grams are pruned
  * map-side by a bloom filter over the dictionary's 64-bit gram hashes
  * BEFORE any shuffle — the classic small-side-sketch pattern shared
  * with [[graft.operators.Joins.bloomPruneJoin]] — then an exact hash
  * equi-join kills the bloom's false positives. Only (id, hash64) pairs
  * that survive the bloom ever enter an exchange; the 50-byte gram
  * strings never shuffle. A 64-bit hash collision could over-flag a
  * clean doc with probability ~(corpus grams × dict grams)/2^64 —
  * negligible and deterministic.
  */
object Decontaminate {

  /** Distinct ids of docs sharing ≥ `minHits` word n-grams with the
    * benchmark corpus.
    */
  def contaminatedIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minHits: Int = 1): DataFrame = {
    // the dict feeds the bloom build, the count and the exact join in the
    // returned plan; the scope unpersists it after the caller's first
    // action (the bloom build + count are eager, so the cache is already
    // materialized by the time this returns)
    val scope = new graft.operators.CacheScope
    val dict = scope.persist(bench
      .select(explode(Kernels.wordShingles(col(benchTextCol), n)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct())
    val nDict = math.max(dict.count(), 1L)
    val bloom = dict.stat.bloomFilter("h", nDict, 0.01)
    scope.releaseAfter(graft.operators.Rebalance.spread(docs)
      .select(col(idCol).as("id"), explode(Kernels.wordShingles(col(textCol), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
      .filter(Kernels.bloomMightContain(col("h"), bloom))
      // DISTINCT (id, h): a gram repeated within one doc is one shared
      // n-gram, not minHits-many — the contract counts distinct overlaps
      .distinct()
      .join(dict, Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      .select(col("id")))
  }

  /** Per-document overlap AUDIT — the report counterpart of
    * [[decontaminate]]'s drop: `(idCol, n_grams, n_hits, overlap_frac)`
    * where `n_grams` is the doc's distinct word n-gram count, `n_hits`
    * how many of those appear in the benchmark, and `overlap_frac`
    * their ratio. The triage surface for leak review and for tuning
    * `minHits` before committing to a drop. Docs too short for any
    * n-gram emit no row (no evidence either way — the
    * [[Perplexity.score]] null convention).
    *
    * Same scale shape as [[contaminatedIds]]: the per-doc gram frame is
    * distinct (id, hash64) pairs — 16 bytes/gram, text never shuffles —
    * cached once and read by both the total count and the bloom-pruned
    * hit count.
    */
  def overlapReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13): DataFrame = {
    val scope = new graft.operators.CacheScope
    val dict = scope.persist(bench
      .select(explode(Kernels.wordShingles(col(benchTextCol), n)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct())
    val nDict = math.max(dict.count(), 1L)
    val bloom = dict.stat.bloomFilter("h", nDict, 0.01)
    val grams = scope.persist(graft.operators.Rebalance.spread(docs)
      .select(col(idCol), explode(Kernels.wordShingles(col(textCol), n)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("h")).distinct())
    val totals = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val hits = grams
      .filter(Kernels.bloomMightContain(col("h"), bloom))
      .join(dict, Seq("h"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__hits"))
    scope.releaseAfter(totals
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"),
        (coalesce(col("__hits"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("overlap_frac")))
  }

  /** The clean corpus: docs with no (or < `minHits`) benchmark overlap. */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minHits: Int = 1): DataFrame = {
    val bad = contaminatedIds(docs, idCol, textCol, bench, benchTextCol, n, minHits)
    docs.join(bad, docs(idCol) === bad("id"), "left_anti")
  }

  /** Prebuilt benchmark n-gram dictionary for repeated probes (the
    * streaming `decontaminateBatch` and any hot decontamination loop):
    * the hashed distinct gram frame stays persisted (8 bytes/gram —
    * benchmark corpora are small relative to training corpora) and the
    * bloom filter is built ONCE instead of per call. Caller-owned like
    * `Dedup.MinhashIndex` — `release()` when done.
    */
  final case class BenchDict(
      dict: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int) {
    def release(): Unit = dict.unpersist(blocking = false)
  }

  def buildBenchDict(bench: DataFrame, benchTextCol: String, n: Int = 13): BenchDict = {
    val dict = bench
      .select(explode(Kernels.wordShingles(col(benchTextCol), n)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDict = math.max(dict.count(), 1L)
    BenchDict(dict, dict.stat.bloomFilter("h", nDict, 0.01), n)
  }

  /** [[contaminatedIds]] against a prebuilt [[BenchDict]] — the shape
    * every micro-batch of the streaming probe runs: bloom prune
    * map-side, exact verify against the persisted dict, distinct
    * (id, hash) so an in-doc repeat counts once.
    */
  def contaminatedIdsAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bd: BenchDict,
      minHits: Int = 1): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(Kernels.wordShingles(col(textCol), bd.n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
      .filter(Kernels.bloomMightContain(col("h"), bd.bloom))
      .distinct()
      .join(bd.dict, Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      .select(col("id"))
}
