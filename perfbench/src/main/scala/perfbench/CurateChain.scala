package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.{Curate, Decontaminate, Dedup, Dsir, Perplexity, QualityClassifier}
import graft.operators.Sampling
import graft.sources.Writers
import graft.streaming.Streams

/** curate_chain: the full curation chain over a seeded corpus with
  * planted exact duplicates, near duplicates, junk, contaminated, PII
  * and already-indexed documents. Curate (with the perplexity,
  * learned-classifier and DSIR gates) -> minhash pairs -> deduped
  * corpus -> decontaminate -> pack -> save to parquet, as one lazy plan.
  * The saved corpus is then ingested as one `Streams.dedupIngestBatch`
  * micro-batch into a persisted minhash index of earlier corpora, which
  * reads the index and appends the survivors to it.
  */
object CurateChain extends Workload {

  val sizes = Gen.CurateParams(
    docs = 800, exactDupPct = 5, nearDupPct = 5, junkPct = 6,
    contaminatedPct = 3, piiPct = 3, indexedPct = 5, baseDocs = 300,
    benchDocs = 40, trainDocs = 300,
    minLen = 80, maxLen = 200, lexicon = 5000)
  val Threshold = 0.8
  val NGram = 13
  val Budget = 2048L
  // Gate thresholds, measured on this generator: the DSIR weight
  // separates planted spam (<= -1.48) from clean text (>= -0.08); the
  // learned classifier (0.795 vs 0.801) and the perplexity model do not,
  // so those two gates run at thresholds that keep every clean document.
  val MaxPpl = 1e6
  val MinLogWeight = -0.75
  val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  final case class Models(ppl: DataFrame, clf: QualityClassifier.Model, dsir: DataFrame) {
    def release(): Unit = { ppl.unpersist(); dsir.unpersist(); () }
  }

  final case class State(dir: Path, corpus: Gen.Corpus, inputBytes: Long, models: Models) {
    def docs: Path = dir.resolve("docs")
    def bench: Path = dir.resolve("bench")
    def index: Path = dir.resolve("index")
  }
  type S = State

  def params: Map[String, Any] =
    fieldsOf(sizes) ++ Map(
      "jaccard" -> Threshold, "decontaminate_ngram" -> NGram, "pack_budget" -> Budget,
      "max_ppl" -> MaxPpl, "min_log_weight" -> MinLogWeight)

  override def release(st: State): Unit = st.models.release()

  /** Inputs, the base minhash index and the models, under `dir`. */
  def setup(ctx: Ctx, dir: Path): State = {
    val c = Gen.corpus(ctx.seed, sizes)
    val bytes = Gen.writeDocs(dir.resolve("docs"), c.docs, 4)
    Gen.writeDocs(dir.resolve("bench"), c.bench.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 1)
    Gen.writeDocs(dir.resolve("base"), c.base, 4)
    ctx.span("ml.build_index") {
      val built = Dedup.minhashIndex(readDocs(ctx.spark, dir.resolve("base")), "doc_id", "text")
      Dedup.writeMinhashIndex(built, dir.resolve("index").toString)
      built.release()
    }
    val models = ctx.span("ml.train")(train(ctx.spark, Gen.trainingText(ctx.seed, sizes)))
    State(dir, c, bytes, models)
  }

  def readDocs(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").json(dir.toString)

  def train(spark: SparkSession, train: (Vector[String], Vector[String])): Models = {
    import spark.implicits._
    val (pos, neg) = train
    val posDf = pos.toDF("text")
    val negDf = neg.toDF("text")
    // both frames are lazy: materialize them here so training is set-up
    // cost, not part of the first pass
    val ppl = Perplexity.train(posDf, "text", buckets = 1 << 16, seed = 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    ppl.count()
    val clf = QualityClassifier.train(posDf, negDf, "text", buckets = 1 << 14, seed = 2, iters = 8)
    val dsir = Dsir.logRatios(posDf.unionByName(negDf), "text", posDf, "text", buckets = 1 << 16)
      .persist(StorageLevel.MEMORY_AND_DISK)
    dsir.count()
    Models(ppl, clf, dsir)
  }

  def config(m: Models): Curate.Config = Curate.Config(
    langs = Set("en"), minTokens = 20L, maxTopNgramCharShare = 0.3,
    clfModel = Some(m.clf), minClfProb = 0.5,
    perplexityModel = Some(m.ppl), maxPpl = MaxPpl,
    dsirRatios = Some(m.dsir), minLogWeight = MinLogWeight, dsirLengthNormalize = true)

  /** (candidates, verified) at the exact-Jaccard check of a persisted,
    * materialized minhash-pairs frame, read from the SQL metrics of the
    * plan that built its cache. The optimizer may keep the check as a
    * filter or push it into the last join's condition.
    */
  def verifyCounts(pairs: DataFrame): Option[(Long, Long)] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cacheBuilder.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    def jaccard(e: Option[Expression]): Boolean = e.exists(_.toString.toLowerCase.contains("jaccard"))
    val ds = pairs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder.cachedPlan)
      .flatMap(plan => nodes(plan).collectFirst {
        case f: FilterExec if jaccard(Some(f.condition)) => f
        case j: BaseJoinExec if jaccard(j.condition) => j
      })
      .map(check => (nodes(check.children.head).flatMap(rows).headOption.getOrElse(-1L),
        rows(check).getOrElse(-1L)))
  }

  def pass(ctx: Ctx, st: State): Outcome = {
    val spark = ctx.spark
    val out = ctx.work.resolve("curate_out")
    // every pass ingests into its own copy of the base index
    val index = ctx.work.resolve("index")
    org.apache.commons.io.FileUtils.deleteDirectory(index.toFile)
    org.apache.commons.io.FileUtils.copyDirectory(st.index.toFile, index.toFile)
    val indexBefore = Gen.dirBytes(index)
    val docs = readDocs(spark, st.docs)
    val bench = readDocs(spark, st.bench)
    val curated = ctx.call("ml.curate")(Curate.curate(docs, "doc_id", "text", config(st.models)))
    val pairs = ctx.call("ml.minhash_pairs")(
      Dedup.minhashPairs(curated, "doc_id", "text", threshold = Threshold))
    val counts = if (ctx.tracing) verifyCounts(pairs) else None
    val deduped = ctx.call("ml.deduped_corpus")(Dedup.dedupedCorpus(curated, "doc_id", pairs))
    val clean = ctx.call("ml.decontaminate")(
      Decontaminate.decontaminate(deduped, "doc_id", "text", bench, "text", n = NGram))
    val packed = ctx.call("operators.pack")(Sampling.packSequences(clean, "n_tokens", "doc_id", Budget))
    ctx.effect("sources.save")(Writers.save(packed, out.toString))
    // the saved corpus arrives at the index as one micro-batch from files
    val ingest = Streams.dedupIngestBatch(index.toString, "doc_id", "text", threshold = Threshold)
    val ingested = ctx.call("streaming.ingest_batch")(
      ingest(spark.read.parquet(out.toString).select("doc_id", "text")))
      .select("doc_id").collect().map(_.getLong(0))
    val outcome = ctx.span("check")(check(spark, out, ingested, st))
    val written = Gen.dirBytes(out, ".parquet").toDouble
    outcome.copy(figures = outcome.figures ++ Map("bytes_written" -> written,
      "index_bytes" -> (Gen.dirBytes(index) - indexBefore).toDouble,
      "bytes_written_per_input_byte" -> written / st.inputBytes) ++
      counts.toSeq.flatMap { case (c, v) =>
        Seq("candidate_pairs" -> c.toDouble, "verified_pairs" -> v.toDouble)
      })
  }

  /** The saved corpus is exactly the planted survivors of curation,
    * with PII scrubbed and every bin the token prefix sum over it in id
    * order; the ingest keeps exactly those not already indexed.
    */
  def check(spark: SparkSession, out: Path, ingested: Array[Long], st: State): Outcome = {
    val back = spark.read.parquet(out.toString)
    val rows = back.select(col("doc_id"), col("n_tokens"), col("bin"),
      col("text").contains("<EMAIL>").as("scrubbed"),
      col("text").rlike(Email).as("leak")).collect()
    val ids = rows.map(_.getLong(0))
    val got = ids.toSet
    val want = st.corpus.survivors ++ st.corpus.dropped.collect { case (i, "indexed") => i }
    val errs = Seq.newBuilder[String]
    if (ids.length != got.size) errs += s"${ids.length - got.size} duplicate survivor rows"
    if (got != want) {
      val extra = (got -- want).toSeq.sorted
      val missing = (want -- got).toSeq.sorted
      errs += s"survivors differ: ${extra.size} unexpected " +
        s"(${extra.take(5).map(i => s"$i:${st.corpus.dropped.getOrElse(i, "?")}").mkString(",")}), " +
        s"${missing.size} missing (${missing.take(5).mkString(",")})"
    }
    val leaks = rows.count(_.getBoolean(4))
    if (leaks > 0) errs += s"$leaks survivors still carry an email address"
    val scrubbed = rows.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    if (scrubbed != (st.corpus.pii & got)) errs += "scrubbed set differs from planted PII docs"
    var before = 0L
    val badBins = rows.sortBy(_.getLong(0)).count { r =>
      val bin = java.lang.Math.floorDiv(before, Budget)
      before += r.getLong(1)
      r.getLong(2) != bin
    }
    if (badBins > 0) errs += s"$badBins docs packed into the wrong bin"
    if (ingested.length != ingested.toSet.size || ingested.toSet != st.corpus.survivors)
      errs += s"ingest kept ${ingested.length} docs, " +
        s"${(ingested.toSet -- st.corpus.survivors).size} of them already indexed; " +
        s"${(st.corpus.survivors -- ingested.toSet).size} missing"
    val e = errs.result()
    Outcome(if (e.isEmpty) None else Some(e.mkString("; ")),
      Map("survivors" -> got.size.toDouble))
  }
}
