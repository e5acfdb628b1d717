package graft.ml

import graft.plans.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
  * select raw-corpus documents whose hashed-n-gram distribution looks
  * like a (small) target corpus, by importance weight
  * `p_target(doc) / p_raw(doc)` under bag-of-hashed-n-grams unigram
  * models.
  *
  * Pipeline shape, all distributed:
  *   1. featurize both corpora: word n-grams → xxhash64 → `buckets`
  *      bins (the hashing trick — the model is a fixed-size count
  *      vector no matter how large the corpus);
  *   2. per-bin probabilities with add-one smoothing → a tiny
  *      (≤ buckets rows) log-ratio frame;
  *   3. per-doc log importance weight = Σ over the doc's n-grams of
  *      log p_target(bin) − log p_raw(bin), via explode +
  *      broadcast-join + re-aggregate (partial sums map-side, so the
  *      shuffle carries one partial per doc per partition);
  *   4. [[selectByLogWeight]]: a deterministic Gumbel-style draw —
  *      rank on log-weight + Gumbel noise from a per-id LCG uniform
  *      (equivalent to sampling ∝ weight without replacement;
  *      Efraimidis–Spirakis in log space, overflow-free) — then top-n
  *      via TakeOrderedAndProject.
  *
  * The categorical cousin (exact strata weights, DuckDB-oracled) is
  * [[graft.operators.Sampling.importanceResample]]; this is the
  * full-text shape for "make web data look like Wikipedia".
  */
object Dsir {

  /** (bucket, log_ratio, log_floor, n_gram, buckets, seed) frame:
    * smoothed log(p_target / p_raw) per hashed n-gram bin. `log_floor`
    * (constant on every row) is the ratio a bin unseen in BOTH training
    * corpora would get — [[logWeights]] uses it so scoring a corpus
    * with novel vocabulary never silently drops n-grams. The hashing
    * parameters `n_gram`/`buckets`/`seed` ALSO ride on every row:
    * scoring reads them FROM the frame, so a train/score pair can never
    * silently disagree on the hash space (a mismatch would score every
    * n-gram at the floor — no error, just garbage).
    */
  def logRatios(
      raw: DataFrame, rawTextCol: String,
      target: DataFrame, targetTextCol: String,
      nGram: Int = 2, buckets: Int = 1 << 16, seed: Int = 0): DataFrame = {
    require(nGram > 0, s"nGram: $nGram")
    require(buckets > 0, s"buckets: $buckets")
    def counts(df: DataFrame, textCol: String, name: String): DataFrame =
      graft.operators.Rebalance.spread(df)
        .select(explode(Kernels.wordShingles(col(textCol), nGram)).as("__sh"))
        .select(pmod(xxhash64(col("__sh"), lit(seed)), lit(buckets.toLong)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(name))
    val t = counts(target, targetTextCol, "__ct")
    val r = counts(raw, rawTextCol, "__cr")
    // totals ride along as scalar columns (tiny frames; no collect)
    val tTot = t.agg(sum("__ct").as("__tt"))
    val rTot = r.agg(sum("__cr").as("__rt"))
    t.join(r, Seq("bucket"), "full")
      .na.fill(0L, Seq("__ct", "__cr"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("bucket"),
        (log((col("__ct") + 1.0) / (col("__tt") + buckets.toDouble)) -
          log((col("__cr") + 1.0) / (col("__rt") + buckets.toDouble))).as("log_ratio"),
        (log(lit(1.0) / (col("__tt") + buckets.toDouble)) -
          log(lit(1.0) / (col("__rt") + buckets.toDouble))).as("log_floor"))
      .withColumn("n_gram", lit(nGram))
      .withColumn("buckets", lit(buckets))
      .withColumn("seed", lit(seed))
  }

  /** The ratio frame's (n_gram, buckets, seed, log_floor) header —
    * constant on every row; one tiny collect. Clear error on an empty
    * frame (both training corpora produced no n-grams).
    */
  private def header(ratios: DataFrame): (Int, Int, Int, Double) = {
    val rows = ratios
      .select(first("n_gram"), first("buckets"), first("seed"), first("log_floor"))
      .collect()
    require(rows.nonEmpty && !rows(0).isNullAt(0),
      "empty DSIR ratio frame: both training corpora produced no n-grams")
    // a ONE-sided-empty training corpus leaves the totals (and so every
    // ratio and the floor) NULL while the stamped params are not —
    // getDouble would silently unbox those NULLs to 0.0 and every doc
    // would score log_w = 0 with no error
    require(!rows(0).isNullAt(3),
      "degenerate DSIR ratio frame: one training corpus produced no n-grams " +
        "(every ratio is null) — check the raw/target text columns")
    (rows(0).getInt(0), rows(0).getInt(1), rows(0).getInt(2), rows(0).getDouble(3))
  }

  /** Raw docs + `log_w`: the doc's summed log importance ratio (the
    * paper's bag-of-n-grams likelihood ratio). Docs with no n-grams
    * (shorter than `nGram` words) get log_w = 0 (weight 1). The ratio
    * frame broadcasts (≤ buckets rows).
    *
    * `lengthNormalize` switches to the MEAN log ratio per n-gram —
    * sum weights scale with document length (a long off-target doc can
    * outweigh a short on-target one purely by n-gram count), so for
    * corpora with high length variance the mean is the stabler signal.
    */
  def logWeights(
      raw: DataFrame, idCol: String, textCol: String,
      ratios: DataFrame,
      lengthNormalize: Boolean = false): DataFrame = {
    val agg = if (lengthNormalize) avg("__lr") else sum("__lr")
    // left join + floor fill: an n-gram hashing to a bucket unseen in
    // BOTH training corpora (possible when scoring a different corpus
    // than the ratios were trained on) still contributes the smoothed
    // floor instead of silently vanishing from an inner join. The
    // ratios pipeline (two corpus scans + aggs + full-outer join) is
    // read twice — once for the header scalars, once for the lookup —
    // so it persists through a scope and drains after the caller's
    // first action rather than recomputing. A frame the CALLER already
    // persisted is used as-is and NOT drained (multi-score pipelines
    // own their ratios' lifetime).
    val scope = new graft.operators.CacheScope
    val callerCached = ratios.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val r = if (callerCached) ratios else scope.persist(ratios)
    // hashing params + floor come from the frame itself (logRatios
    // stamped them on every row) — a hash-space mismatch is impossible
    // by construction. The header collect MATERIALIZES the scope's
    // cache; if it throws (degenerate frame), the cache must not leak —
    // releaseAfter's cleanup listener is only installed further down.
    val (nGram, buckets, seed, floor) =
      try header(r)
      catch { case e: Throwable => if (!callerCached) scope.releaseNow(); throw e }
    val perDoc = graft.operators.Rebalance.spread(raw)
      .select(col(idCol), explode(Kernels.wordShingles(col(textCol), nGram)).as("__sh"))
      .select(col(idCol), pmod(xxhash64(col("__sh"), lit(seed)), lit(buckets.toLong)).as("bucket"))
      .join(broadcast(r.select("bucket", "log_ratio")), Seq("bucket"), "left")
      .withColumn("__lr", coalesce(col("log_ratio"), lit(floor)))
      .groupBy(col(idCol)).agg(agg.as("log_w"))
    val out = raw.join(perDoc, Seq(idCol), "left").na.fill(0.0, Seq("log_w"))
    if (callerCached) out else scope.releaseAfter(out)
  }

  /** The ratio frame collected into sorted primitive arrays for the
    * per-row kernel: bounded by construction (≤ buckets rows — the
    * hashing trick caps it regardless of corpus size), so the collect
    * is a driver-safe constant, not a data-sized pull.
    */
  final case class LocalRatios(
      keys: Array[Long], vals: Array[Double],
      floor: Double, nGram: Int, buckets: Int, seed: Int)

  def collectRatios(ratios: DataFrame): LocalRatios = {
    // one materialization for all reads (header + the table)
    val rows = ratios
      .select("bucket", "log_ratio", "n_gram", "buckets", "seed", "log_floor").collect()
    require(rows.nonEmpty,
      "empty DSIR ratio frame: both training corpora produced no n-grams")
    // same degenerate-frame guard as the join path's header: null
    // ratios/floor (one-sided-empty training corpus) must error, not
    // silently unbox to 0.0
    require(!rows(0).isNullAt(5),
      "degenerate DSIR ratio frame: one training corpus produced no n-grams " +
        "(every ratio is null) — check the raw/target text columns")
    val kv = rows.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    LocalRatios(kv.map(_._1), kv.map(_._2),
      rows(0).getDouble(5), rows(0).getInt(2), rows(0).getInt(3), rows(0).getInt(4))
  }

  /** Per-ROW log importance weight from the kernel — matches
    * [[logWeights]]' semantics (same hashing, same floor rule, sum or
    * mean; pinned by spec) but with NO explode/join/aggregation, so it
    * runs map-side in one pass and — being stateless — composes into
    * Structured Streaming, where the join path's per-doc groupBy
    * cannot. Null text → 0.0 (weight 1), the join path's fill. The
    * trade: the table rides the plan as expression constants, so keep
    * `buckets` at the default 2^16 scale here and use [[logWeights]]
    * for jumbo-bucket models.
    */
  def weightColumn(text: org.apache.spark.sql.Column, r: LocalRatios,
      lengthNormalize: Boolean = false): org.apache.spark.sql.Column =
    coalesce(
      Kernels.dsirWeight(text, r.keys, r.vals, r.floor,
        r.nGram, r.buckets.toLong, r.seed, lengthNormalize),
      lit(0.0))

  /** [[logWeights]]' output shape via the per-row kernel. */
  def scoreInline(
      docs: DataFrame, textCol: String, r: LocalRatios,
      lengthNormalize: Boolean = false): DataFrame =
    docs.withColumn("log_w", weightColumn(col(textCol), r, lengthNormalize))

  /** Deterministic weighted sample without replacement: top `n` by
    * Gumbel-perturbed log-weight (`log_w − ln(−ln u)`; u from a per-id
    * LCG so retries and reruns reproduce the draw). Equivalent to the
    * Efraimidis–Spirakis u^(1/w) order taken in log space — no
    * exp(log_w) overflow for any weight magnitude. Executes as
    * TakeOrderedAndProject: no global sort, no shuffle of the corpus.
    */
  def selectByLogWeight(
      scored: DataFrame, idCol: String, logWCol: String, n: Int,
      seed: Int = 0, gumbel: Boolean = true): DataFrame = {
    require(n > 0, s"n: $n")
    val u = graft.operators.Sampling.lcgUniform(col(idCol), seed)
    // gumbel=false is the greedy τ→0 limit: plain top-n by weight
    val key = if (gumbel) col(logWCol) - log(-log(u)) else col(logWCol)
    scored.orderBy(key.desc, col(idCol)).limit(n)
  }

  /** End-to-end DSIR: featurize, weight, draw `n` docs from `raw` that
    * look like `target`.
    */
  def resampleLikeTarget(
      raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      n: Int, nGram: Int = 2, buckets: Int = 1 << 16, seed: Int = 0,
      lengthNormalize: Boolean = false, gumbel: Boolean = true): DataFrame = {
    val ratios = logRatios(raw, textCol, target, targetTextCol, nGram, buckets, seed)
    val scored = logWeights(raw, idCol, textCol, ratios, lengthNormalize)
    selectByLogWeight(scored, idCol, "log_w", n, seed, gumbel).drop("log_w")
  }
}
