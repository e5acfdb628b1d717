package graft.ml

import graft.plans.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perplexity-based quality filtering — the CCNet pipeline's KenLM
  * stage (Wenzek et al. 2020, "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data", §4.3: score documents by
  * language-model perplexity against a clean reference corpus, then
  * filter or head/middle/tail-bucket on the score) re-expressed as a
  * distributed hashed n-gram model instead of a native KenLM binary.
  *
  * Model: unigram + bigram (+ trigram at the default `order = 3`) token
  * counts under the hashing trick (as in [[Dsir]] — xxhash64 →
  * `buckets` bins), so the trained model is at most `order × buckets`
  * rows NO MATTER how large the reference corpus is, and broadcasts to
  * every executor. Probability of a transition is recursively
  * Jelinek–Mercer interpolated, highest order first:
  *
  *   P₃(w | u v) = λ · c₃(u v w) / c₂(u v)  +  (1−λ) · P₂(w | v)
  *   P₂(w | v)   = λ · c₂(v w) / c₁(v)      +  (1−λ) · P₁(w)
  *   P₁(w)       = (c₁(w)+1) / (N+B)
  *
  * (each conditional estimate backed off to the next-lower order, the
  * unigram add-one-smoothed; never zero, so log is total). Document
  * perplexity = exp(mean −log P over its order-gram windows). The
  * trigram captures local word ORDER a bigram can't: text scrambled so
  * as to preserve every bigram still breaks almost every trigram
  * (PerplexitySpec).
  *
  * `smoothing = "kn"` trains the interpolated KNESER–NEY variant
  * instead (Kneser & Ney 1995; Chen & Goodman 1999 §2.7 — the family
  * KenLM itself ships): absolute discount D on observed counts, mass
  * redistributed by CONTINUATION weight, with the unigram level using
  * type counts N1+(·w) ("in how many contexts was w seen?") rather
  * than frequency — the classic "francisco" correction: a frequent
  * word glued to one context gets low continuation probability. The
  * type counts are hashed like everything else (kinds 4/5/6 + a
  * kind-0 type-total row), so the KN model is still ≤ (order+3)×buckets
  * + 1 rows and broadcastable; smoothing is self-describing from the
  * kinds present, like the order.
  *
  * Scale shape: training is `order` partial-agg shuffles of hashed
  * longs (counts only — tokens never shuffle); scoring is explode →
  * BROADCAST joins → per-doc partial mean, so the corpus text itself
  * never crosses the network and the only shuffle payload is one
  * (doc_id, partial-sum) pair per partition.
  */
object Perplexity {

  /** Hashed LM counts: `(kind 1=unigram|2=bigram|3=trigram, bucket,
    * cnt)` plus the constant training-token total `n_tokens` on every
    * row (rides along so the model is one self-contained broadcastable
    * frame). The hashing parameters `buckets` and `seed` ALSO ride on
    * every row: scoring reads them from the model itself, so a
    * train/score pair can never silently disagree on the hash space (a
    * mismatch would read every count as 0 and score everything at the
    * smoothed floor — no error, just garbage). The model ORDER is
    * likewise self-describing (max kind present), so scorers
    * automatically apply the interpolation depth the model was trained
    * with.
    */
  def train(
      corpus: DataFrame, textCol: String,
      buckets: Int = 1 << 16, seed: Int = 0, order: Int = 3,
      smoothing: String = "jm"): DataFrame = {
    require(buckets > 0, s"buckets: $buckets")
    require(order == 2 || order == 3, s"order: $order (2 or 3)")
    require(smoothing == "jm" || smoothing == "kn", s"smoothing: $smoothing")
    val src = graft.operators.Rebalance.spread(corpus)
    def counts(n: Int, kind: Int): DataFrame = src
      .select(explode(Kernels.wordShingles(col(textCol), n)).as("__sh"))
      .select(pmod(xxhash64(col("__sh"), lit(seed)), lit(buckets.toLong)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .select(lit(kind).as("kind"), col("bucket"), col("cnt"))
    val uni = counts(1, 1)
    var grams = (2 to order).map(n => counts(n, n))
      .foldLeft(uni)(_ unionByName _)
    if (smoothing == "kn") {
      // Kneser–Ney needs TYPE counts, not token counts: N1+(·w)
      // (distinct contexts preceding w — kind 4), N1+(v·) (distinct
      // continuations of v — kind 5), N1+(uv·) (kind 6, order 3), and
      // the total distinct-bigram-type count (kind 0 header row,
      // bucket −1 — no hash bucket is negative). All computed from
      // DISTINCT HASHED n-gram triples: 8-byte columns shuffle, the
      // text never does, and every output is ≤ buckets rows. Bucket
      // collisions merge types consistently with the count model.
      def h(c: org.apache.spark.sql.Column) =
        pmod(xxhash64(c, lit(seed)), lit(buckets.toLong))
      val biTypes = src
        .select(explode(Kernels.wordShingles(col(textCol), 2)).as("__sh"))
        .select(h(col("__sh")).as("__h2"),
          h(substring_index(col("__sh"), " ", 1)).as("__hv"),
          h(substring_index(col("__sh"), " ", -1)).as("__hw"))
        .distinct()
      def typeCount(src: DataFrame, by: String, kind: Int): DataFrame = src
        .groupBy(col(by).as("bucket")).agg(count(lit(1)).as("cnt"))
        .select(lit(kind).as("kind"), col("bucket"), col("cnt"))
      grams = grams
        .unionByName(typeCount(biTypes, "__hw", 4))
        .unionByName(typeCount(biTypes, "__hv", 5))
        .unionByName(biTypes.agg(count(lit(1)).as("cnt"))
          .select(lit(0).as("kind"), lit(-1L).as("bucket"), col("cnt")))
      if (order == 3) {
        val triTypes = src
          .select(explode(Kernels.wordShingles(col(textCol), 3)).as("__sh"))
          .select(h(col("__sh")).as("__h3"),
            h(substring_index(col("__sh"), " ", 2)).as("__h2h"))
          .distinct()
        grams = grams.unionByName(typeCount(triTypes, "__h2h", 6))
      }
    }
    val total = uni.agg(sum("cnt").as("n_tokens"))
    grams.crossJoin(broadcast(total))
      .withColumn("buckets", lit(buckets))
      .withColumn("seed", lit(seed))
  }

  /** The model's (buckets, seed, n_tokens, order) header — the scalars
    * are constant on every row, the order is the max kind present; one
    * tiny collect. Clear error on an empty model instead of an NPE
    * three frames deep.
    */
  private def headerWithB2(model: DataFrame): (Int, Int, Long, Int, Boolean, Option[Long]) = {
    // order = max GRAM kind (1..3); kinds 0/4/5/6 are the Kneser–Ney
    // type-count sidecar, whose presence self-describes the smoothing.
    // The kind-0 type total (KN's B2) rides the same aggregate — a
    // second scan-and-collect job for one scalar was ~0.4 s of every
    // score() call at slice-probe volumes.
    val rows = model.select(first("buckets"), first("seed"), first("n_tokens"),
      max(when(col("kind").between(1, 3), col("kind"))), max("kind"),
      max(when(col("kind") === 0, col("cnt")))).collect()
    require(rows.nonEmpty && !rows(0).isNullAt(0),
      "empty perplexity model: the reference corpus produced no tokens")
    (rows(0).getInt(0), rows(0).getInt(1), rows(0).getLong(2),
      math.max(rows(0).getInt(3), 2), rows(0).getInt(4) >= 4,
      if (rows(0).isNullAt(5)) None else Some(rows(0).getLong(5)))
  }

  /** `docs` + `ppl` (document perplexity under `model`) and
    * `n_transitions`. Docs with fewer than `order` tokens have no
    * order-gram windows: `ppl` is null there (no evidence either way —
    * callers filter or fill by policy, CCNet drops them). The
    * interpolation depth follows the MODEL's order (trigram by
    * default; a model trained with `order = 2` scores as a bigram LM).
    */
  def score(
      docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame,
      lambda: Double = 0.8, discount: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda: $lambda")
    require(discount > 0.0 && discount < 1.0, s"discount: $discount")
    val srcDocs = graft.operators.Rebalance.spread(docs)
    // The model plan (order× shuffles over the whole reference corpus)
    // is read several times below (per-kind frames + header) — persist
    // it through a scope that drains after the caller's first action, so
    // a train-then-score pipeline pays training ONCE, not per broadcast.
    // A model the CALLER already persisted is used as-is and NOT drained
    // (multi-score pipelines own their model's lifetime).
    val scope = new graft.operators.CacheScope
    val callerCached = model.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    // a driver-local model (e.g. [[modelFrame]] of a collected
    // LocalModel) must NOT be persisted: caching a LocalRelation turns
    // its free executeCollect (header, b2, the 6-7 kind broadcasts —
    // zero cluster jobs) into per-read cache-scan JOBS, which at
    // slice-probe volumes cost more than the whole join pass
    val isLocalRel = model.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val m = if (callerCached || isLocalRel) model else scope.persist(model)
    // buckets/seed/order come from the model itself (train stamped them
    // on every row) — a hash-space or depth mismatch is impossible by
    // construction. The header collect MATERIALIZES the scope's cache;
    // if it throws (empty model), the cache must not leak —
    // releaseAfter's cleanup listener is only installed at the end.
    // The KN kind-0 type total rides the SAME collect (one job, not two).
    val (buckets, seed, nTokens, order, kn, b2Hdr) =
      try headerWithB2(m)
      catch { case e: Throwable => if (!callerCached && !isLocalRel) scope.releaseNow(); throw e }
    // model is ≤ order×buckets rows; all kinds come from the one cache
    def kindFrame(kind: Int, b: String, c: String): DataFrame =
      broadcast(m.filter(col("kind") === kind)
        .select(col("bucket").as(b), col("cnt").as(c)))
    val uni = kindFrame(1, "__ub", "__cu")
    val bi = kindFrame(2, "__bb", "__cb")
    def h(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c, lit(seed)), lit(buckets.toLong))
    // the token total is a header scalar (NOT a column from the unigram
    // left join — a transition whose word hashes to an unseen bucket
    // must still see it; a join-null here would null the whole doc)
    def pUniOf(cu: org.apache.spark.sql.Column) =
      (coalesce(cu, lit(0L)).cast("double") + 1.0) /
        (nTokens.toDouble + buckets.toDouble)
    val nll =
      if (kn) {
        // Interpolated Kneser–Ney with absolute discount D (Kneser &
        // Ney 1995; Chen & Goodman 1999 §2.7 — the smoothing family
        // KenLM ships). Continuation probability from TYPE counts:
        //   Pcont(w)  = (N1+(·w) + 1) / (B2 + buckets)     [add-one: never 0]
        //   P2(w|v)   = [max(c(vw)−D, 0) + D·N1+(v·)·Pcont(w)] / c(v)
        //               (c(v)=0 → Pcont(w); result 0 → Pcont(w): a
        //               history with no observed continuation backs
        //               off wholesale)
        //   P3(w|uv)  = [max(c(uvw)−D, 0) + D·N1+(uv·)·P2(w|v)] / c(uv)
        //               (same two fallbacks, one level up)
        val b2 = b2Hdr.getOrElse(throw new IllegalArgumentException(
          "KN model missing its kind-0 type-total row"))
        val contF = kindFrame(4, "__kb4", "__cont")
        val folF = kindFrame(5, "__kb5", "__fol")
        val dD = lit(discount)
        def pContOf(contC: org.apache.spark.sql.Column) =
          (coalesce(contC, lit(0L)).cast("double") + 1.0) /
            (b2.toDouble + buckets.toDouble)
        if (order == 2) {
          val transitions = srcDocs
            .select(col(idCol), explode(Kernels.wordShingles(col(textCol), 2)).as("__sh"))
            .select(col(idCol),
              h(col("__sh")).as("__hb"),
              h(substring_index(col("__sh"), " ", 1)).as("__hprev"),
              h(substring_index(col("__sh"), " ", -1)).as("__hcur"))
            .join(bi, col("__hb") === col("__bb"), "left")
            .join(uni.select(col("__ub"), col("__cu").as("__cprev")),
              col("__hprev") === col("__ub"), "left").drop("__ub")
            .join(folF, col("__hprev") === col("__kb5"), "left")
            .join(contF, col("__hcur") === col("__kb4"), "left")
          val pcont = pContOf(col("__cont"))
          val p2raw = when(col("__cprev").isNotNull,
            (greatest(coalesce(col("__cb"), lit(0L)).cast("double") - dD, lit(0.0)) +
              dD * coalesce(col("__fol"), lit(0L)).cast("double") * pcont) /
              col("__cprev").cast("double")).otherwise(pcont)
          val p2 = when(p2raw > 0.0, p2raw).otherwise(pcont)
          transitions.select(col(idCol), (-log(p2)).as("__nll"))
        } else {
          val tri = kindFrame(3, "__tb", "__c3")
          val fol2F = kindFrame(6, "__kb6", "__fol2")
          val windows = srcDocs
            .select(col(idCol), explode(Kernels.wordShingles(col(textCol), 3)).as("__sh"))
            .select(col(idCol),
              h(col("__sh")).as("__h3"),
              h(substring_index(col("__sh"), " ", 2)).as("__h2h"),
              h(substring_index(col("__sh"), " ", -2)).as("__h2l"),
              h(substring_index(substring_index(col("__sh"), " ", 2), " ", -1)).as("__hv"),
              h(substring_index(col("__sh"), " ", -1)).as("__hw"))
            .join(tri, col("__h3") === col("__tb"), "left")
            .join(bi.select(col("__bb"), col("__cb").as("__c2h")),
              col("__h2h") === col("__bb"), "left").drop("__bb")
            .join(bi.select(col("__bb"), col("__cb").as("__c2l")),
              col("__h2l") === col("__bb"), "left").drop("__bb")
            .join(uni.select(col("__ub"), col("__cu").as("__cv")),
              col("__hv") === col("__ub"), "left").drop("__ub")
            .join(folF, col("__hv") === col("__kb5"), "left")
            .join(contF, col("__hw") === col("__kb4"), "left")
            .join(fol2F, col("__h2h") === col("__kb6"), "left")
          val pcont = pContOf(col("__cont"))
          val p2raw = when(col("__cv").isNotNull,
            (greatest(coalesce(col("__c2l"), lit(0L)).cast("double") - dD, lit(0.0)) +
              dD * coalesce(col("__fol"), lit(0L)).cast("double") * pcont) /
              col("__cv").cast("double")).otherwise(pcont)
          val p2 = when(p2raw > 0.0, p2raw).otherwise(pcont)
          val p3raw = when(col("__c2h").isNotNull,
            (greatest(coalesce(col("__c3"), lit(0L)).cast("double") - dD, lit(0.0)) +
              dD * coalesce(col("__fol2"), lit(0L)).cast("double") * p2) /
              col("__c2h").cast("double")).otherwise(p2)
          val p3 = when(p3raw > 0.0, p3raw).otherwise(p2)
          windows.select(col(idCol), (-log(p3)).as("__nll"))
        }
      } else if (order == 2) {
        val transitions = srcDocs
          .select(col(idCol), explode(Kernels.wordShingles(col(textCol), 2)).as("__sh"))
          .select(col(idCol),
            h(col("__sh")).as("__hb"),
            h(substring_index(col("__sh"), " ", 1)).as("__hprev"),
            h(substring_index(col("__sh"), " ", -1)).as("__hcur"))
          .join(bi, col("__hb") === col("__bb"), "left")
          .join(uni.select(col("__ub"), col("__cu").as("__cprev")),
            col("__hprev") === col("__ub"), "left").drop("__ub")
          .join(uni, col("__hcur") === col("__ub"), "left")
        val pCond = when(col("__cprev").isNotNull && col("__cb").isNotNull,
          col("__cb").cast("double") / col("__cprev")).otherwise(lit(0.0))
        transitions.select(col(idCol),
          (-log(lit(lambda) * pCond + lit(1.0 - lambda) * pUniOf(col("__cu"))))
            .as("__nll"))
      } else {
        // trigram windows: per window (u v w) the recursive JM needs
        // c₃(u v w), c₂(u v), c₂(v w), c₁(v), c₁(w) — five broadcast
        // joins against the ≤3×buckets model, still zero corpus shuffle
        val tri = kindFrame(3, "__tb", "__c3")
        val windows = srcDocs
          .select(col(idCol), explode(Kernels.wordShingles(col(textCol), 3)).as("__sh"))
          .select(col(idCol),
            h(col("__sh")).as("__h3"),
            h(substring_index(col("__sh"), " ", 2)).as("__h2h"),
            h(substring_index(col("__sh"), " ", -2)).as("__h2l"),
            h(substring_index(substring_index(col("__sh"), " ", 2), " ", -1)).as("__hv"),
            h(substring_index(col("__sh"), " ", -1)).as("__hw"))
          .join(tri, col("__h3") === col("__tb"), "left")
          .join(bi.select(col("__bb"), col("__cb").as("__c2h")),
            col("__h2h") === col("__bb"), "left").drop("__bb")
          .join(bi.select(col("__bb"), col("__cb").as("__c2l")),
            col("__h2l") === col("__bb"), "left").drop("__bb")
          .join(uni.select(col("__ub"), col("__cu").as("__cv")),
            col("__hv") === col("__ub"), "left").drop("__ub")
          .join(uni, col("__hw") === col("__ub"), "left")
        val p3 = when(col("__c3").isNotNull && col("__c2h").isNotNull,
          col("__c3").cast("double") / col("__c2h")).otherwise(lit(0.0))
        val p2 = when(col("__c2l").isNotNull && col("__cv").isNotNull,
          col("__c2l").cast("double") / col("__cv")).otherwise(lit(0.0))
        val p = lit(lambda) * p3 +
          lit(1.0 - lambda) * (lit(lambda) * p2 +
            lit(1.0 - lambda) * pUniOf(col("__cu")))
        windows.select(col(idCol), (-log(p)).as("__nll"))
      }
    val perDoc = nll
      .groupBy(col(idCol))
      .agg(exp(avg("__nll")).as("ppl"), count(lit(1)).as("n_transitions"))
    val out = docs.join(perDoc, Seq(idCol), "left")
      .withColumn("n_transitions", coalesce(col("n_transitions"), lit(0L)))
    if (callerCached || isLocalRel) out else scope.releaseAfter(out)
  }

  /** The trained model collected into sorted primitive arrays for the
    * per-row kernel: bounded by construction (≤ 2×buckets rows — the
    * hashing trick caps it regardless of corpus size), so the collect
    * is a driver-safe constant, not a data-sized pull.
    */
  final case class LocalModel(
      uniK: Array[Long], uniV: Array[Long],
      biK: Array[Long], biV: Array[Long],
      triK: Array[Long], triV: Array[Long],
      nTokens: Long, buckets: Int, seed: Int, order: Int,
      contK: Array[Long] = Array.empty, contV: Array[Long] = Array.empty,
      folK: Array[Long] = Array.empty, folV: Array[Long] = Array.empty,
      fol2K: Array[Long] = Array.empty, fol2V: Array[Long] = Array.empty,
      b2Types: Long = 0L) {
    /** Kneser–Ney type-count sidecar present (kinds 4/5/6 + kind-0). */
    def isKn: Boolean = b2Types > 0L
  }

  def collectModel(model: DataFrame): LocalModel = {
    // one materialization for all reads (header + every kind)
    val rows = model.select("kind", "bucket", "cnt", "n_tokens", "buckets", "seed").collect()
    require(rows.nonEmpty,
      "empty perplexity model: the reference corpus produced no tokens")
    def arrays(kind: Int): (Array[Long], Array[Long]) = {
      val ks = rows.filter(_.getInt(0) == kind)
        .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      (ks.map(_._1), ks.map(_._2))
    }
    val (uk, uv) = arrays(1)
    val (bk, bv) = arrays(2)
    val (tk, tv) = arrays(3)
    val (ck, cv) = arrays(4)
    val (fk, fv) = arrays(5)
    val (f2k, f2v) = arrays(6)
    // the model self-describes its depth: a bigram-trained model scores
    // as a bigram LM even through the kernel path (kinds 0/4/5/6 are
    // the KN sidecar — excluded from the order)
    val order = math.max(rows.map(_.getInt(0)).filter(_ <= 3).max, 2)
    val b2 = rows.find(_.getInt(0) == 0).map(_.getLong(2)).getOrElse(0L)
    LocalModel(uk, uv, bk, bv, tk, tv,
      rows(0).getLong(3), rows(0).getInt(4), rows(0).getInt(5), order,
      ck, cv, fk, fv, f2k, f2v, b2)
  }

  /** A collected [[LocalModel]] re-expressed as the model FRAME [[score]]
    * consumes — the exact (kind, bucket, cnt) content [[collectModel]]
    * read, as one driver-local relation. Feeding [[score]] this instead
    * of the distributed training frame keeps the scorer's plan the same
    * genuine broadcast-join pipeline (the parity contract) while the
    * header read and every kind-frame broadcast build from a
    * LocalRelation — zero cluster jobs of fixed cost, which dominate at
    * slice-probe volumes. Bounded by the same hashing-trick argument as
    * [[collectModel]] (≤ (order+3)×buckets + 1 rows).
    */
  def modelFrame(spark: org.apache.spark.sql.SparkSession, m: LocalModel): DataFrame = {
    import spark.implicits._
    def rows(kind: Int, ks: Array[Long], vs: Array[Long]): Seq[(Int, Long, Long)] =
      ks.indices.map(i => (kind, ks(i), vs(i)))
    val grams: Seq[(Int, Long, Long)] = rows(1, m.uniK, m.uniV) ++ rows(2, m.biK, m.biV) ++
      rows(3, m.triK, m.triV) ++ rows(4, m.contK, m.contV) ++
      rows(5, m.folK, m.folV) ++ rows(6, m.fol2K, m.fol2V) ++
      (if (m.isKn) Seq((0, -1L, m.b2Types)) else Nil)
    grams.toDF("kind", "bucket", "cnt")
      .withColumn("n_tokens", lit(m.nTokens))
      .withColumn("buckets", lit(m.buckets))
      .withColumn("seed", lit(m.seed))
  }

  /** Per-ROW perplexity column from the kernel — bit-compatible with
    * [[score]]'s broadcast-join path (same hashing, same interpolation;
    * pinned by spec) but with NO explode/join/aggregation, so it runs
    * map-side in one pass and — being stateless — composes into
    * Structured Streaming, where the join path's per-doc groupBy
    * cannot. The trade: the model rides the plan as expression
    * constants, so keep `buckets` at the default 2^16 scale here and
    * use [[score]] for jumbo-bucket models.
    */
  def pplColumn(text: org.apache.spark.sql.Column, m: LocalModel,
      lambda: Double = 0.8, discount: Double = 0.75): org.apache.spark.sql.Column =
    if (m.isKn)
      Kernels.knPplScore(text, m.uniK, m.uniV, m.biK, m.biV, m.triK, m.triV,
        m.contK, m.contV, m.folK, m.folV, m.fol2K, m.fol2V,
        m.b2Types, m.buckets.toLong, m.seed, discount, m.order)
    else
      Kernels.pplScore(text, m.uniK, m.uniV, m.biK, m.biV, m.triK, m.triV,
        m.nTokens, m.buckets.toLong, m.seed, lambda, m.order)

  /** [[score]]'s output shape via the per-row kernel. */
  def scoreInline(
      docs: DataFrame, textCol: String, m: LocalModel,
      lambda: Double = 0.8): DataFrame =
    docs.withColumn("ppl", pplColumn(col(textCol), m, lambda))

  /** CCNet's head/middle/tail banding: label each scored doc by where
    * its perplexity falls against the corpus distribution —
    * `head` below the `headFrac` quantile (cleanest), `tail` above the
    * `tailFrac` quantile, `middle` between, null ppl → `unscored`.
    * Thresholds via approx quantiles (single pass, broadcast back).
    */
  def withBand(
      scored: DataFrame, pplCol: String = "ppl",
      headFrac: Double = 0.33, tailFrac: Double = 0.67): DataFrame = {
    require(headFrac > 0 && headFrac < tailFrac && tailFrac < 1,
      s"fractions: $headFrac/$tailFrac")
    // `scored` (the whole scoring pipeline, often with training behind
    // it) feeds BOTH the threshold agg and the output — persist through
    // a scope so it runs once, not twice
    val scope = new graft.operators.CacheScope
    val s = scope.persist(scored)
    val thresholds = broadcast(s.agg(
      percentile_approx(col(pplCol), lit(headFrac), lit(10000)).as("__head_t"),
      percentile_approx(col(pplCol), lit(tailFrac), lit(10000)).as("__tail_t")))
    scope.releaseAfter(
      s.crossJoin(thresholds)
        .withColumn("band",
          when(col(pplCol).isNull, lit("unscored"))
            .when(col(pplCol) <= col("__head_t"), lit("head"))
            .when(col(pplCol) > col("__tail_t"), lit("tail"))
            .otherwise(lit("middle")))
        .drop("__head_t", "__tail_t"))
  }

  /** Train on `reference`, score `docs`, keep those at or under
    * `maxPpl` — the one-call CCNet-style filter.
    */
  def filterByPerplexity(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      maxPpl: Double,
      buckets: Int = 1 << 16, seed: Int = 0, lambda: Double = 0.8): DataFrame = {
    val model = train(reference, refTextCol, buckets, seed)
    score(docs, idCol, textCol, model, lambda)
      .filter(col("ppl").isNotNull && col("ppl") <= maxPpl)
      .drop("ppl", "n_transitions")
  }
}
