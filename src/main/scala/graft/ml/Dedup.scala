package graft.ml

import graft.functions.{Similarity, TextFunctions}
import graft.operators.{CacheScope, Rebalance}
import graft.plans.Kernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication pipelines for training-data curation. All variants share
  * the shape: per-doc signature (narrow, codegen'd) → bucket key →
  * shuffle ON THE BUCKET KEY ONLY → per-bucket candidate verification.
  * Nothing ever shuffles full text except the final winner gather.
  *
  * Persist lifecycle: every pipeline routes its cached intermediates
  * through a [[graft.operators.CacheScope]], which unpersists them after
  * the caller's FIRST action on the returned frame — a long-lived
  * curation session running batch after batch holds no zombie cached
  * RDDs between batches. The one artifact that intentionally outlives
  * its builder, [[MinhashIndex]], is caller-owned: call
  * [[MinhashIndex.release]] when retiring it.
  */
object Dedup {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-doc pair budget for the pairs-EMITTING APIs (the no-silent-caps
    * rule made explicit): mutually-similar mega-groups — boilerplate,
    * templated spam, licence headers — make any API that materializes
    * pairs emit O(g²) rows for a group of size g, which at 100 TB is an
    * output explosion even when every upstream stage is bounded. The
    * budget keeps, per `idA`, the `budget` partners with the SMALLEST
    * partner ids (deterministic, and in any mutually-paired group the
    * id→next-id chain always survives, so connected components over a
    * clique are preserved at any budget ≥ 1); everything else is dropped
    * with a LOUD log carrying the exact dropped-pair count. Dedup
    * verdicts that only need cluster membership (drop-set on equal-size
    * mutual groups, canonical-per-cluster) are unchanged under the cap —
    * spec-pinned in DedupSpec. SCOPE: the survival guarantee is
    * CLIQUE-scoped — on non-mutual pair graphs (asymmetric containment
    * chains, partial-overlap paths) the budget CAN sever a connected
    * component, e.g. a hub doc whose budget drops the only edge reaching
    * a leaf with no other partner (spec-pinned in PairBudgetSpec); when
    * cluster MEMBERSHIP is the deliverable, use the uncapped dedup paths.
    * The cap is a MATERIALIZING safety valve:
    * engaging it runs one eager pass (rank + over-budget count) so the
    * log is factual, and hands the caller the cached capped frame.
    */
  private def capPairsPerDoc(
      pairs: DataFrame, idA: String, idB: String, budget: Int,
      api: String): DataFrame = {
    if (budget == Int.MaxValue) return pairs
    require(budget >= 1, s"maxPairsPerDoc: $budget")
    val scope = new CacheScope
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idA)).orderBy(col(idB))
    val ranked = scope.persist(pairs.withColumn("__rk", row_number().over(w)))
    val dropped = ranked.filter(col("__rk") > budget).count()
    if (dropped > 0)
      logger.warn(s"[$api] maxPairsPerDoc=$budget engaged: dropped $dropped " +
        s"over-budget pairs (mutually-similar mega-group; kept the $budget " +
        "smallest partner ids per doc)")
    scope.releaseAfter(ranked.filter(col("__rk") <= budget).drop("__rk"))
  }

  /** Bucket self-join with skew salting. Rows sharing `bk` become
    * candidate pairs (both orientations, `_a`/`_b` suffixed payload):
    *
    *  - buckets ≤ `maxBucket`: plain per-bucket self-join;
    *  - `maxBucket` < size ≤ `hardCap`: SALTED — rows are hashed into
    *    g = ⌈size/maxBucket⌉ chunks and the bucket's g(g+1)/2 chunk-pair
    *    sub-tasks each compare ~maxBucket² rows. A row in chunk c
    *    replicates to the (c,j≥c) tasks as the a-side and (i≤c,c) as the
    *    b-side — ~g copies. Same d²/2 total comparisons, but spread over
    *    g² tasks instead of one straggler holding d rows: at 100 TB a
    *    hot template bucket of 50k docs becomes 2.5k bounded tasks, not
    *    one OOM. Off-diagonal tasks see each unordered pair once, so the
    *    salted output is mirrored to keep both orientations (callers
    *    filter `id_a < id_b` and dedupe exactly as in the plain path);
    *  - size > `hardCap`: dropped — degenerate buckets (empty-text /
    *    boilerplate signatures) that exact dedup already handles, where
    *    even salted all-pairs would be quadratic garbage.
    */
  private[ml] def bucketSelfJoin(
      rows: DataFrame,
      bk: String,
      payloadCols: Seq[String],
      maxBucket: Int,
      hardCap: Int,
      scope: CacheScope): DataFrame = {
    // Bucket sizing WITHOUT a window: a per-key window shuffle holds whole
    // buckets in one task and (worse) the r3 shape recomputed the upstream
    // signature plan once per branch. Instead: partial-agg count on the
    // narrow bucket key, keep only the SKEWED keys (> maxBucket) — few by
    // definition at any data scale — and persist the input once so both
    // branches read cache, not the upstream pipeline. Both persists live
    // in the caller's CacheScope: released after the caller's first
    // action on the pipeline result.
    val cached = scope.persist(rows)
    val big = scope.persist(
      cached.groupBy(bk).agg(count(lit(1)).as("bsize"))
        .filter(col("bsize") > maxBucket))
    // No broadcast hint and no eager size probe: skewed keys are few on
    // every realistic corpus, but "few" is an observation, not a bound —
    // AQE sees `big`'s ACTUAL post-agg size and picks broadcast exactly
    // when it fits autoBroadcastJoinThreshold, falling back to a shuffle
    // join when millions of slightly-over keys would OOM a forced
    // broadcast. The r11 shape pre-counted big to make that call itself;
    // the count was one full action per pairing call — pure driver
    // overhead on micro-batches (q_dedup_ingest pays this per cycle).
    def side(df: DataFrame, suffix: String, extra: Seq[(String, String)]): DataFrame =
      df.select(col(bk) +: extra.map { case (c, n) => col(c).as(n) } ++:
        payloadCols.map(c => col(c).as(c + suffix)): _*)

    val small = cached.join(big, Seq(bk), "left_anti")
    val plain = side(small, "_a", Nil).join(side(small, "_b", Nil), Seq(bk))

    val medium = cached
      .join(big.filter(col("bsize") <= hardCap), Seq(bk))
      .withColumn("g", ceil(col("bsize") / lit(maxBucket)).cast("int"))
      .withColumn("c", pmod(xxhash64(col(payloadCols.head)), col("g")).cast("int"))
    val aSide = side(
      medium.withColumn("cj", explode(sequence(col("c"), col("g") - 1))),
      "_a", Seq("c" -> "ci", "cj" -> "cj"))
    val bSide = side(
      medium.withColumn("ci", explode(sequence(lit(0), col("c")))),
      "_b", Seq("ci" -> "ci", "c" -> "cj"))
    val salted = aSide.join(bSide, Seq(bk, "ci", "cj")).drop("ci", "cj")
    // mirror so both orientations exist, matching the plain path's contract
    val mirrored = salted.unionByName(salted.select(col(bk) +:
      payloadCols.flatMap(c =>
        Seq(col(c + "_b").as(c + "_a"), col(c + "_a").as(c + "_b"))): _*))
    plain.unionByName(mirrored)
  }

  /** Exact dedup by content hash: group on md5(normalized text), keep the
    * lowest id. Scales as one hash-partitioned aggregation; the 128-bit
    * hash key (not the text) is the shuffle payload.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Rebalance.spread(docs)
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash + LSH near-dup candidate pairs:
    * shingle → minhash(k) → band keys → explode → self-join per band
    * → distinct pairs → exact Jaccard verification ≥ threshold.
    *
    * Scale: the self-join is per-band-bucket; skew guards per
    * [[bucketSelfJoin]] — buckets over `maxBucket` are salted across
    * bounded sub-tasks (full recall), buckets over `saltCap` dropped
    * (boilerplate/empty-text clusters that exact dedup already handles).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      saltCap: Int = 20000,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    // the shingle frame feeds the band explode AND both verify joins —
    // persist so the corpus is shingled once (scope-released after the
    // caller's first action; at petabyte scale write it out instead)
    val scope = new CacheScope
    val sh = scope.persist(shingleFrame(docs, idCol, textCol, shingleN))
    // r15 (guide §1.2 step 1): at threshold >= 1.0 banding degenerates to
    // SET IDENTITY — J >= 1.0 ⟺ the shingle sets are equal, and equal
    // sets always collide on a fingerprint of the set — so ONE xxhash64
    // over the sorted distinct shingle hashes replaces the k-hash minhash
    // signature and the `bands`-row explode: the signature kernel (k
    // hashes per shingle, the pipeline's dominant per-task cost) never
    // runs and the pairing shuffle carries 1 row/doc instead of `bands`.
    // Recall stays exactly 1.0 (no false negatives: equal sets ⟹ equal
    // fingerprint); a fingerprint collision only ADDS a candidate, which
    // the unchanged literal Jaccard verify kills — the emitted pair set
    // is identical row-for-row (pinned in DedupCorpusSpec). Bucket-cap
    // semantics are unchanged for true pairs: an exact-dup group's fp
    // bucket has the same membership its (all-identical) band buckets
    // had, so the same groups hit maxBucket/saltCap in both shapes.
    val bandRows = if (threshold >= 1.0) fpBandFrame(sh) else bandFrame(sh, k, bands)
    capPairsPerDoc(
      minhashVerifiedPairs(sh, bandRows, threshold, maxBucket, saltCap, scope,
        preMatched = threshold >= 1.0),
      "id_a", "id_b", maxPairsPerDoc, "minhashPairs")
  }

  /** `(id, sh, sz)` shingle signature frame — distinct shingle count
    * computed ONCE per doc: the scalar Jaccard size-bound
    * (t*|B| <= |A| <= |B|/t) prunes candidate pairs before any array is
    * compared. sz=0 docs (under shingleN tokens) are dropped: they have
    * no signal for NEAR-dup detection (exact dedup owns them) and would
    * otherwise all share the empty-array minhash signature — one
    * degenerate quadratic bucket per corpus.
    */
  private[graft] def shingleFrame(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    // the shingle explode + signature kernels amplify the scan 10-100×,
    // so a monolith input (one small compressed file → one task) must
    // spread BEFORE this stage or it carries the whole pipeline
    // single-threaded (see Rebalance)
    Rebalance.spread(docs).select(col(idCol).as("id"),
      Kernels.wordShingles(col(textCol), shingleN).as("sh"))
      .withColumn("sz", size(array_distinct(col("sh"))))
      .filter(col("sz") > 0)

  /** `(id, bandkey)` LSH band rows of a [[shingleFrame]] — only this
    * narrow pair ever goes through the pairing shuffle, never the
    * shingle arrays.
    */
  private[graft] def bandFrame(sh: DataFrame, k: Int, bands: Int): DataFrame =
    sh.select(col("id"), explode(Similarity.lshBands(
      Kernels.minhashSig(col("sh"), k), bands, k / bands)).as("bandkey"))

  /** 8-byte fingerprint of a shingle SET (order/dup-insensitive):
    * xxhash64 over the sorted distinct per-shingle hashes. Equal sets
    * always fingerprint equal, so at threshold >= 1.0 (J >= 1 ⟺ set
    * equality) ONE fp row per doc replaces the k-hash minhash signature
    * and its `bands`-row explode with recall exactly 1.0; a collision
    * only ADDS a candidate, which the literal verify kills.
    */
  private[graft] def shingleSetFp(sh: Column): Column =
    xxhash64(array_sort(array_distinct(transform(sh, s => xxhash64(s)))))

  /** [[shingleSetFp]] keyed like a band row — the t >= 1.0 stand-in for
    * [[bandFrame]] wherever a bucket/join key is all that is needed.
    */
  private[graft] def fpBandFrame(sh: DataFrame): DataFrame =
    sh.select(col("id"), concat(lit("fp:"), shingleSetFp(col("sh"))).as("bandkey"))

  /** Pairing tail of [[minhashPairs]] over PRE-COMPUTED signature frames
    * (`sh` = [[shingleFrame]], `bandRows` = [[bandFrame]], both expected
    * caller-persisted — each feeds multiple joins): band buckets over
    * maxBucket are salted (triangle sub-join), over saltCap dropped
    * (boilerplate clusters exact dedup catches); distinct candidate
    * pairs FIRST, then each pair's Jaccard verified once. Lets an ingest
    * loop shingle + minhash-sign its batch ONCE and reuse the frames
    * across the corpus probe, the intra-batch pairing and the index
    * append instead of recomputing them three times.
    */
  private[graft] def minhashVerifiedPairs(
      sh: DataFrame,
      bandRows: DataFrame,
      threshold: Double,
      maxBucket: Int,
      saltCap: Int,
      scope: CacheScope,
      preMatched: Boolean = false): DataFrame = {
    val joined = bucketSelfJoin(bandRows, "bandkey", Seq("id"), maxBucket, saltCap, scope)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // preMatched (fp tier): each doc carries exactly ONE bucket row, so
    // an unordered pair can surface from at most one bucket — the pair
    // frame is already distinct and the dedupe exchange is a wasted
    // shuffle. Band rows (nBands per doc) surface a pair up to nBands
    // times; the distinct stays essential there.
    val cand = if (preMatched) joined else joined.distinct()
    verifiedJaccardPairs(cand, sh, sh, threshold, scope, preMatched)
  }

  /** Exact Jaccard verification of `(id_a, id_b)` candidate pairs
    * against two `(id, sh, sz)` shingle frames, STAGED so the literal
    * shingle-string arrays never ship at candidate volume (the r13
    * containment restructure generalized to every minhash-family
    * verify; measured there: two ~10 KB arrays per CANDIDATE was ~90%
    * of the row's runtime, and the sf10 rehearsal caught the
    * incremental path spilling 50 GB through this exact shape):
    *
    *  1. both sides are SEMI-JOIN-PRUNED to the ids candidates actually
    *     touch before anything ships — the index/corpus side is the
    *     whole corpus shingle store, and a micro-batch probe must not
    *     re-shuffle it per batch (the candidate-id set is small and
    *     broadcasts, so the prune is map-side);
    *  2. stage-1 prune on 8-byte xxhash64 shingle identities: the
    *     size-bound kills impossible pairs on the narrow sz columns,
    *     then hashed-set Jaccard ≥ threshold. No false negatives: a
    *     collision can only MERGE distinct shingles, so the hashed
    *     intersect only inflates and the hashed union only deflates —
    *     hashed J ≥ literal J always;
    *  3. the literal exact verify (unchanged semantics, the same
    *     [[Kernels.jaccardSim]]) then runs at ~true-pair volume.
    */
  private[graft] def verifiedJaccardPairs(
      cand0: DataFrame,
      shA: DataFrame,
      shB: DataFrame,
      threshold: Double,
      scope: CacheScope,
      preMatched: Boolean = false): DataFrame = {
    // preMatched (r15): the caller produced `cand0` by an equi-join on
    // the set fingerprint (t >= 1.0 fp tier), so every candidate is
    // already fingerprint-equal — the staged stage-1 would filter
    // (almost) nothing and the bypass-decision count() is a wasted job
    // at ANY volume. Go straight to the literal verify; the persist
    // still bounds execution (the frame is referenced from three plan
    // positions below).
    if (preMatched) {
      val cand = scope.persist(cand0)
      val aSel = shA.join(cand.select(col("id_a").as("id")).distinct(), Seq("id"), "left_semi")
      val bSel = shB.join(cand.select(col("id_b").as("id")).distinct(), Seq("id"), "left_semi")
      return scope.releaseAfter(cand
        .join(aSel.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(bSel.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          Kernels.jaccardSim(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold))
    }
    // the candidate frame is the plan's FAN-OUT point: both prune sides,
    // the prune join and the literal stage all reference it, so its
    // LOGICAL tree is duplicated ~3× here and ~3× again through
    // `pruned` below. The persist bounds EXECUTION (the candidate job
    // runs once); the ~9× logical-tree duplication is a bounded
    // constant factor on analysis cost — but it made Spark's
    // effectively-unlimited plan-STRING rendering the driver's largest
    // allocation in the nested ingest verify, which is why GraftSession
    // caps spark.sql.maxPlanStringLength.
    val cand = scope.persist(cand0)
    // ADAPTIVE BYPASS (r15, guide §2.3/§7): the staged hashed prune pays
    // when candidates ≫ true pairs — it trades two extra joins, a persist
    // and a per-pair hashed-array intersect for shipping literal shingle
    // arrays only at true-pair volume. Below a candidate-count floor that
    // trade INVERTS: the stage-1 machinery costs more than it saves
    // (measured, r14 driver record at sf0.1: q_minhash_append 3.18 →
    // 4.24 s, the whole minhash family 1.5-2.3× its r13 cost), while at
    // sf10 candidate volumes the staged path is the difference between
    // 73 s and a full-disk abort. The decision input is ONE count() on
    // the already-persisted candidate frame (the candidate job runs
    // exactly once either way; the count just runs it eagerly), so both
    // regimes keep their shape. The floor is scale-parameterised, not
    // tuned to local[32]: it is a per-QUERY property (candidate volume),
    // the same on any cluster size. Correctness is unchanged by
    // construction — the bypass runs the SAME literal verify on a
    // superset of the pairs the staged prune would have forwarded, and
    // stage-1 never adds pairs (it only drops provably-sub-threshold
    // ones), so the filtered result is identical row-for-row.
    val bypassFloor = cand.sparkSession.conf
      .get("spark.graft.dedup.stagedVerifyMinCandidates", "1000000").toLong
    val nCand = cand.count()
    if (nCand <= bypassFloor) {
      val aSel = shA.join(cand.select(col("id_a").as("id")).distinct(), Seq("id"), "left_semi")
      val bSel = shB.join(cand.select(col("id_b").as("id")).distinct(), Seq("id"), "left_semi")
      return scope.releaseAfter(cand
        .join(aSel.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(bSel.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          Kernels.jaccardSim(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold))
    }
    val aIds = cand.select(col("id_a").as("id")).distinct()
    val bIds = cand.select(col("id_b").as("id")).distinct()
    val selA = shA.join(aIds, Seq("id"), "left_semi")
    val selB = shB.join(bIds, Seq("id"), "left_semi")
    // At threshold >= 1.0 stage-1 degenerates to hashed-SET EQUALITY
    // (inter >= union  ⟺  the hashed sets are equal, and the size bound
    // collapses to sz_a = sz_b), so ONE 8-byte fingerprint per doc —
    // xxhash64 over the sorted distinct shingle-hash array — replaces the
    // array-valued hashed stage: the prune join ships 16 bytes/candidate
    // instead of two hash arrays, and no per-pair array intersect runs.
    // Equal sets always fingerprint equal (no false negatives); a
    // fingerprint collision only ADDS a candidate, which the literal
    // verify kills. Exact-duplicate mining (t = 1.0) is the common
    // plant/bench shape AND the cheapest production tier, so it must not
    // pay the general near-dup machinery.
    val pruned = scope.persist(
      if (threshold >= 1.0) {
        def fp(df: DataFrame, suffix: String) =
          df.select(col("id").as("id" + suffix), col("sz").as("sz" + suffix),
            xxhash64(array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))))
              .as("fp" + suffix))
        cand
          .join(fp(selA, "_a"), Seq("id_a"))
          .join(fp(selB, "_b"), Seq("id_b"))
          .filter(col("sz_a") === col("sz_b") && col("fp_a") === col("fp_b"))
          .select(col("id_a"), col("id_b"))
      } else {
        def hashed(df: DataFrame, suffix: String) =
          df.select(col("id").as("id" + suffix), col("sz").as("sz" + suffix),
            array_sort(array_distinct(transform(col("sh"), s => xxhash64(s))))
              .as("shh" + suffix))
        val inter = size(array_intersect(col("shh_a"), col("shh_b"))).cast("double")
        val hUnion = (size(col("shh_a")) + size(col("shh_b"))).cast("double") - inter
        cand
          .join(hashed(selA, "_a"), Seq("id_a"))
          .join(hashed(selB, "_b"), Seq("id_b"))
          .filter(lit(threshold) * col("sz_b") - lit(1e-9) <= col("sz_a") &&
            lit(threshold) * col("sz_a") - lit(1e-9) <= col("sz_b"))
          .filter(inter >= lit(threshold) * hUnion - lit(1e-9))
          .select(col("id_a"), col("id_b"))
      })
    val aSel = shA.join(pruned.select(col("id_a").as("id")).distinct(), Seq("id"), "left_semi")
    val bSel = shB.join(pruned.select(col("id_b").as("id")).distinct(), Seq("id"), "left_semi")
    scope.releaseAfter(pruned
      .join(aSel.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(bSel.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Kernels.jaccardSim(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold))
  }

  /** Precomputed minhash band index of a corpus — the artifact
    * INCREMENTAL dedup joins against. Build once and persist (at real
    * scale, write `bands` out partitioned by band key); each new batch
    * then pays only its own shingling plus a band join pruned to its own
    * keys — the 100 TB corpus is never re-shingled and never self-joined
    * again. `shingles` backs the exact verify of the (few) candidates;
    * at scale that read is semi-join-pruned to candidate ids.
    */
  final case class MinhashIndex(
      bands: DataFrame, shingles: DataFrame,
      k: Int, nBands: Int, shingleN: Int,
      fpsStored: Option[DataFrame] = None) {
    /** `(id, fp)` set-fingerprint rows — the t >= 1.0 probe structure
      * (r15, guide §2.3): an exact-duplicate probe needs only set
      * IDENTITY, so one 8-byte fp per doc replaces the `nBands` band
      * rows. Disk-backed indexes store it as a third table (`fps/`) and
      * the per-batch corpus scan shrinks ~`nBands`-fold AND never
      * touches the signature kernel; in-memory indexes derive it from
      * the (persisted) shingle frame — a map pass over cache, which
      * also means a probe-only pipeline never materializes `bands` (the
      * k-hash signature never runs on the corpus at all).
      */
    def fpRows: DataFrame = fpsStored.getOrElse(
      shingles.select(col("id"), shingleSetFp(col("sh")).as("fp")))
    /** Drop the index's cached shingle frame. The index intentionally
      * outlives its builder (it serves every subsequent increment), so
      * its lifecycle is caller-owned — call this when retiring it.
      */
    def release(): Unit =
      try shingles.unpersist(blocking = false) catch { case _: Throwable => () }
  }

  /** Persist a [[MinhashIndex]] for reuse across sessions — the
    * production corpus-index story: build once over the 100 TB corpus,
    * write, and every later ingest batch reads it back instead of
    * re-shingling anything. Banding params travel in a sidecar so a
    * mismatched k/bands/shingleN cannot silently produce zero
    * candidates. Plain parquet: band keys are high-cardinality hashes
    * (directory-per-key partitioning would explode the namespace);
    * the batch join prunes by the semi-join, not partition pruning.
    */
  def writeMinhashIndex(index: MinhashIndex, path: String): Unit = {
    // The two tables are independent jobs over the SAME persisted shingle
    // frame; run them as overlapping FIFO jobs (guide §2.6) so the bands
    // job's signature-kernel tail back-fills cores with the shingles
    // job's scan. Initial-write ordering carries no crash contract —
    // params.json (written LAST, below) is what gates readability — so
    // unlike appendPreSignedToMinhashIndex the order is free here.
    // Materialize the shared shingle cache FIRST: two jobs first-touching
    // one unmaterialized cached frame would compute it twice.
    index.shingles.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    val writes = Seq(
      Future(index.bands.write.mode("overwrite").parquet(s"$path/bands")),
      Future(index.shingles.write.mode("overwrite").parquet(s"$path/shingles")),
      // third table: set fingerprints — the t >= 1.0 probe structure
      // (see MinhashIndex.fpRows); the params marker below ("fp":1)
      // gates its use so a pre-fp index read falls back cleanly
      Future(index.fpRows.write.mode("overwrite").parquet(s"$path/fps")))
    try writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
    val params = s"""{"k":${index.k},"bands":${index.nBands},"shingleN":${index.shingleN},"fp":1}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "params.json"),
      params.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex = {
    val params = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, "params.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def intOf(key: String): Int = {
      val m = s""""$key":(\\d+)""".r.findFirstMatchIn(params)
      m.getOrElse(throw new IllegalArgumentException(
        s"minhash index at $path: params.json missing $key")).group(1).toInt
    }
    // disk-backed frames: no persist — parquet re-reads are cheap and
    // column-pruned; release() on a read-back index is a harmless no-op.
    // The fps table is used only when the sidecar declares it ("fp":1):
    // a pre-fp index (or a torn write) falls back to deriving fps from
    // the shingle arrays, which is slower but always correct.
    val hasFp = s""""fp":1""".r.findFirstIn(params).isDefined
    MinhashIndex(
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"),
      intOf("k"), intOf("bands"), intOf("shingleN"),
      fpsStored = if (hasFp) Some(spark.read.parquet(s"$path/fps")) else None)
  }

  /** Append a batch to a PERSISTED minhash index without touching the
    * corpus — the dedup cousin of `Ann.ivfAppendBatch`: once an ingest
    * batch has been admitted (deduped via [[incrementalMinhashPairs]]),
    * this makes it part of the index so the NEXT batch dedups against
    * it too. Work is O(batch): shingle + sign the new docs under the
    * STORED banding params (a drifted k/bands/shingleN would silently
    * produce zero candidates, so they are read from the sidecar, never
    * passed in) and parquet-append the two frames. The corpus is never
    * re-shingled. Ids must be new to the index — same contract as
    * [[incrementalMinhashPairs]]. Crash-safety: shingles append first;
    * a torn append degrades to missed recall for THIS batch (re-append
    * repairs it), never to corrupt pairs — band hits without a shingle
    * row drop in the inner verify join, orphan shingles are never
    * candidates. No compaction step is needed (unlike the IVF index's
    * per-list layout): both frames are flat parquet, and small appended
    * files fold into normal scan coalescing.
    */
  def appendToMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val idx = readMinhashIndex(spark, path)
    val sh = shingleFrame(batch, idCol, textCol, idx.shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendPreSignedToMinhashIndex(path, sh, bandFrame(sh, idx.k, idx.nBands))
    finally { sh.unpersist(blocking = false); () }
  }

  /** Append tail of [[appendToMinhashIndex]] over PRE-COMPUTED signature
    * frames — the frames MUST have been built under the index's stored
    * banding params (callers get them from [[readMinhashIndex]]).
    * Shingles land first: a torn append degrades to missed recall for
    * this batch (re-append repairs it), never corrupt pairs.
    */
  private[graft] def appendPreSignedToMinhashIndex(
      path: String, sh: DataFrame, bandRows: DataFrame): Unit = {
    sh.select(col("id"), col("sh"), col("sz"))
      .write.mode("append").parquet(s"$path/shingles")
    // Shingles land FIRST (the torn-append contract: a crash after them
    // degrades to missed recall for THIS batch, never corrupt pairs —
    // probe-key rows without a shingle row die in the verify join, and
    // orphan shingles are never candidates). fps and bands are BOTH
    // probe-key tables with that same one-sided contract and no ordering
    // between them, so they overlap as concurrent jobs (guide §2.6).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    val writes = Seq(
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path, "fps")))
        Future(sh.select(col("id"), shingleSetFp(col("sh")).as("fp"))
          .write.mode("append").parquet(s"$path/fps"))
      else Future.successful(()),
      Future(bandRows.select(col("id"), col("bandkey"))
        .write.mode("append").parquet(s"$path/bands")))
    try writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
  }

  def minhashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3): MinhashIndex = {
    val sh = shingleFrame(corpus, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MinhashIndex(bandFrame(sh, k, bands), sh, k, bands, shingleN)
  }

  /** Dedup an increment AGAINST an existing corpus index — the
    * production shape: each incoming batch is checked without re-pairing
    * the corpus with itself. Banding parameters come FROM the index (a
    * mismatched k/bands/shingleN would silently produce zero candidates).
    * The increment's band keys semi-join-prune the corpus postings;
    * bands whose pruned posting exceeds `maxDf` are dropped as
    * boilerplate — same drop threshold as [[minhashPairs]]'s `saltCap`
    * default (the self-join's intermediate salting tier is unnecessary
    * here: this bipartite join has no quadratic bucket term, and AQE
    * splits a skewed band's join at runtime). A doc loses a pair only
    * if EVERY shared band is boilerplate. Ids must be distinct across
    * corpus and increment. Returns (id_a = increment id, id_b = corpus
    * id, jaccard ≥ threshold).
    */
  def incrementalMinhashPairs(
      increment: DataFrame,
      index: MinhashIndex,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      maxDf: Int = 20000): DataFrame = {
    val scope = new CacheScope
    val shNew = scope.persist(shingleFrame(increment, idCol, textCol, index.shingleN))
    incrementalVerifiedPairs(
      shNew, bandFrame(shNew, index.k, index.nBands), index, threshold, maxDf, scope)
  }

  /** Probe tail of [[incrementalMinhashPairs]] over PRE-COMPUTED batch
    * signature frames (same contract as [[minhashVerifiedPairs]]): the
    * ingest-loop building block that avoids re-shingling the batch.
    */
  private[graft] def incrementalVerifiedPairs(
      shNew: DataFrame,
      newBandRows: DataFrame,
      index: MinhashIndex,
      threshold: Double,
      maxDf: Int,
      scope: CacheScope): DataFrame = {
    // r15 (guide §2.3, ProfileIngest: probe 3.3 s of an 8 s ingest cycle
    // at sf0.1): at threshold >= 1.0 the probe needs set IDENTITY only,
    // so it joins ONE 8-byte fingerprint per doc instead of `nBands`
    // band rows per doc — the corpus-side scan shrinks ~16× (and reads
    // the narrow fps table, never the signature kernel), the batch side
    // never computes its minhash signature at all, and the band join +
    // pair-distinct machinery collapses to one equi-join whose output is
    // already distinct (one fp row per doc on each side). Recall stays
    // exactly 1.0 (equal sets ⟹ equal fp); collisions only add
    // candidates that the unchanged literal verify kills — pinned
    // band-vs-fp equal in DedupSpec. The boilerplate cap carries over:
    // a >maxDf fp group is the same doc population whose (all-identical)
    // band buckets the band path capped. newBandRows stays LAZY here —
    // on this path it is never touched, so its signature never runs.
    if (threshold >= 1.0) {
      val fpNew = shNew.select(col("id").as("id_a"), shingleSetFp(col("sh")).as("fp"))
      val hit = scope.persist(index.fpRows.select(col("id").as("id_b"), col("fp"))
        .join(fpNew.select("fp").distinct(), Seq("fp"), "left_semi"))
      val ok = hit.groupBy("fp").agg(count(lit(1)).as("n"))
        .filter(col("n") <= maxDf).select("fp")
      val cand = fpNew
        .join(hit.join(ok, Seq("fp"), "left_semi"), Seq("fp"))
        .select(col("id_a"), col("id_b"))
      return verifiedJaccardPairs(cand, shNew, index.shingles, threshold, scope,
        preMatched = true)
    }
    val newBands = newBandRows.select(col("id").as("id_a"), col("bandkey"))
    // corpus postings that an increment key actually touches (tiny vs
    // the corpus); computed once per batch — a fraction of index.bands.
    // Batch-scoped (unlike the index itself): released after this batch's
    // terminal action.
    val hit = scope.persist(index.bands.select(col("id").as("id_b"), col("bandkey"))
      .join(newBands.select("bandkey").distinct(), Seq("bandkey"), "left_semi"))
    val ok = hit.groupBy("bandkey").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxDf).select("bandkey")
    val cand = newBands
      .join(hit.join(ok, Seq("bandkey"), "left_semi"), Seq("bandkey"))
      .select(col("id_a"), col("id_b")).distinct()
    // staged verify: the corpus shingle store is semi-join-pruned to the
    // candidate ids and the literal arrays ship only at true-pair volume
    // — a micro-batch probe must never re-shuffle the whole index
    verifiedJaccardPairs(cand, shNew, index.shingles, threshold, scope)
  }

  /** All strings reachable from `s` by deleting AT MOST `k` characters
    * (depth-0 self included), as a Column of array<string>. Pure
    * Catalyst higher-order functions — stays inside whole-stage codegen.
    * `sequence(a, b)` with a > b generates DESCENDING, so short strings
    * are masked to empty explicitly.
    */
  private def deletionNeighborhood(s: Column, k: Int): Column = {
    val n = length(s)
    val none = typedlit(Seq.empty[String])
    val d1 = when(n >= 1, transform(sequence(lit(1), n), i =>
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, n)))).otherwise(none)
    k match {
      case 1 => concat(array(s), d1)
      case 2 =>
        val d2 = when(n >= 2, flatten(transform(sequence(lit(1), n - 1), i =>
          transform(sequence(i + 1, n), j =>
            concat(s.substr(lit(1), i - 1),
              s.substr(i + 1, j - i - 1),
              s.substr(j + 1, n)))))).otherwise(none)
        concat(array(s), d1, d2)
    }
  }

  /** EXACT edit-distance pairs (ed ≤ `maxDistance`) over a short-string
    * column — the typo-dedup face (titles, names, URLs) the set-overlap
    * families can't see (one char edit barely moves Jaccard on 3-gram
    * sets of a 12-char string). FastSS deletion-neighborhood blocking
    * (Bocek et al. 2007): if ed(a,b) ≤ k, deleting the ≤ k chars each
    * side contributes to the optimal alignment leaves a COMMON string,
    * so a and b share a depth-≤ k deletion variant — zero false
    * negatives; false candidates die at the exact `levenshtein` verify.
    * Returns ordered `(id_a < id_b, dist)`.
    *
    * Scale shape: each row emits O(len^k) 8-byte variant HASHES (the
    * strings themselves never ride the candidate shuffle; the verify
    * join pulls them back by id), the self-join runs through
    * [[bucketSelfJoin]]'s salted/capped machinery, and `maxLen` bounds
    * the per-row fanout — this is a SHORT-string operator by
    * construction (a 64-char cap at k=2 is ~2k variants/row; documents
    * belong in the shingle families above).
    *
    * DROP SEMANTICS: "zero false negatives" holds only for pairs whose
    * candidate buckets survive `hardCap` — [[bucketSelfJoin]] silently
    * DROPS any variant bucket larger than `hardCap` rows (default
    * 100000), exactly like [[minhashPairs]]'s saltCap. A corpus where
    * >hardCap rows share an identical or near-identical short string
    * loses those rows' pairs; such a bucket is all-pairs-quadratic by
    * definition, so the cap is the scale guarantee. Set
    * `hardCap = Int.MaxValue` to force exhaustiveness (and accept the
    * quadratic bucket), or pre-dedup exact duplicates first.
    */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String,
      strCol: String,
      maxDistance: Int = 1,
      maxLen: Int = 64,
      maxBucket: Int = 2000,
      hardCap: Int = 100000): DataFrame = {
    require(maxDistance == 1 || maxDistance == 2,
      s"editDistancePairs: maxDistance=$maxDistance (FastSS depth 1 or 2)")
    val scope = new CacheScope
    val base = scope.persist(Rebalance.spread(docs)
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull && length(col("s")) <= maxLen))
    val keys = base.select(col("id"), explode(array_distinct(
      deletionNeighborhood(col("s"), maxDistance))).as("v"))
      .select(col("id"), xxhash64(col("v")).as("bk"))
    val cand = bucketSelfJoin(keys, "bk", Seq("id"), maxBucket, hardCap, scope)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    scope.releaseAfter(cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist")))
  }

  /** EXACT cross-frame edit-distance probe: every (probe A, corpus B)
    * pair with ed(A,B) ≤ `maxDistance` as `(id_a, id_b, dist)` — the
    * typo cousin of [[containmentJoinPairs]] ("is this incoming title a
    * near-miss of something we already hold?"). Same FastSS blocking as
    * [[editDistancePairs]], but bipartite: the PROBE side's variant
    * keys broadcast, the corpus generates its keys map-side and never
    * shuffles its strings — only candidate (id_a, id_b) pairs and the
    * few candidate corpus rows cross an exchange. Ids must be distinct
    * across the frames.
    */
  def editDistanceJoinPairs(
      probe: DataFrame,
      corpus: DataFrame,
      idCol: String,
      strCol: String,
      maxDistance: Int = 1,
      maxLen: Int = 64): DataFrame = {
    require(maxDistance == 1 || maxDistance == 2,
      s"editDistanceJoinPairs: maxDistance=$maxDistance (FastSS depth 1 or 2)")
    def keyed(df: DataFrame, idAs: String) = df
      .select(col(idCol).as(idAs), col(strCol).as(s"s$idAs"))
      .filter(col(s"s$idAs").isNotNull && length(col(s"s$idAs")) <= maxLen)
    val p = keyed(probe, "id_a")
    val c = keyed(corpus, "id_b")
    def keys(df: DataFrame, idAs: String) = df
      .select(col(idAs), explode(array_distinct(
        deletionNeighborhood(col(s"s$idAs"), maxDistance))).as("v"))
      .select(col(idAs), xxhash64(col("v")).as("bk"))
    val cand = keys(c, "id_b")
      .join(broadcast(keys(p, "id_a").distinct()), Seq("bk"))
      .select("id_a", "id_b").distinct()
    cand
      .join(broadcast(p), Seq("id_a"))
      .join(c, Seq("id_b"))
      .withColumn("dist", levenshtein(col("sid_a"), col("sid_b")))
      .filter(col("dist") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** SimHash near-dup pairs: 64-bit signature, bucket by the signature's
    * 4 16-bit quadrants (any pair within hamming distance 3 shares at
    * least one exact quadrant), verify hamming ≤ maxHamming.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 500,
      saltCap: Int = 10000): DataFrame = {
    // min-token floor: texts that normalize to (near-)nothing — e.g.
    // non-Latin scripts under an ASCII normalizer — all hash identically
    // and would form a quadratic bucket; they are exact-dedup's job
    val toks = split(TextFunctions.normalized(col(textCol)), " ", -1)
    val sig = Rebalance.spread(docs).where(size(toks) >= 3)
      .select(col(idCol).as("id"), Kernels.simhash64(toks).as("sim"))
    hamming64Pairs(sig, "id", "sim", maxHamming, maxBucket, saltCap)
  }

  /** Banded Hamming self-join over an arbitrary 64-bit fingerprint
    * column — the [[simhashPairs]] core lifted out for non-text
    * fingerprints (perceptual image hashes
    * [[graft.ml.Multimodal.phashPairs]], audio fingerprints). 4×16-bit
    * quadrant bands: a pair within Hamming `maxHamming` ≤ 3 differs in
    * at most 3 of the 4 quadrants, so it shares ≥ 1 intact quadrant
    * (pigeonhole) and banding recall is exactly 1; above 3 the bands
    * become a heuristic prefilter (same contract as [[simhashPairs]]).
    */
  /** Banded Hamming join BETWEEN two fingerprint frames — the
    * [[hamming64Pairs]] shape without the self-join: `(id_a, id_b,
    * hamming)` for every cross pair within `maxHamming` (id_a from
    * `left`, id_b from `right`). Same 4×16-bit quadrant bands, same
    * pigeonhole recall guarantee at `maxHamming` ≤ 3. This is the
    * continuous-ingestion probe: left = incoming batch (small — pass
    * it pre-`broadcast` and the band join never shuffles the corpus),
    * right = the corpus fingerprint index.
    */
  def hamming64JoinPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    def quads(df: DataFrame, s: String) = df
      .select(col(idCol).as(s"id_$s"), col(hashCol).cast("long").as(s"sim_$s"))
      .select(col(s"id_$s"), col(s"sim_$s"), explode(array(
        (0 until 4).map(q => concat_ws(":", lit(q),
          shiftrightunsigned(col(s"sim_$s"), q * 16).bitwiseAND(lit(0xFFFFL)))): _*)).as("qk"))
    quads(left, "a").join(quads(right, "b"), "qk")
      .select(col("id_a"), col("id_b"),
        Similarity.hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair appears once per shared quadrant (≤4×)
  }

  def hamming64Pairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 500,
      saltCap: Int = 10000): DataFrame = {
    val sig = hashes.select(col(idCol).as("id"), col(hashCol).cast("long").as("sim"))
    val quads = sig.select(col("id"), col("sim"), explode(array(
      (0 until 4).map(q => concat_ws(":", lit(q),
        shiftrightunsigned(col("sim"), q * 16).bitwiseAND(lit(0xFFFFL)))): _*)).as("qk"))
    // hamming filter BEFORE distinct: a near-pair appears once per shared
    // quadrant (≤4×), but the ≤maxHamming cut drops the vast majority of
    // joined rows first, so distinct deduplicates thousands of rows
    // instead of the full join output (bit_count is one codegen'd
    // instruction per row — far cheaper than shuffling rows to distinct)
    val scope = new CacheScope
    scope.releaseAfter(
      bucketSelfJoin(quads, "qk", Seq("id", "sim"), maxBucket, saltCap, scope)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Similarity.hamming64(col("sim_a"), col("sim_b")).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct())
  }

  /** Exact n-gram Jaccard over ALL candidate pairs sharing at least one
    * shingle — only sane for bounded corpora / post-LSH verification.
    * Rare-shingle pruning keeps the explode bounded: only the
    * `perDocKeep` rarest shingles per doc generate candidates.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      perDocKeep: Int = 20,
      minShared: Int = 2): DataFrame = {
    val scope = new CacheScope
    val sh = scope.persist(
      Rebalance.spread(docs)
        .select(col(idCol).as("id"), Kernels.wordShingles(col(textCol), shingleN).as("sh"))
        .withColumn("sz", size(array_distinct(col("sh")))))
    // deterministic hash-sampled posting list — no per-doc window/sort;
    // the MinKHashes kernel picks each doc's `perDocKeep` smallest
    // distinct shingle hashes map-side in one pass (the classic
    // rare-shingle candidate heuristic, and consistent across docs the
    // way min-hashing is: similar docs sample the same shingles)
    val posting0 = sh
      .select(col("id"), explode(Kernels.minKHashes(col("sh"), perDocKeep))
        .as("shingle"))
    // document-frequency cut: a shingle shared by d docs generates d²
    // candidate pairs, so frequent shingles (function-word n-grams) are
    // useless AND quadratic — drop them before the self-join
    val maxDf = 25
    val rare = posting0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("shingle")
    val posting = posting0.join(rare, Seq("shingle"))
    // co-occurrence support: with k sampled shingles per doc, a pair at
    // Jaccard >= t shares each sample w.p. ~t, so requiring >= minShared
    // shared samples loses ~nothing (P[X<=1 | J>=0.5, k=20] < 1e-3) while
    // cutting the candidate set ~10x. Counting shared samples replaces
    // the bare distinct — same shuffle, much smaller output.
    val cand = posting.as("x").join(posting.as("y"), Seq("shingle"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select("id_a", "id_b")
    // size-bound prune on the NARROW (id, sz) projection first — the
    // t*|B| <= |A| <= |B|/t bound kills impossible pairs before the
    // shingle arrays (the wide payload) ever enter a shuffle
    val sizes = sh.select(col("id"), col("sz"))
    val candSized = cand
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), Seq("id_b"))
      .filter(lit(threshold) * col("sz_b") - lit(1e-9) <= col("sz_a") &&
        lit(threshold) * col("sz_a") - lit(1e-9) <= col("sz_b"))
      .select("id_a", "id_b")
    scope.releaseAfter(candSized
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Kernels.jaccardSim(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold))
  }

  /** EXACT Jaccard self-join via prefix filtering (AllPairs, Bayardo et
    * al. WWW'07) — zero false negatives by construction, unlike the
    * minhash/LSH paths whose banding recall is < 1. Canonical order is
    * rarest-first (document frequency, then shingle): each doc emits only
    * its first `|d| - ceil(t*|d|) + 1` shingles in that order, and any
    * pair with J >= t provably shares a prefix shingle. Rarest-first also
    * bounds bucket sizes: a frequent shingle enters prefixes only of docs
    * where everything else is rarer still.
    *
    * Cost shape at scale: one shuffle to count df (vocab-sized), one
    * id-partitioned window to rank shingles within docs, the prefix
    * self-join (the quadratic term — provably minimal prefixes), then the
    * narrow size-bound + exact-verify tail shared with the approximate
    * paths. The candidate pipeline carries 8-byte xxhash64 shingle
    * identities (set `graft.ssjoin.hashShingles=false` for literal
    * strings); the final Jaccard verify always computes on the literal
    * string sets, so precision is exact and a hash collision can only
    * surface as an extra candidate for the verify to discard (recall
    * would need an intra-doc collision to reorder a prefix — p < 1e-10
    * corpus-wide). Use this when recall 1.0 is a requirement; minhash
    * when ~0.95 recall at a fraction of the candidates is acceptable.
    */
  def jaccardJoinExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val scope = new CacheScope
    val sh = scope.persist(Rebalance.spread(docs).select(col(idCol).as("id"),
      array_distinct(Kernels.wordShingles(col(textCol), shingleN)).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0))
    // candidate pipeline runs on 8-byte shingle HASHES (the ~30-byte
    // strings would otherwise ride the df shuffle, the rank window and
    // the prefix self-join); the final verify below computes Jaccard on
    // the literal string sets, so precision stays exact — a collision
    // can only admit an extra candidate for the verify to discard
    val hashShingles = docs.sparkSession.conf
      .getOption("graft.ssjoin.hashShingles").forall(_.toBoolean)
    // hashed signatures serve the candidate pipeline AND a stage-1
    // verify prune (see containmentPairs — same measured rationale:
    // string arrays enter a shuffle only at true-pair volume)
    val shH =
      if (hashShingles)
        Some(scope.persist(sh.select(col("id"), col("sz"),
          array_sort(transform(col("sh"), s => xxhash64(s))).as("shh"))))
      else None
    val posting = shH match {
      case Some(h) => h.select(col("id"), col("sz"), explode(col("shh")).as("shingle"))
      case None => sh.select(col("id"), col("sz"), explode(col("sh")).as("shingle"))
    }
    val dfTab = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("shingle"))
    // prefix length |d| - ceil(t*|d|) + 1: the t*sz product is computed in
    // doubles, and at exact-boundary sizes can misround UP (0.1*30 →
    // 3.0000000000000004 → ceil 4), silently shortening the prefix and
    // dropping threshold-equal pairs. The 1e-9 nudge makes misrounding
    // only ever LENGTHEN the prefix — extra candidates, never lost ones.
    val prefix = posting.join(dfTab, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
      .select(col("id"), col("sz"), col("rn"), col("shingle"))
    // The prefix self-join runs through bucketSelfJoin with hardCap=∞:
    // a hot prefix shingle (one ubiquitous token that survives into many
    // prefixes) is SALTED into bounded triangle sub-tasks instead of one
    // straggler posting-list task — recall stays 1.0 because no bucket is
    // dropped. Then two lossless cuts while a pair is still a handful of
    // ints: the size bound (t*|B| <= |A| <= |B|/t) and PPJoin's positional
    // filter — matching at prefix positions (ra, rb) caps the achievable
    // overlap at 1 + min(|A|-ra, |B|-rb), which must reach the
    // Jaccard-implied minimum t*(|A|+|B|)/(1+t). Both bounds are loosened
    // by 1e-9 so float rounding can only ADMIT extra candidates (the exact
    // verify below keeps the result identical).
    val cand = bucketSelfJoin(prefix, "shingle", Seq("id", "sz", "rn"),
        maxBucket = 2000, hardCap = Int.MaxValue, scope)
      .filter(col("id_a") < col("id_b") &&
        lit(threshold) * col("sz_b") - lit(1e-9) <= col("sz_a") &&
        lit(threshold) * col("sz_a") - lit(1e-9) <= col("sz_b") &&
        (lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))) * (lit(1.0) + threshold)
          >= lit(threshold) * (col("sz_a") + col("sz_b")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // stage-1 hashed prune: J_h = i/(sz_a+sz_b-i) with i the hashed
    // intersect size — cross-doc collisions only inflate i (and J_h is
    // monotone in i), so no true pair is lost absent an intra-doc
    // collision (the p < 1e-10 tolerance documented above); the literal
    // verify below keeps precision exact
    val candPruned = shH match {
      case Some(h) =>
        cand
          .join(h.select(col("id").as("id_a"), col("shh").as("shh_a"),
            col("sz").as("sz_a")), Seq("id_a"))
          .join(h.select(col("id").as("id_b"), col("shh").as("shh_b"),
            col("sz").as("sz_b")), Seq("id_b"))
          .filter((lit(1.0) + threshold) *
              size(array_intersect(col("shh_a"), col("shh_b"))).cast("double")
            >= lit(threshold) * (col("sz_a") + col("sz_b")).cast("double") - lit(1e-9))
          .select(col("id_a"), col("id_b"))
      case None => cand
    }
    scope.releaseAfter(candPruned
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Kernels.jaccardSim(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold))
  }

  /** EXACT directional containment join (Broder 1997, "On the
    * resemblance and containment of documents": containment
    * c(A, B) = |S(A) ∩ S(B)| / |S(A)|) — the ASYMMETRIC dedup face:
    * a truncated, excerpted, or quoted document is near-fully
    * contained in its source even when Jaccard is far below any
    * useful threshold (|A| ≪ |B| caps J at |A|/|B|). Emits one row
    * per ORDERED pair `(id_a, id_b, containment)` with
    * c(a → b) >= `threshold` and a ≠ b; a symmetric duplicate shows
    * up in both directions.
    *
    * Candidate generation adapts [[jaccardJoinExact]]'s prefix filter
    * to the one-sided measure — zero false negatives by construction:
    *  - only the CONTAINED side carries a prefix: if a pair shares
    *    none of A's `|A| - ceil(t·|A|) + 1` rarest shingles, the
    *    overlap is at most `ceil(t·|A|) - 1 < t·|A|`;
    *  - the container side posts ALL its shingles (a containment join
    *    has no size upper bound on B — that is the point);
    *  - lossless cuts while a pair is still ints: the one-sided size
    *    bound `|B| >= t·|A|` and the positional filter
    *    `1 + min(|A|-ra, |B|-rb) >= t·|A|` (ranks in the shared
    *    global rarest-first order, valid for the first common
    *    shingle), both loosened by 1e-9 so float rounding only ever
    *    ADMITS candidates.
    * The exact verify computes the containment on the literal shingle
    * sets. Skew shape: a frequent shingle posts on every container
    * but enters prefixes only of docs where everything else is rarer
    * still, so per-shingle join buckets stay `small × large`, not
    * `large × large`; AQE skew-join splits the residue.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"containment threshold: $threshold")
    require(shingleN >= 1, s"shingleN: $shingleN")
    val scope = new CacheScope
    val sh = scope.persist(containmentShingles(docs, idCol, textCol, shingleN))
    containmentPairsOn(sh, threshold, maxPairsPerDoc, scope)
  }

  /** `(id, sh, sz)` distinct-shingle frame for the containment family —
    * shared by [[containmentPairs]] and [[containmentDedup]] so the
    * dedup face shingles the corpus exactly once.
    */
  private[ml] def containmentShingles(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    Rebalance.spread(docs).select(col(idCol).as("id"),
      array_distinct(Kernels.wordShingles(col(textCol), shingleN)).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)

  /** [[containmentPairs]] pairing tail over a PRE-COMPUTED (and
    * scope-persisted) [[containmentShingles]] frame.
    */
  private[ml] def containmentPairsOn(
      sh: DataFrame,
      threshold: Double,
      maxPairsPerDoc: Int,
      scope: CacheScope): DataFrame = {
    val hashShingles = sh.sparkSession.conf
      .getOption("graft.ssjoin.hashShingles").forall(_.toBoolean)
    // hashed signature frame: the 8-byte shingle identities feed the
    // candidate pipeline AND the stage-1 verify prune below, so the
    // ~30-byte literal strings never enter a shuffle until the final
    // exact verify — which by then sees ~true-pair volume, not the
    // full candidate volume (measured at sf1: 18.4M candidates for
    // 632k true pairs; shipping two string arrays per CANDIDATE was
    // 90% of the row's runtime)
    val shH =
      if (hashShingles)
        Some(scope.persist(sh.select(col("id"), col("sz"),
          array_sort(transform(col("sh"), s => xxhash64(s))).as("shh"))))
      else None
    val posting = shH match {
      case Some(h) => h.select(col("id"), col("sz"), explode(col("shh")).as("shingle"))
      case None => sh.select(col("id"), col("sz"), explode(col("sh")).as("shingle"))
    }
    val dfTab = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("shingle"))
    // ranks in the global rarest-first order are shared by both sides:
    // persist once, derive the prefix and the full posting from it
    val ranked = scope.persist(posting.join(dfTab, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .select(col("id"), col("sz"), col("rn"), col("shingle")))
    val prefixA = ranked
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
      .select(col("id").as("id_a"), col("sz").as("sz_a"),
        col("rn").as("rn_a"), col("shingle"))
    val fullB = ranked.select(col("id").as("id_b"), col("sz").as("sz_b"),
      col("rn").as("rn_b"), col("shingle"))
    val cand = prefixA.join(fullB, Seq("shingle"))
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= lit(threshold) * col("sz_a") - lit(1e-9) &&
        lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
          >= lit(threshold) * col("sz_a") - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // stage-1 prune on the HASHED sets: no false negatives absent an
    // intra-doc collision (cross-doc collisions only INFLATE the hashed
    // overlap — same p < 1e-10 tolerance the prefix pipeline already
    // documents); the literal exact verify below is unchanged, it just
    // runs on ~true-pair volume instead of full candidate volume
    val candPruned = shH match {
      case Some(h) =>
        cand
          .join(h.select(col("id").as("id_a"), col("shh").as("shh_a"),
            col("sz").as("sz_a")), Seq("id_a"))
          .join(h.select(col("id").as("id_b"), col("shh").as("shh_b")), Seq("id_b"))
          .filter(size(array_intersect(col("shh_a"), col("shh_b"))).cast("double")
            >= lit(threshold) * col("sz_a").cast("double") - lit(1e-9))
          .select(col("id_a"), col("id_b"))
      case None => cand
    }
    capPairsPerDoc(scope.releaseAfter(candPruned
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          col("sz_a").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)),
      "id_a", "id_b", maxPairsPerDoc, "containmentPairs")
  }

  /** Containment dedup of one corpus: drop every document near-fully
    * CONTAINED (c >= `threshold`, [[containmentPairs]]) in a document
    * with a strictly larger shingle set; on equal set sizes (mutual
    * containment) the smallest id survives. Semantics are "drop all
    * contained docs", not winner-per-cluster: in a chain a ⊂ b ⊂ c
    * both a and b drop — every surviving doc's content remains
    * represented by a surviving container. Docs with an empty shingle
    * set are never dropped (nothing to compare).
    */
  def containmentDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"containment threshold: $threshold")
    require(shingleN >= 1, s"shingleN: $shingleN")
    // ONE shingle pass (r15): the sizes frame below previously re-ran the
    // wordShingles + array_distinct kernel over the whole corpus — the
    // single most expensive map stage in the pipeline — when the pairing
    // pipeline had already computed exactly `(id, sz)` in its persisted
    // shingle frame. Ids in `pairs` always come from that frame (sz > 0),
    // so deriving sizes from it joins identically: sz-0 docs can never
    // appear in pairs and are never dropped, same as before.
    val scope = new CacheScope
    val sh = scope.persist(containmentShingles(docs, idCol, textCol, shingleN))
    val pairs = containmentPairsOn(sh, threshold, Int.MaxValue, scope)
    val sizes = sh.select(col("id").as("__id"), col("sz").as("__sz"))
    val drops = pairs
      .join(sizes.select(col("__id").as("id_a"), col("__sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("sz_b")), Seq("id_b"))
      .filter(col("sz_a") < col("sz_b") ||
        (col("sz_a") === col("sz_b") && col("id_a") > col("id_b")))
      .select(col("id_a").as("__drop")).distinct()
    docs.join(drops, docs(idCol) === col("__drop"), "left_anti")
  }

  /** EXACT cross-frame containment probe: for every probe doc A and
    * corpus doc B, emit `(id_a, id_b, containment)` where
    * c(A → B) = |S(A) ∩ S(B)| / |S(A)| >= `threshold` — "is this
    * (benchmark question / incoming batch) document contained in some
    * corpus document?", the decontamination-triage and streaming-dedup
    * face of [[containmentPairs]].
    *
    * Scale shape — the probe side is SMALL (a benchmark, a micro-batch)
    * and the corpus is NOT: the probe's distinct-shingle posting
    * BROADCASTS into a hash join against the corpus posting, so corpus
    * text tokenizes map-side and NEVER shuffles; the only exchange is
    * the pair-level overlap count (three 8-byte columns). No prefix
    * filter is needed — the shared-shingle join IS the exact overlap
    * computation: overlap counts come from the grouped join output and
    * the division is by the probe's own set size. Zero false negatives
    * and zero false positives by construction.
    */
  def containmentJoinPairs(
      probe: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"containment threshold: $threshold")
    require(shingleN >= 1, s"shingleN: $shingleN")
    // literal shingle strings, not hashes: with the probe side broadcast
    // the shingle never crosses an exchange (the pair-level count
    // partial-aggregates before its shuffle), so literals cost nothing
    // and keep the overlap collision-free
    def posting(df: DataFrame, id: String, sz: String) = df
      .select(col(idCol).as(id),
        array_distinct(Kernels.wordShingles(col(textCol), shingleN)).as("__sh"))
      .withColumn(sz, size(col("__sh")))
      .filter(col(sz) > 0)
      .select(col(id), col(sz), explode(col("__sh")).as("shingle"))
    val probePost = posting(probe, "id_a", "sz_a")
    val corpusPost = posting(Rebalance.spread(corpus), "id_b", "sz_b")
    probePost.hint("broadcast").join(corpusPost, Seq("shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("sz_a")).as("sz_a"), count(lit(1)).as("__ov"))
      .select(col("id_a"), col("id_b"),
        (col("__ov").cast("double") / col("sz_a").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation (the standard Spark CC shape: labels converge in
    * O(diameter) join+agg rounds; dup clusters are tiny, so a small
    * iteration cap suffices — `maxIter` is a guard, convergence is
    * checked each round).
    *
    * Lifecycle note: on the distributed path the returned label frame
    * is `localCheckpoint`ed — its lineage is truncated at the stored
    * label blocks, so repeated actions re-read the blocks rather than
    * replaying the iterative loop, and the blocks free when the frame
    * is garbage-collected (no scope listener involved).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 20, driverThreshold: Long = 5000000,
      reliableCheckpoint: Boolean = false): DataFrame = {
    // the upstream pairs pipeline (LSH join + verify) is the expensive
    // part — persist so the count probe and the actual edge consumption
    // don't each recompute it from the raw corpus
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // near-dup pair sets are tiny relative to the corpus; below the
    // threshold a driver-side union-find beats dozens of iterative jobs.
    // Above it, fall through to the distributed label-propagation loop.
    // ONE action decides AND fetches: collect through a threshold+1
    // limit — ≤ threshold rows back means we hold the complete edge set
    // (the same rows a separate count+collect pair fetched in two
    // actions); threshold+1 rows means "too big", fall through without
    // ever materializing the overflow on the driver.
    val probe = fwd.limit(
      (driverThreshold min (Int.MaxValue - 1L)).toInt + 1).collect()
    if (probe.length <= driverThreshold) {
      val edgesLocal = probe.map(r => (r.getLong(0), r.getLong(1)))
      fwd.unpersist(blocking = false)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgesLocal.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keys.map(id => (id, find(id))).toSeq
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toDF("id", "label")
    }
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The loop state is LOCALLY CHECKPOINTED each round, not merely
    // persisted: iteration i's logical plan would otherwise embed every
    // previous round's plan, and analysis + AQE re-optimize that whole
    // growing tree per round even though execution reads cache — the
    // classic iterative-lineage blow-up (measured 2 s → 7 s per round by
    // iteration 5 on a 5k-edge graph). Truncation keeps every round's
    // plan constant-size: one join over two leaf RDDs. Blocks of retired
    // rounds free via the ContextCleaner when the frames are GC'd.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one shuffle per step: the old label rides the union as `old`
      // (null on neighbour rows; every id already has a labels row, so
      // min(old) is never null in the result), and the convergence
      // check is a tiny scan of the SAME materialized aggregate — not a
      // second join job per iteration
      val fromNeighbours = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"),
          lit(null).cast("long").as("old"))
      val propagated = labels.select(col("id"), col("label"), col("label").as("old"))
        .unionByName(fromNeighbours)
        .groupBy("id").agg(min("label").as("label"), min("old").as("old"))
        // materialized BEFORE the compress self-join below — the join
        // references this aggregate twice and would otherwise run it twice
        .localCheckpoint(eager = true)
      // r15 pointer doubling (path compression, guide §1.2 step 1): one
      // extra join per round replaces label(id) with label(label(id)).
      // Plain propagation moves a component's min ONE hop per round, so
      // rounds = graph diameter — the 100 TB scale killer on chain-shaped
      // near-dup clusters; compression doubles the reach per round and
      // converges in O(log diameter). Correctness: every label VALUE is
      // itself an id in the frame (labels start as ids and min() only
      // selects existing ids), labels only decrease toward the same
      // unique fixpoint (the component min), and the convergence check
      // still compares against the pre-round label — change == 0 means
      // the propagate step alone was the identity, i.e. the original
      // algorithm's fixpoint. Pinned by the q_components_dist oracle row
      // and the existing components specs.
      val lk = propagated.select(col("id").as("__lid"), col("label").as("__llab"))
      val next = propagated.join(lk, propagated("label") === col("__lid"), "left")
        .select(propagated("id"),
          coalesce(col("__llab"), propagated("label")).as("label"), col("old"))
        .localCheckpoint(eager = true)
      val changed = next.filter(col("label") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    fwd.unpersist(blocking = false)
    // (id, label) — label = min id of the component. Both checkpoint
    // flavors truncate the O(iter) join lineage so later actions
    // re-read stored labels instead of replaying the loop.
    //
    // Default (localCheckpoint): blocks live on executors; an executor
    // loss invalidates them and the truncated lineage cannot recompute
    // — the caller's job fails and retries connectedComponents.
    // Acceptable for batch jobs (the loop is minutes, not hours, even
    // at 100 TB pair volumes) and needs no checkpoint-dir config.
    //
    // reliableCheckpoint = true: labels go to the fault-tolerant
    // checkpoint dir (HDFS/S3) — an executor loss just re-reads the
    // files. The right flavor for LONG-RUNNING curation services whose
    // label frames outlive any single executor; requires
    // spark.sparkContext.setCheckpointDir, checked here so the
    // misconfiguration surfaces as one clear error, not a mid-job
    // SparkException after the propagation loop already ran.
    val result = labels.select("id", "label") // shed the loop's `old` column
    if (reliableCheckpoint) {
      require(pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliableCheckpoint requires spark.sparkContext.setCheckpointDir " +
          "(a fault-tolerant location, e.g. HDFS/S3)")
      result.checkpoint(eager = true)
    } else result.localCheckpoint(eager = true)
  }

  /** End-to-end near-dup removal: pairs → components → keep one doc per
    * cluster (the min id) + every unpaired doc.
    */
  def dedupedCorpus(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // reserved names, as in canonicalPerCluster: a docs column called
    // `id` or `label` is the caller's and must pass through
    val labels = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    docs.join(labels, docs(idCol) === labels("__cc_id"), "left")
      .filter(col("__cc_label").isNull || col("__cc_label") === docs(idCol))
      .drop("__cc_id", "__cc_label")
  }

  /** Quality-aware canonical selection: keep ONE doc per near-dup
    * cluster — the member with the HIGHEST `scoreCol` (ties → smallest
    * id), plus every unpaired doc. [[dedupedCorpus]]'s min-id rule is
    * the score-free special case; a production pipeline keeps the
    * best-quality member (longest, highest LM score, freshest crawl …),
    * not the numerically smallest id.
    *
    * Scale shape: components label only the PAIRED ids (the pair set is
    * tiny vs the corpus); the per-cluster winner is one `max_by` partial
    * aggregation on the label — the score rides the 16-byte (id, label)
    * frame, corpus text never shuffles; survivors resolve with two
    * joins against those small frames (Catalyst broadcasts them), the
    * [[dedupedCorpus]] posture.
    */
  def canonicalPerCluster(
      docs: DataFrame, idCol: String, scoreCol: String, pairs: DataFrame): DataFrame = {
    require(docs.columns.contains(scoreCol),
      s"canonicalPerCluster: no score column '$scoreCol'")
    // internal frames use reserved names so a docs column called `id` or
    // `label` (e.g. the embeddings table) can never alias into the join
    val labels = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    val winners = labels
      .join(docs.select(col(idCol).as("__cid"),
        col(scoreCol).cast("double").as("__cscore")), col("__cc_id") === col("__cid"))
      .groupBy(col("__cc_label"))
      .agg(max_by(col("__cc_id"), struct(col("__cscore"), -col("__cc_id")))
        .as("__keep_id"))
    docs.join(labels, docs(idCol) === labels("__cc_id"), "left")
      .join(winners, Seq("__cc_label"), "left")
      .filter(col("__cc_label").isNull || col(idCol) === col("__keep_id"))
      .drop("__cc_id", "__cc_label", "__keep_id")
  }

  /** Line-level boilerplate dedup (C4/RefinedWeb-style): remove every
    * line whose TRIMMED text appears in more than `maxDocFreq` distinct
    * documents (navigation chrome, footers, cookie banners), keeping each
    * doc's remaining lines in order. Docs reduced to nothing disappear.
    *
    * Scale shape: the doc-frequency count runs on (line-hash, id) —
    * 8-byte hashes, never line text — with a distinct + partial-agg
    * shuffle; the boilerplate table is small by construction (only lines
    * repeated across > maxDocFreq docs) so Catalyst broadcasts the anti
    * join; reassembly is one exchange on the doc id with per-doc bounded
    * state (a doc's own lines).
    */
  def dedupLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Int = 10): DataFrame = {
    val scope = new CacheScope
    val lines = scope.persist(Rebalance.spread(docs).select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("h", xxhash64(trim(col("line")))))
    val boiler = lines.filter(trim(col("line")) =!= "")
      .select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("docs"))
      .filter(col("docs") > maxDocFreq)
      .select("h")
    scope.releaseAfter(lines.join(boiler, Seq("h"), "left_anti")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("pos"), col("line")))).as("ls"))
      .select(col("id").as(idCol),
        concat_ws("\n", expr("transform(ls, x -> x.line)")).as(textCol)))
  }

  /** Duplicated-substring removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", at token-window
    * granularity): every `minLen`-token window whose token sequence
    * occurs in more than `maxDocFreq` distinct documents is a duplicated
    * span; overlapping spans union per document and the covered tokens
    * are removed. Window identity is a 64-bit rolling hash, NOT the
    * literal token sequence: two distinct windows collide with
    * probability ~N²/2⁶⁵ over N distinct windows corpus-wide, and a
    * collision removes legitimate text (there is no literal-string
    * verify here, unlike [[jaccardJoinExact]]). At ~10¹² windows that is
    * still ≪ 1 expected false span, but for larger corpora — or when
    * `keepFirst` makes a deletion unrecoverable — widen the hash or add
    * a post-hoc verify before trusting the removal as exact. Default removes ALL occurrences (the corpus-boilerplate
    * semantics of [[dedupLines]]); `keepFirst = true` elects the
    * corpus-wide first occurrence (min (doc, position)) of each window to
    * survive — Lee et al.'s keep-one semantics. Output: one row per
    * input doc with the cleaned text (whitespace normalized to single
    * spaces, `""` if fully covered) and `removed_tokens`.
    *
    * Scale shape: window identity is an 8-byte rolling hash computed in
    * one codegen pass ([[Kernels.tokenWindowHashes]]) — window strings
    * never materialize and never shuffle; the df pass is a partial-agg
    * groupBy on hashes; dup-window starts aggregate per doc (bounded by
    * the doc's own length) and span removal is a single kernel pass over
    * each doc, so the TEXT travels through exactly one join — no
    * token-level explode or (doc, pos) shuffle. Everything is linear in
    * corpus tokens (the suffix-array construction this approximates is
    * superlinear and centralized).
    */
  def dedupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 8,
      maxDocFreq: Int = 1,
      keepFirst: Boolean = false): DataFrame = {
    val scope = new CacheScope
    val base = Rebalance.spread(docs)
      .select(col(idCol).as("id"), col(textCol).as("text"))
    val wins = scope.persist(base.select(col("id"),
      posexplode(Kernels.tokenWindowHashes(col("text"), minLen)).as(Seq("s", "h"))))
    val dup = wins.select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("d"))
      .filter(col("d") > maxDocFreq)
      .select("h")
    val dupWins = wins.join(dup, Seq("h"), "left_semi")
    // keepFirst = Lee et al.'s semantics: the corpus-wide first occurrence
    // (min (doc, position)) of each duplicated window survives; owner
    // election is a partial agg + equi-join, not a per-hash window, so a
    // ubiquitous window cannot create a straggler sort task
    val removable =
      if (!keepFirst) dupWins
      else {
        val owners = dupWins.groupBy("h")
          .agg(min(struct(col("id"), col("s"))).as("o"))
        dupWins.join(owners, Seq("h"))
          .filter(!(col("id") === col("o.id") && col("s") === col("o.s")))
          .select("id", "s", "h")
      }
    val spans = removable
      .groupBy("id").agg(sort_array(collect_list(col("s"))).as("ss"))
    val noSpans = lit(Array.empty[Int])
    scope.releaseAfter(base.join(spans, Seq("id"), "left")
      .select(col("id").as(idCol),
        Kernels.removeSpans(col("text"), coalesce(col("ss"), noSpans), minLen).as(textCol),
        Kernels.coveredCount(coalesce(col("ss"), noSpans), minLen).as("removed_tokens")))
  }

  /** Embedding near-dup pairs: hyperplane-LSH bucket then exact cosine
    * within buckets.
    */
  def embeddingPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nPlanes: Int = 10,
      maxBucket: Int = 2000,
      saltCap: Int = 50000): DataFrame = {
    val b = Rebalance.spread(emb).select(col(idCol).as("id"), col(vecCol).as("v"),
      Kernels.hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))
    // same skew guards as the text LSH joins: embedding spaces cluster
    // (a hot LSH cell of boilerplate-adjacent vectors), so the bucket
    // self-join salts medium cells and drops degenerate ones
    val scope = new CacheScope
    scope.releaseAfter(bucketSelfJoin(b, "bucket", Seq("id", "v"), maxBucket, saltCap, scope)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Kernels.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means clusters replace LSH buckets — embeddings
    * are assigned to their nearest centroid map-side (no shuffle, the IVF
    * coarse-quantizer path), then exact cosine runs only within clusters.
    * Versus [[embeddingPairs]]: learned cells follow the data's density,
    * so recall is higher at the same candidate-pair budget; the salted
    * self-join bounds the dense-cluster blowup either way.
    */
  def semanticPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double = 0.95,
      maxBucket: Int = 2000,
      saltCap: Int = 50000): DataFrame = {
    val b = Rebalance.spread(emb).select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(Kernels.nearestCentroids(col(vecCol), centroids, 1), 1).as("cluster"))
    val scope = new CacheScope
    scope.releaseAfter(bucketSelfJoin(b, "cluster", Seq("id", "v"), maxBucket, saltCap, scope)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Kernels.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold))
  }

  /** End-to-end SemDeDup: train the quantizer, find semantic pairs, keep
    * one doc per duplicate component. Returns the deduplicated frame.
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nList: Int = 64,
      threshold: Double = 0.95): DataFrame = {
    val centroids = Ann.trainCentroids(emb, vecCol, nList)
    dedupedCorpus(emb, idCol, semanticPairs(emb, idCol, vecCol, centroids, threshold))
  }

  /** A K-Minimum-Values corpus sketch: the `k` smallest distinct
    * shingle hashes PLUS the `k` it was built with — fewer than `k`
    * values means the sketch holds the corpus's ENTIRE distinct-hash
    * set (`covers`), which is what lets [[kmvJaccard]] go exact.
    */
  final case class KmvSketch(values: Array[Long], k: Int) {
    def covers: Boolean = values.length < k
  }

  /** The `k` smallest DISTINCT 64-bit shingle hashes of a corpus
    * (Beyer et al. 2007, "On synopses for distinct-value estimation";
    * Broder's minhash family). One distinct-aggregate +
    * TakeOrderedAndProject per corpus; ≤ k longs to the driver,
    * whatever the corpus size.
    */
  def kmvSketch(docs: DataFrame, textCol: String,
      shingleN: Int = 3, k: Int = 4096): KmvSketch = {
    require(shingleN >= 1 && k >= 1, s"shingleN/k: $shingleN/$k")
    KmvSketch(
      Rebalance.spread(docs)
        .select(explode(Kernels.wordShingles(col(textCol), shingleN)).as("s"))
        .select(xxhash64(col("s")).as("h")).distinct()
        .orderBy(col("h").asc).limit(k)
        .collect().map(_.getLong(0)),
      k)
  }

  /** Corpus-level Jaccard similarity from two [[kmvSketch]]es — the
    * "are these two crawls worth cross-deduping" triage at sketch cost
    * instead of a cross-corpus join. When BOTH sketches cover their
    * corpora the sets are complete and the result is the EXACT Jaccard.
    * Otherwise, with kk = min usable size and M = the kk smallest
    * hashes of the merged sketches, Ĵ = |{h ∈ M present in both}| / kk
    * (standard error ≈ 1/√kk ≈ 0.016 at the default k = 4096; every
    * m ∈ M is ≤ both sketch maxima, so membership is decidable).
    */
  def kmvJaccard(a: KmvSketch, b: KmvSketch): Double = {
    require(a.values.nonEmpty && b.values.nonEmpty, "empty KMV sketch")
    val sa = a.values.toSet
    val sb = b.values.toSet
    if (a.covers && b.covers) {
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    } else {
      val kk = math.min(a.values.length, b.values.length)
      val m = (a.values ++ b.values).distinct.sorted.take(kk)
      m.count(h => sa.contains(h) && sb.contains(h)).toDouble / m.length
    }
  }

  /** One-call corpus similarity: sketch both corpora, estimate Jaccard
    * of their shingle sets.
    */
  def corpusJaccard(a: DataFrame, b: DataFrame, textCol: String,
      shingleN: Int = 3, k: Int = 4096): Double =
    kmvJaccard(kmvSketch(a, textCol, shingleN, k), kmvSketch(b, textCol, shingleN, k))
}
