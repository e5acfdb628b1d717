package graft.ml

import graft.functions.Similarity
import graft.plans.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set — exact,
  * one pass over the corpus, no shuffle of the corpus).
  * Scale path: IVF-style coarse quantization — deterministic LSH bucket
  * as the "centroid", probe only matching buckets.
  */
object Ann {

  /** Exact top-k neighbours for each query row. `queries` must be small
    * enough to broadcast (the usual case: a probe/eval set). The corpus
    * is scanned once; per corpus row we compute |queries| cosines
    * map-side, then a single shuffle on query id reduces to top-k.
    */
  def bruteForceKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.cosineSim(col("qv"), col("cv")).as("cosine"))
    // top-k per query via min_by-style partial agg would need a sketch;
    // row_number window is per-query-id partitioned (narrow skew surface)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF/LSH-bucketed ANN: corpus is pre-bucketed by hyperplane LSH (this
    * is the "index build" — persist `buildIndex`'s output partitioned by
    * bucket at real scale); queries probe their own bucket plus the
    * `nProbes − 1` cheapest perturbation buckets, chosen query-directed
    * (Lv et al. multi-probe LSH: flip the planes the query barely
    * cleared first). Recall < 1.0 by construction; it grows with
    * `nProbes` at a cost of ~nProbes/2^nPlanes of the corpus per query.
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 8): DataFrame =
    graft.operators.Rebalance.spread(corpus)
      .select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"),
      Kernels.hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))

  def lshKnn(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int = 10,
      nPlanes: Int = 8,
      nProbes: Int = 16): DataFrame = {
    // query-directed probe sequence, computed map-side on the small side;
    // probe buckets are distinct by construction (no dedup needed)
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(Kernels.hyperplaneProbes(col(vecCol), nPlanes, nProbes)).as("bucket"))
    val scored = probed.join(index, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- IVF (inverted-file) path ------------------------------------

  // Trained quantizers are model artifacts: train once per (corpus,
  // hyperparams), reuse across index build / search / recall eval —
  // exactly what a production ANN pipeline persists. Keyed on the
  // canonicalized logical plan, so the same source re-read through a
  // fresh DataFrame still hits. Deterministic fit (fixed seed, bounded
  // sample), so caching is pure memoization.
  // Memo key = (canonicalized plan OBJECT, hyperparam string). The plan
  // object, not its toString: LocalRelation.toString prints only the
  // schema, so two in-memory corpora with equal column names but
  // different data (or dimension!) would collide and hand one corpus
  // the other's centroids. Plan equality compares LocalRelation data
  // rows and file-relation identity — the semantic key we actually mean.
  private type QuantKey = (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String)

  // Bounded LRU (not an unbounded ConcurrentHashMap): plan-object keys
  // strongly reference LocalRelation DATA, so an unbounded memo in a
  // long-lived driver training over many in-memory corpora grows the
  // heap until OOM. 64 quantizers is far beyond any real session;
  // eviction just retrains.
  private def lruMemo[V](): java.util.Map[QuantKey, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[QuantKey, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[QuantKey, V]): Boolean =
          size > 64
      })

  /** Memoized lookup with the TRAINING outside the map mutex: holding
    * the lock through a minutes-long KMeans fit would serialize every
    * quantizer training AND block cached lookups for unrelated corpora.
    * A racing duplicate fit is benign — training is deterministic, so
    * both threads compute the identical value.
    */
  private def memoized[V](memo: java.util.Map[QuantKey, V], key: QuantKey)(
      compute: => V): V = {
    val hit = memo.get(key)
    if (hit != null) hit
    else { val v = compute; memo.put(key, v); v }
  }

  private val centroidMemo = lruMemo[Array[Array[Double]]]()

  /** Data-dependent LSH projection: `planes(p)` is a d-vector, bit p of
    * a bucket is `sign(v·planes(p) − offsets(p))`. Offsets carry the
    * training mean, so centering is free at hash time.
    */
  case class LshModel(planes: Array[Array[Double]], offsets: Array[Double]) {
    def nPlanes: Int = planes.length
  }

  private val lshMemo = lruMemo[LshModel]()

  /** Serializes driver-side LAPACK calls (breeze svd/eigSym). The
    * deployment's netlib backend falls back to F2J when the JNI native
    * is absent, and concurrent SVDs through that path fail
    * non-deterministically (breeze NotConvergedException observed when
    * the ITQ and OPQ trainers ran in overlapping eval jobs, r15). The
    * guarded sections are microseconds of driver math on ≤ d×d
    * matrices — the lock costs nothing, the flake it prevents poisons a
    * whole eval.
    */
  private val lapackLock = new Object

  private def rowToDoubles(r: org.apache.spark.sql.Row): Array[Double] =
    r.getSeq[Any](0).map {
      case f: Float  => f.toDouble
      case d: Double => d
      case x         => x.toString.toDouble
    }.toArray

  /** Train a PCA+ITQ projection (Gong & Lazebnik 2011, "Iterative
    * Quantization"): center a bounded corpus sample, project onto the
    * top-`nPlanes` principal directions, then learn the orthogonal
    * rotation that minimizes the binary quantization error
    * ‖B − VR‖² by alternating sign-assignment and orthogonal
    * Procrustes. Data-dependent planes split the corpus where its
    * variance actually lives — random hyperplanes waste bits on
    * directions the data never occupies, which is why ITQ recall at the
    * same scan fraction is roughly double (see `q_ann_gate`).
    *
    * Deterministic (seeded sample + seeded init), memoized like
    * [[trainCentroids]]. Model size: nPlanes × (d+1) doubles — rides
    * into the bucket kernels as expression constants.
    */
  def trainItq(
      corpus: DataFrame,
      vecCol: String,
      nPlanes: Int = 8,
      sampleN: Int = 20000,
      seed: Long = 42L,
      iters: Int = 50): LshModel = {
    val key = (corpus.queryExecution.analyzed.canonicalized,
      s"itq|$vecCol|$nPlanes|$sampleN|$seed|$iters")
    memoized(lshMemo, key) {
      import breeze.linalg.{svd, DenseMatrix}
      val rows = trainingSample(corpus, vecCol, sampleN, seed).collect()
        .map(rowToDoubles)
      require(rows.nonEmpty, "empty ITQ training sample")
      val n = rows.length
      val d = rows.head.length
      require(nPlanes <= d, s"nPlanes=$nPlanes exceeds vector dim $d")
      val mu = new Array[Double](d)
      rows.foreach { r =>
        var j = 0
        while (j < d) { mu(j) += r(j); j += 1 }
      }
      var j = 0
      while (j < d) { mu(j) /= n; j += 1 }
      val x = DenseMatrix.tabulate(n, d)((i, c) => rows(i)(c) - mu(c))
      // top-nPlanes principal directions of the sample covariance
      val es = lapackLock.synchronized {
        breeze.linalg.eigSym((x.t * x) / n.toDouble)
      }
      val order = (0 until d).sortBy(i => -es.eigenvalues(i))
      val p = DenseMatrix.tabulate(d, nPlanes)((r, c) => es.eigenvectors(r, order(c)))
      val v = x * p // n × nPlanes
      // seeded random orthogonal init (SVD-orthogonalized gaussian)
      val rnd = new scala.util.Random(seed)
      val g = DenseMatrix.tabulate(nPlanes, nPlanes)((_, _) => rnd.nextGaussian())
      val s0 = lapackLock.synchronized { svd(g) }
      var rot = s0.U * s0.Vt
      var it = 0
      while (it < iters) {
        val b = (v * rot).map(e => if (e >= 0) 1.0 else -1.0)
        val s = lapackLock.synchronized { svd(v.t * b) } // Procrustes: R = U·Vᵀ of VᵀB
        rot = s.U * s.Vt
        it += 1
      }
      val w = p * rot // d × nPlanes; plane p = column p
      val planes = Array.tabulate(nPlanes)(c => Array.tabulate(d)(r => w(r, c)))
      val offsets = planes.map { pl =>
        var s = 0.0
        var k = 0
        while (k < d) { s += pl(k) * mu(k); k += 1 }
        s
      }
      LshModel(planes, offsets)
    }
  }

  /** Index over learned (ITQ) planes — the data-dependent counterpart of
    * [[buildIndex]]. Same shape: one bucket per corpus row, map-side.
    */
  def buildItqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, model: LshModel): DataFrame =
    graft.operators.Rebalance.spread(corpus)
      .select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"),
      Kernels.learnedBucket(col(vecCol), model.planes, model.offsets).as("bucket"))

  /** Multi-probe search over a learned-plane index (the [[lshKnn]]
    * counterpart — same join/rank shape, margins from the trained
    * projection).
    */
  def itqKnn(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: LshModel,
      k: Int = 10,
      nProbes: Int = 16): DataFrame = {
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(Kernels.learnedProbes(col(vecCol), model.planes, model.offsets, nProbes))
        .as("bucket"))
    val scored = probed.join(index, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** (k, recall) of `approx` against `exact` (both (query_id,
    * neighbour_id) sets). `ownedExact` marks a frame this call cached
    * and must release.
    */
  private def recallFrame(
      exact: DataFrame, approx: DataFrame, k: Int, ownedExact: Boolean): DataFrame =
    try {
      val hits = exact.intersect(approx).count().toDouble
      val total = exact.count().toDouble
      val spark = exact.sparkSession
      import spark.implicits._
      Seq((k, if (total == 0) 0.0 else hits / total)).toDF("k", "recall")
    } finally if (ownedExact) { exact.unpersist(blocking = false); () }

  /** The exact cosine top-k set for recall evals — compute ONCE and pass
    * to each family's `recallAtK` via `exactKnn` when evaluating several
    * methods against the same (corpus, queries): the gate's five evals
    * then pay one brute-force pass, not five.
    */
  def exactCosineKnn(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    bruteForceKnn(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbour_id"))

  /** Exact squared-L2 top-k set (the IVFADC family's ground truth —
    * ties to cosine only for normalized vectors).
    */
  def exactL2Knn(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2").asc, col("neighbour_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.l2Dist(col("qv"), col("cv")).as("l2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbour_id"))
  }

  /** Recall@k of the learned-plane index against exact brute force.
    * `exactKnn`: a pre-computed (cached) [[exactCosineKnn]] frame to
    * share across evals; null computes it here.
    */
  def itqRecallAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nPlanes: Int = 8,
      nProbes: Int = 16,
      exactKnn: DataFrame = null): DataFrame = {
    val model = trainItq(corpus, vecCol, nPlanes)
    val owned = exactKnn == null
    val exact = if (owned) exactCosineKnn(corpus, queries, idCol, vecCol, k).cache()
                else exactKnn
    val approx = itqKnn(buildItqIndex(corpus, idCol, vecCol, model),
      queries, idCol, vecCol, model, k, nProbes)
      .select(col("query_id"), col("neighbour_id"))
    recallFrame(exact, approx, k, owned)
  }

  /** Persist a learned-plane LSH index with its OWN projection in a
    * `_planes` side table — the [[writeIvfIndex]] self-containment rule:
    * probing a stored index with RE-TRAINED planes hashes queries into
    * different buckets than the stored vectors and recall collapses
    * silently. Partitioned by bucket so a probe reads only
    * nProbes/2^nPlanes of the files.
    */
  def writeLshIndex(index: DataFrame, path: String, model: LshModel = null): Unit = {
    index.write.mode("overwrite").partitionBy("bucket").parquet(path)
    val spark = index.sparkSession
    val side = new org.apache.hadoop.fs.Path(path + "/_planes")
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (model != null) {
      import spark.implicits._
      model.planes.zipWithIndex.toSeq
        .map { case (pl, i) => (i, pl.toSeq, model.offsets(i)) }
        .toDF("plane_id", "plane", "offset")
        .coalesce(1).write.mode("overwrite").parquet(path + "/_planes")
    } else if (fs.exists(side)) {
      // a rewrite WITHOUT the model must not leave a stale projection
      // behind for readLshModel to silently pair with the new vectors
      fs.delete(side, true)
    }
  }

  /** The projection a stored learned-plane index was hashed with. */
  def readLshModel(
      spark: org.apache.spark.sql.SparkSession, path: String): LshModel = {
    val p = new org.apache.hadoop.fs.Path(path + "/_planes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no _planes under $path: the index was written without its projection " +
        "(writeLshIndex(index, path, model)) — probing it with re-trained " +
        "planes would hash into the wrong buckets")
    val rows = spark.read.parquet(path + "/_planes")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    LshModel(rows.map(_._2), rows.map(_._3))
  }

  /** Deterministic, partition-UNbiased quantizer training sample: order by
    * a seeded 64-bit hash of the vector and keep the smallest `n`. A bare
    * `limit(n)` returns whatever the first-scanned partitions hold — at
    * 100 TB that is one or two parquet files, a temporally/spatially
    * biased slice that mis-shapes every k-means cell downstream. Hash
    * order makes every row compete independently of its file position,
    * and `orderBy + limit` plans as TakeOrderedAndProject (per-partition
    * top-n, driver merge of n) — one full scan, NO global sort shuffle.
    * Seed-stable, so the quantizer memo keys stay valid.
    */
  private[ml] def trainingSample(
      corpus: DataFrame, vecCol: String, n: Int, seed: Long): DataFrame =
    corpus.select(col(vecCol))
      // secondary key: duplicate vectors hash identically, so a
      // hash-only order leaves the sample's tail nondeterministic
      // across sessions on dup-heavy corpora; the vector itself
      // (arrays are orderable) makes the total order deterministic
      .orderBy(xxhash64(col(vecCol), lit(seed)).asc, col(vecCol).asc)
      .limit(n)

  /** Train the IVF coarse quantizer: k-means over a corpus sample.
    * Centroids are tiny (nList × dim doubles) — they come back to the
    * driver and ride into [[buildIvfIndex]]/[[ivfKnn]] as expression
    * constants, so assignment/probing is pure map-side.
    */
  def trainCentroids(
      corpus: DataFrame,
      vecCol: String,
      nList: Int = 64,
      sampleN: Int = 20000,
      seed: Long = 42L,
      maxIter: Int = 10,
      initMode: String = "random"): Array[Array[Double]] = {
    val key = (corpus.queryExecution.analyzed.canonicalized,
      s"$vecCol|$nList|$sampleN|$seed|$maxIter|$initMode")
    memoized(centroidMemo, key) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val sample = trainingSample(corpus, vecCol, sampleN, seed)
        .select(array_to_vector(col(vecCol)).as("features"))
      // default random init, not k-means||: the parallel init alone costs
      // several passes, and a coarse quantizer (FAISS-style) doesn't need
      // it — cell boundaries matter, cell identity doesn't. kmeansCluster
      // overrides to k-means|| because for CLUSTERING a doubled/missed
      // blob is a wrong answer, not a recall wobble.
      val model = new KMeans().setK(nList).setSeed(seed).setMaxIter(maxIter)
        .setInitMode(initMode).setTol(1e-3).fit(sample)
      model.clusterCenters.map(_.toArray)
    }
  }

  /** Document clustering over an embedding column — the user-facing
    * face of the coarse quantizer (topic bucketing, cluster-balanced
    * sampling, SemDeDup-style cluster-then-dedup): k-means centroids
    * from a bounded deterministic sample ([[trainCentroids]] — seeded,
    * memoized), then every vector assigned map-side through the exact
    * two-level [[graft.plans.Kernels.nearestCentroids]] index — one
    * narrow pass, no shuffle, ~O(n·√k) distance evals. Output = input
    * columns + `cluster` (0-based centroid index).
    */
  def kmeansCluster(
      corpus: DataFrame, vecCol: String, k: Int,
      sampleN: Int = 20000, seed: Long = 42L, maxIter: Int = 10): DataFrame = {
    require(k > 0, s"kmeansCluster: k=$k")
    require(!corpus.columns.contains("cluster"),
      "kmeansCluster: input already has a 'cluster' column — rename it first")
    val cents = trainCentroids(corpus, vecCol, nList = k, sampleN = sampleN,
      seed = seed, maxIter = maxIter, initMode = "k-means||")
    graft.operators.Rebalance.spread(corpus).withColumn("cluster",
      element_at(Kernels.nearestCentroids(col(vecCol), cents, 1), 1))
  }

  /** Cluster-size report for [[kmeansCluster]] output: `(cluster, n,
    * frac)`, every cluster present (zero-count clusters included via a
    * broadcast spine) — the balance diagnostic before cluster-based
    * sampling. One partial-agg exchange on ≤ k keys.
    */
  def clusterSizes(clustered: DataFrame, k: Int): DataFrame = {
    val total = clustered.count().toDouble
    val counts = clustered.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val spine = clustered.sparkSession.range(k)
      .select(col("id").cast("int").as("cluster"))
    broadcast(spine).join(counts, Seq("cluster"), "left_outer")
      .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("n"), lit(0L)) / total).as("frac"))
  }

  /** Data-adaptive inverted-list count: target ~8 vectors per list in
    * the small-corpus regime (finer cells at the same probed FRACTION
    * are what lift candidate recall — probing 32 of 256 lists beats 4 of
    * 32 at identical scan cost, because the probe ranking gets 8× the
    * granularity), capped by the 16·√n large-corpus rule (FAISS-style
    * guidance: past √n-scale list counts, quantizer training and probe
    * ranking costs dominate while recall gains flatten). At 1e9 vectors
    * this yields ~5×10⁵ lists — a standard production IVF shape.
    */
  def adaptiveNList(n: Long): Int = {
    val byFill = n / 8
    val bySqrt = (16.0 * math.sqrt(math.max(n, 1).toDouble)).toLong
    math.max(16L, math.min(byFill, bySqrt)).toInt
  }

  /** IVF index: every corpus vector assigned to its nearest centroid's
    * inverted list — one narrow map-side pass (no shuffle). At real scale
    * write this out `partitionBy("list")`: probing then prunes to
    * nProbe/nList of the files.
    */
  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    // assignment is O(nList·d) flops per input byte — a
    // monolith corpus file must not pin the whole build to one core
    graft.operators.Rebalance.spread(corpus)
      .select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"),
      element_at(Kernels.nearestCentroids(col(vecCol), centroids, 1), 1).as("list"))

  /** Persist an IVF (or IVFADC) index partitioned by inverted list —
    * the on-disk shape a large ANN corpus needs: a probe of `nProbe`
    * lists then READS only nProbe/nList of the files. Spark prunes the
    * partitions two ways: statically for `filter(col("list").isin(...))`,
    * and via dynamic partition pruning when [[ivfKnn]]'s probe join
    * broadcasts the (tiny) query-probe side against the partition
    * column. `IvfIndexSpec`-style assertions live in `DedupCorpusSpec`.
    *
    * Pass `centroids` to make the index SELF-CONTAINED: they are stored
    * in a `_centroids` side table (the leading underscore keeps Spark's
    * parquet reader from mixing it into the index scan), and a fresh
    * session reads them back with [[readIvfCentroids]]. Probing a
    * stored index with RE-TRAINED centroids is the silent failure mode
    * this closes: a new session's quantizer lands elsewhere, probes the
    * wrong lists, and recall collapses with no error.
    */
  def writeIvfIndex(index: DataFrame, path: String,
      centroids: Array[Array[Double]] = null): Unit = {
    index.write.mode("overwrite").partitionBy("list").parquet(path)
    val spark = index.sparkSession
    val side = new org.apache.hadoop.fs.Path(path + "/_centroids")
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (centroids != null) {
      import spark.implicits._
      centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("list", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")
    } else if (fs.exists(side)) {
      // an index rewritten WITHOUT its quantizer must not leave the
      // previous build's _centroids behind — under dynamic partition
      // overwrite a re-trained rebuild would silently pair new vectors
      // with the STALE stored quantizer and probe the wrong lists
      fs.delete(side, true)
    }
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The quantizer a stored index was built against. Errors clearly on
    * an index written without centroids — search it only with the
    * caller-kept originals.
    */
  def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] = {
    // Hadoop FS, not java.io.File: the index lives wherever the Spark
    // writers put it (HDFS/S3/local) — a local-only existence check
    // would report "no centroids" on exactly the cluster deployments
    // the self-contained read exists for
    val p = new org.apache.hadoop.fs.Path(path + "/_centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no _centroids under $path: the index was written without its quantizer " +
        "(writeIvfIndex(index, path, centroids)) — searching it with re-trained " +
        "centroids would probe the wrong lists")
    spark.read.parquet(path + "/_centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
  }

  /** Incremental ingestion: assign a new batch with the index's OWN
    * stored quantizer and append it to the partitioned files — the
    * continuous-ingestion shape (the [[graft.ml.Dedup.minhashIndex]]
    * cousin for ANN). No re-clustering, no rewrite of existing lists;
    * only the appended lists' files are touched. Centroids drift as the
    * corpus grows — re-train + rebuild when recall degrades, like any
    * IVF deployment.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    val centroids = readIvfCentroids(spark, path)
    buildIvfIndex(corpus, idCol, vecCol, centroids)
      .write.mode("append").partitionBy("list").parquet(path)
  }

  /** Incremental SQ ingestion: encode a new batch with the index's OWN
    * stored grid ([[readSqParams]]) and append. The grid is the
    * training corpus's per-dim [min, max] — out-of-range values clamp
    * to the edges (inherent SQ behavior); re-train + rebuild when the
    * distribution drifts, like any scalar quantizer deployment.
    */
  def appendToSqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    // IVFSQ indexes ALSO carry _sqparams, so readSqParams alone would
    // succeed here and this append would drop flat (id, code) files
    // into a list-partitioned layout — appended rows land with a null
    // `list`, invisible to every probe, with no error anywhere
    val cPath = new org.apache.hadoop.fs.Path(path + "/_centroids")
    require(!cPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cPath),
      s"_centroids under $path: this is a list-partitioned IVFSQ index — " +
        "append through appendToIvfSqIndex so new rows are assigned to " +
        "inverted lists, not written flat")
    val p = readSqParams(spark, path)
    buildSqIndex(corpus, idCol, vecCol, p).write.mode("append").parquet(path)
  }

  /** Compact a continuously-appended list-partitioned index (IVF,
    * IVFSQ, or IVFADC) in place: every [[appendToIvfIndex]]-family
    * batch adds one file per touched list, so after many micro-batches
    * a probe opens dozens of tiny files per list. This rewrites each
    * list to ONE file (hash-repartition on `list` — each list lands
    * wholly in one task) and swaps the rewrite in, carrying every
    * sidecar (`_centroids`/`_sqparams`/`_codebooks`/`_rotation`)
    * across untouched. Row contents are identical, so search results
    * are bit-identical before/after (oracled: q_ann_compact). The
    * final delete+rename swap is NOT atomic — run compaction offline
    * or during an ingestion pause, like any filesystem-level compactor
    * without a manifest layer.
    */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact")
    // write the rewrite NEXT TO the index (reading and overwriting the
    // same path would delete the input mid-scan), then swap
    spark.read.parquet(path).repartition(col("list"))
      .write.mode("overwrite").partitionBy("list").parquet(tmp.toString)
    Seq("_centroids", "_sqparams", "_codebooks", "_rotation").foreach { side =>
      val sp = new org.apache.hadoop.fs.Path(p, side)
      if (fs.exists(sp)) fs.rename(sp, new org.apache.hadoop.fs.Path(tmp, side))
    }
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"compactIvfIndex: rename $tmp -> $p failed")
  }

  /** The IVFSQ twin of [[appendToSqIndex]]: assign with the stored
    * coarse quantizer AND encode with the stored grid, append to the
    * list-partitioned files.
    */
  def appendToIvfSqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    val centroids = readIvfCentroids(spark, path)
    val p = readSqParams(spark, path)
    buildIvfSqIndex(corpus, idCol, vecCol, centroids, p)
      .write.mode("append").partitionBy("list").parquet(path)
  }

  /** Persist an IVFADC (PQ) index SELF-CONTAINED: the coarse quantizer
    * (`_centroids`, [[readIvfCentroids]]-compatible), the sub-codebooks
    * (`_codebooks`) and — when OPQ-trained — the rotation (`_rotation`)
    * ride as side tables next to the list-partitioned code files. Same
    * rule as [[writeIvfIndex]]: an 8-byte code is meaningless without
    * the exact artifacts it was quantized against, and re-trained
    * artifacts would decode garbage distances with no error anywhere.
    */
  def writePqIndex(index: DataFrame, path: String,
      coarse: Array[Array[Double]], flatCodebooks: Array[Array[Double]],
      rot: Array[Array[Double]] = null): Unit = {
    writeIvfIndex(index, path, coarse)
    val spark = index.sparkSession
    import spark.implicits._
    flatCodebooks.zipWithIndex.toSeq.map { case (cb, i) => (i, cb.toSeq) }
      .toDF("subspace", "flat")
      .coalesce(1).write.mode("overwrite").parquet(path + "/_codebooks")
    val side = new org.apache.hadoop.fs.Path(path + "/_rotation")
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rot != null) {
      rot.zipWithIndex.toSeq.map { case (row, i) => (i, row.toSeq) }
        .toDF("row_id", "row")
        .coalesce(1).write.mode("overwrite").parquet(path + "/_rotation")
    } else if (fs.exists(side)) {
      // plain-PQ rewrite over a previous OPQ index: the stale rotation
      // must go, or a reader would rotate residuals the codes never saw
      fs.delete(side, true)
    }
  }

  /** The quantizer artifacts of a stored PQ index:
    * (coarse centroids, flat codebooks, rotation-or-null).
    */
  def readPqArtifacts(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Double]], Array[Array[Double]]) = {
    val coarse = readIvfCentroids(spark, path)
    val cbPath = new org.apache.hadoop.fs.Path(path + "/_codebooks")
    val fs = cbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cbPath),
      s"no _codebooks under $path: the index was written without its " +
        "sub-codebooks (writePqIndex) — ADC against re-trained codebooks " +
        "would rank garbage distances")
    val cb = spark.read.parquet(path + "/_codebooks")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val rotPath = new org.apache.hadoop.fs.Path(path + "/_rotation")
    val rot =
      if (!fs.exists(rotPath)) null
      else spark.read.parquet(path + "/_rotation")
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
    (coarse, cb, rot)
  }

  /** IVF search: probe the `nProbe` nearest inverted lists per query,
    * exact cosine within the probed lists, top-k. Cost ~ nProbe/nList of
    * brute force; recall grows with nProbe (the classic IVF trade,
    * Jégou et al., IVFADC minus the PQ compression).
    */
  def ivfKnn(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      k: Int = 10,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(Kernels.nearestCentroids(col(vecCol), centroids, nProbe)).as("list"))
    // excludeSelf = true is corpus self-search (a doc is trivially its
    // own neighbour); pass false when query and corpus ids come from
    // DIFFERENT id spaces — an accidental value collision would
    // silently drop a legitimate neighbour
    val joined = probed.join(index, Seq("list"))
    val scored = (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbour_id"))
                  else joined)
      .select(col("query_id"), col("neighbour_id"),
        Kernels.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbour_id").asc)
    // a (query, neighbour) pair can only appear once — lists partition
    // the corpus — so no distinct needed (unlike multi-probe LSH)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- IVFADC: product quantization on top of IVF -------------------
  //
  // Jégou, Douze, Schmid 2011 ("Product quantization for nearest
  // neighbor search"): store each vector as its coarse list id + an
  // m-byte code of the RESIDUAL (vec − coarse centroid), quantized per
  // subspace against a 256-entry sub-codebook. At 100 TB this is the
  // memory story: a 64-dim float vector (256 B) becomes 8 B + a list id,
  // and search cost per candidate is m table lookups (ADC), no float ops.

  /** Train PQ sub-codebooks over residuals of a corpus sample. Runs
    * Lloyd's locally on the collected sample (≤ `sampleN` rows — the
    * same driver-side footprint as the coarse centroids): m × codeK ×
    * (d/m) doubles out. Deterministic (seeded init, fixed iterations).
    */
  private val pqMemo = lruMemo[Array[Array[Double]]]()

  /** 64-bit content hash of a centroid set — the PQ memo key must see
    * the coarse centroids' VALUES (codebooks are trained on residuals
    * against them), not just their shape: two quantizers of equal
    * (nList, dim) trained on different corpora/samples would otherwise
    * collide and hand back codebooks fit to the wrong residual space.
    */
  private def centroidContentHash(cs: Array[Array[Double]]): Long =
    cs.foldLeft(1125899906842597L)((h, row) =>
      row.foldLeft(h * 31 + row.length)((a, v) =>
        a * 1099511628211L + java.lang.Double.doubleToLongBits(v)))

  def trainPq(
      corpus: DataFrame,
      vecCol: String,
      coarse: Array[Array[Double]],
      m: Int = 8,
      codeK: Int = 256,
      sampleN: Int = 20000,
      seed: Long = 42L,
      maxIter: Int = 10): Array[Array[Double]] = {
    val key = (corpus.queryExecution.analyzed.canonicalized,
      s"$vecCol|${coarse.length}|${coarse.head.length}|${centroidContentHash(coarse)}" +
        s"|$m|$codeK|$sampleN|$seed|$maxIter")
    memoized(pqMemo, key)(trainPqUncached(
      corpus, vecCol, coarse, m, codeK, sampleN, seed, maxIter))
  }

  /** Bounded training sample as residuals against each vector's nearest
    * coarse centroid (the IVFADC quantization space).
    */
  private def sampleResiduals(
      corpus: DataFrame, vecCol: String, coarse: Array[Array[Double]],
      m: Int, sampleN: Int, seed: Long): Array[Array[Double]] = {
    val rows = trainingSample(corpus, vecCol, sampleN, seed).collect()
      .map(rowToDoubles)
    require(rows.nonEmpty, "empty PQ training sample")
    val d = rows.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    require(coarse.head.length == d,
      s"coarse centroid dim ${coarse.head.length} != corpus dim $d — " +
        "centroids trained on a different corpus?")
    rows.map { v =>
      var best = 0
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < coarse.length) {
        var dist = 0.0
        var j = 0
        while (j < d) { val df = v(j) - coarse(ci)(j); dist += df * df; j += 1 }
        if (dist < bestD) { bestD = dist; best = ci }
        ci += 1
      }
      val r = new Array[Double](d)
      var j = 0
      while (j < d) { r(j) = v(j) - coarse(best)(j); j += 1 }
      r
    }
  }

  /** Per-subspace Lloyd refinement over residual points: m independent
    * k-means runs, trained concurrently on driver cores. `warm` (from a
    * previous OPQ alternation step) seeds the centroids instead of the
    * random init. Returns flat row-major codeK×dsub codebooks.
    */
  private def lloydSubspaces(
      residuals: Array[Array[Double]], m: Int, codeK: Int, seed: Long,
      maxIter: Int, warm: Array[Array[Double]] = null): Array[Array[Double]] = {
    val d = residuals.head.length
    val dsub = d / m
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val subFutures = (0 until m).map { i => Future {
      val pts = residuals.map(_.slice(i * dsub, (i + 1) * dsub))
      val k = math.min(codeK, pts.length)
      // init: warm-start centroids when alternating (OPQ), else distinct
      // sample points (k-means++ unnecessary for a coarse sub-quantizer)
      val centroids =
        if (warm != null) Array.tabulate(k)(c => warm(i).slice(c * dsub, (c + 1) * dsub))
        else {
          val rnd = new scala.util.Random(seed + i)
          rnd.shuffle(pts.indices.toVector).take(k).map(pts(_).clone).toArray
        }
      val assign = new Array[Int](pts.length)
      var iter = 0
      while (iter < maxIter) {
        var p = 0
        while (p < pts.length) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var dist = 0.0
            var j = 0
            while (j < dsub) { val df = pts(p)(j) - centroids(c)(j); dist += df * df; j += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          assign(p) = best
          p += 1
        }
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        p = 0
        while (p < pts.length) {
          val c = assign(p)
          counts(c) += 1
          var j = 0
          while (j < dsub) { sums(c)(j) += pts(p)(j); j += 1 }
          p += 1
        }
        var c = 0
        while (c < k) { // empty cells keep their previous centroid
          if (counts(c) > 0) {
            var j = 0
            while (j < dsub) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
          }
          c += 1
        }
        iter += 1
      }
      // flatten row-major codeK×dsub (pad to codeK with copies if k < codeK)
      val flat = new Array[Double](codeK * dsub)
      var c = 0
      while (c < codeK) {
        val src = centroids(c % k)
        var j = 0
        while (j < dsub) { flat(c * dsub + j) = src(j); j += 1 }
        c += 1
      }
      flat
    } }
    Await.result(Future.sequence(subFutures), Duration.Inf).toArray
  }

  private def trainPqUncached(
      corpus: DataFrame,
      vecCol: String,
      coarse: Array[Array[Double]],
      m: Int,
      codeK: Int,
      sampleN: Int,
      seed: Long,
      maxIter: Int): Array[Array[Double]] =
    lloydSubspaces(
      sampleResiduals(corpus, vecCol, coarse, m, sampleN, seed),
      m, codeK, seed, maxIter)

  /** PQ reconstruction of a residual point from the flat codebooks —
    * the quantized vector the codes stand for.
    */
  private def pqReconstruct(
      r: Array[Double], cb: Array[Array[Double]], m: Int, codeK: Int): Array[Double] = {
    val d = r.length
    val dsub = d / m
    val out = new Array[Double](d)
    var i = 0
    while (i < m) {
      val flat = cb(i)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < codeK) {
        var dist = 0.0
        var j = 0
        while (j < dsub) {
          val df = r(i * dsub + j) - flat(c * dsub + j)
          dist += df * df
          j += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      var j = 0
      while (j < dsub) { out(i * dsub + j) = flat(best * dsub + j); j += 1 }
      i += 1
    }
    out
  }

  private val opqMemo = lruMemo[(Array[Array[Double]], Array[Array[Double]])]()

  /** Optimized Product Quantization (Ge et al. 2013, OPQ-NP): learn an
    * orthogonal rotation of the residual space jointly with the
    * sub-codebooks, alternating (a) Lloyd refinement of the codebooks on
    * the rotated residuals and (b) an orthogonal-Procrustes solve of the
    * rotation against the current reconstruction. Rotating before the
    * subspace split decorrelates the subspaces and balances their
    * variance, cutting ADC quantization distortion — plain PQ chops the
    * vector on arbitrary axis boundaries, which is why its recall at the
    * same scan fraction lags (see `q_ann_gate`).
    *
    * Returns `(rotation, flatCodebooks)` where `rotation` is in KERNEL
    * convention (row-major matrix applied to the residual:
    * rotated = M·r, i.e. M = Rᵀ of the math above) — pass both straight
    * to [[buildPqIndex]]/[[pqKnn]]/[[pqKnnRerank]]. Deterministic and
    * memoized like [[trainPq]].
    */
  def trainOpq(
      corpus: DataFrame,
      vecCol: String,
      coarse: Array[Array[Double]],
      m: Int = 8,
      codeK: Int = 256,
      sampleN: Int = 20000,
      seed: Long = 42L,
      opqIters: Int = 8,
      lloydIter: Int = 4,
      finalIter: Int = 10): (Array[Array[Double]], Array[Array[Double]]) = {
    val key = (corpus.queryExecution.analyzed.canonicalized,
      s"opq|$vecCol|${coarse.length}|${coarse.head.length}|${centroidContentHash(coarse)}" +
        s"|$m|$codeK|$sampleN|$seed|$opqIters|$lloydIter|$finalIter")
    memoized(opqMemo, key) {
      import breeze.linalg.{svd, DenseMatrix}
      val residuals = sampleResiduals(corpus, vecCol, coarse, m, sampleN, seed)
      val n = residuals.length
      val d = residuals.head.length
      val x = DenseMatrix.tabulate(n, d)((i, j) => residuals(i)(j))
      var rot = DenseMatrix.eye[Double](d)
      var cb: Array[Array[Double]] = null
      var it = 0
      while (it < opqIters) {
        val xr = x * rot
        val rotated = Array.tabulate(n)(i => Array.tabulate(d)(j => xr(i, j)))
        cb = lloydSubspaces(rotated, m, codeK, seed, lloydIter, cb)
        // Procrustes: R = U·Vᵀ of Xᵀ·Y, Y = quantized reconstruction
        val y = DenseMatrix.tabulate(n, d) { (i, j) => 0.0 }
        var i = 0
        while (i < n) {
          val rec = pqReconstruct(rotated(i), cb, m, codeK)
          var j = 0
          while (j < d) { y(i, j) = rec(j); j += 1 }
          i += 1
        }
        val s = lapackLock.synchronized { svd(x.t * y) }
        rot = s.U * s.Vt
        it += 1
      }
      // final deeper Lloyd pass at the converged rotation
      val xr = x * rot
      val rotated = Array.tabulate(n)(i => Array.tabulate(d)(j => xr(i, j)))
      cb = lloydSubspaces(rotated, m, codeK, seed, finalIter, cb)
      // kernel convention: rotated = M·r with M = Rᵀ (training rotates
      // row-vectors, the kernel rotates column-vectors)
      val kernelRot = Array.tabulate(d)(i => Array.tabulate(d)(j => rot(j, i)))
      (kernelRot, cb)
    }
  }

  /** PQ index: (id, coarse list, m-byte residual code) — one map-side
    * pass, codebooks as expression constants. Persist this partitioned
    * by `list` at real scale; it is ~30× smaller than the raw vectors.
    */
  def buildPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]], flatCodebooks: Array[Array[Double]],
      codeK: Int = 256, rot: Array[Array[Double]] = null): DataFrame = {
    graft.operators.Rebalance.spread(corpus)
      .withColumn("list", element_at(Kernels.nearestCentroids(col(vecCol), coarse, 1), 1))
      .select(col(idCol).as("neighbour_id"), col("list"),
        Kernels.pqEncode(col(vecCol), col("list"), coarse, flatCodebooks, codeK, rot)
          .as("code"))
  }

  /** IVFADC search, fully distributed: the query table broadcast-joins
    * the index on the probed list (queries never collect to the driver —
    * a query TABLE is a first-class input, not an eval artifact), and the
    * ADC distance is computed per candidate by a codegen'd kernel with
    * the codebooks as expression constants. Distances are squared L2
    * over residuals — the PQ-approximated L2 (ties to cosine only for
    * normalized vectors; documented).
    */
  /** `broadcastQueries` fits the usual shape (a probe/eval set small
    * enough to ship to every executor — the corpus side then never
    * shuffles). For a query TABLE too big to broadcast, pass false: the
    * join shuffles both sides on the probed list instead of forcing a
    * driver-side broadcast build of the exploded query frame.
    */
  def pqKnn(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Double]],
      flatCodebooks: Array[Array[Double]],
      k: Int = 10,
      nProbe: Int = 4,
      codeK: Int = 256,
      broadcastQueries: Boolean = true,
      rot: Array[Array[Double]] = null): DataFrame = {
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(Kernels.nearestCentroids(col(vecCol), coarse, nProbe)).as("list"))
    val scored = index.join(
        if (broadcastQueries) broadcast(probed) else probed, Seq("list"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.pqAdcDist(col("qv"), col("list"), col("code"),
          coarse, flatCodebooks, rot).as("adc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVFADC with an exact re-rank tail (Jégou et al.'s IVFADC-R): take
    * the top-`rerank` candidates per query by ADC distance, fetch their
    * raw vectors from the corpus, re-score with EXACT L2, return the
    * top-k. This is the production quality knob — ADC does the cheap
    * m-lookup pruning over the probed lists, the exact pass touches only
    * `|queries| × rerank` vectors (a broadcast-sized frame, never a
    * corpus shuffle). With `nProbe = nList` and a pool that covers the
    * true neighbours, the result equals exact brute-force L2 top-k —
    * which is what lets the driver oracle-check this path against
    * DuckDB's exact `list_distance` ranking (q_ann_pq).
    */
  def pqKnnRerank(
      index: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Double]],
      flatCodebooks: Array[Array[Double]],
      k: Int = 10,
      nProbe: Int = 4,
      rerank: Int = 50,
      codeK: Int = 256,
      broadcastQueries: Boolean = true,
      rot: Array[Array[Double]] = null): DataFrame = {
    val pool = pqKnn(index, queries, idCol, vecCol, coarse, flatCodebooks,
      k = math.max(rerank, k), nProbe = nProbe, codeK = codeK,
      broadcastQueries = broadcastQueries, rot = rot)
      .select(col("query_id"), col("neighbour_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"))
    // candidate frame is |queries| × rerank rows — broadcast it into the
    // corpus scan so the vector fetch is map-side (no corpus shuffle)
    val cand = pool.join(broadcast(q), Seq("query_id"))
    val scored = c.join(broadcast(cand), Seq("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.l2Dist(col("qv"), col("cv")).as("l2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2").asc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- SQ8: 8-bit scalar quantization (the FAISS SQ family) ---------

  /** Per-dimension quantization grid: code c decodes to lo + c·step.
    * 4× smaller than float32 with near-exact distances — the middle
    * rung of the memory/recall ladder (raw > SQ8 > PQ).
    */
  final case class SqParams(lo: Array[Double], step: Array[Double]) {
    def dim: Int = lo.length
  }

  /** EXACT per-dimension [min, max] over the whole corpus — one
    * posexplode + `dim`-row partial aggregation (combine happens
    * map-side; only `dim` rows shuffle), then a bounded collect. No
    * sampling, no seed: the grid is a deterministic function of the
    * corpus, so re-training can never silently shift it.
    */
  def trainSq(corpus: DataFrame, vecCol: String): SqParams = {
    val rows = corpus
      .select(posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy("__pos")
      .agg(min(col("__x").cast("double")).as("__lo"),
        max(col("__x").cast("double")).as("__hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "SQ training corpus has no vectors")
    SqParams(rows.map(_._2), rows.map { case (_, lo, hi) => (hi - lo) / 255.0 })
  }

  /** SQ8 index: `(neighbour_id, code)` — one map-side encode pass, the
    * raw vectors never shuffle. dim bytes per row instead of 4·dim.
    */
  def buildSqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, p: SqParams): DataFrame =
    graft.operators.Rebalance.spread(corpus)
      .select(col(idCol).as("neighbour_id"),
      Kernels.sqEncode(col(vecCol), p.lo, p.step).as("code"))

  /** Full-scan SQ search: asymmetric distance (raw query vs dequantized
    * code, [[Kernels.SqAdcDistExpr]]) over the broadcast-joined query
    * set — the [[bruteForceKnn]] plan shape at a quarter of the scan
    * bytes. Squared-L2 ascending, ties to `neighbour_id`.
    */
  def sqKnn(
      index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      p: SqParams, k: Int = 10, broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = index
      .join(if (broadcastQueries) broadcast(q) else q,
        col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.sqAdcDist(col("qv"), col("code"), p.lo, p.step).as("adc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SQ with an exact re-rank tail (the [[pqKnnRerank]] shape): SQ
    * distances prune to `rerank` candidates per query, the exact pass
    * touches only |queries|×rerank raw vectors. With a pool that covers
    * the true neighbours this equals exact L2 top-k — which is what
    * lets the driver oracle-check it (q_ann_sq).
    */
  def sqKnnRerank(
      index: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, p: SqParams,
      k: Int = 10, rerank: Int = 50, broadcastQueries: Boolean = true): DataFrame = {
    val pool = sqKnn(index, queries, idCol, vecCol, p,
      k = math.max(rerank, k), broadcastQueries = broadcastQueries)
      .select(col("query_id"), col("neighbour_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"))
    val cand = pool.join(broadcast(q), Seq("query_id"))
    val scored = c.join(broadcast(cand), Seq("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.l2Dist(col("qv"), col("cv")).as("l2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2").asc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Persist an SQ index self-contained: the grid rides in a
    * `_sqparams` side table (per-dim rows), same rules as
    * [[writeIvfIndex]]'s `_centroids` — including deleting a stale
    * side table when rewritten without params.
    */
  def writeSqIndex(index: DataFrame, path: String, p: SqParams = null): Unit = {
    index.write.mode("overwrite").parquet(path)
    writeSqSidecar(index.sparkSession, path, p)
  }

  private def writeSqSidecar(
      spark: org.apache.spark.sql.SparkSession, path: String, p: SqParams): Unit = {
    val side = new org.apache.hadoop.fs.Path(path + "/_sqparams")
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (p != null) {
      import spark.implicits._
      p.lo.indices.map(i => (i, p.lo(i), p.step(i))).toDF("pos", "lo", "step")
        .coalesce(1).write.mode("overwrite").parquet(path + "/_sqparams")
    } else if (fs.exists(side)) {
      fs.delete(side, true)
    }
  }

  /** Persist an IVFSQ index self-contained: partitioned by inverted
    * list (so probes prune files, [[writeIvfIndex]]'s shape) with BOTH
    * sidecars — `_centroids` for the probe quantizer and `_sqparams`
    * for the code grid, each under its own stale-rewrite deletion rule.
    */
  def writeIvfSqIndex(index: DataFrame, path: String,
      centroids: Array[Array[Double]] = null, p: SqParams = null): Unit = {
    writeIvfIndex(index, path, centroids)
    writeSqSidecar(index.sparkSession, path, p)
  }

  def readSqParams(
      spark: org.apache.spark.sql.SparkSession, path: String): SqParams = {
    val sp = new org.apache.hadoop.fs.Path(path + "/_sqparams")
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(sp),
      s"no _sqparams under $path: the index was written without its grid " +
        "(writeSqIndex(index, path, params)) — decoding it with a re-trained " +
        "grid would shift every distance")
    val rows = spark.read.parquet(path + "/_sqparams")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    SqParams(rows.map(_._2), rows.map(_._3))
  }

  /** IVF+SQ composite (FAISS's IVFSQ8): coarse inverted lists prune
    * the scan, SQ8 codes shrink what's scanned — one map-side pass
    * builds both columns. Codes encode the RAW vector (not the
    * residual), so distances are list-independent and the same
    * `_sqparams` grid serves every list.
    */
  def buildIvfSqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], p: SqParams): DataFrame =
    graft.operators.Rebalance.spread(corpus)
      .select(col(idCol).as("neighbour_id"),
      element_at(Kernels.nearestCentroids(col(vecCol), centroids, 1), 1).as("list"),
      Kernels.sqEncode(col(vecCol), p.lo, p.step).as("code"))

  /** IVFSQ search: probe `nProbe` lists ([[ivfKnn]]'s join shape),
    * score candidates with the asymmetric SQ distance ([[sqKnn]]'s
    * kernel). Write the index `partitionBy("list")` (via
    * [[writeIvfIndex]]) and the probe prunes to nProbe/nList of the
    * files at a quarter of the bytes.
    */
  def ivfSqKnn(
      index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], p: SqParams,
      k: Int = 10, nProbe: Int = 4, broadcastQueries: Boolean = true): DataFrame = {
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(Kernels.nearestCentroids(col(vecCol), centroids, nProbe)).as("list"))
    val scored = index
      .join(if (broadcastQueries) broadcast(probed) else probed, Seq("list"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.sqAdcDist(col("qv"), col("code"), p.lo, p.step).as("adc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVFSQ with the exact re-rank tail (the [[pqKnnRerank]] /
    * [[sqKnnRerank]] shape): probed SQ distances prune to `rerank`
    * candidates, the exact pass touches only |queries|×rerank raw
    * vectors. At full probe with a covering pool this equals exact L2
    * top-k — the oracle shape (q_ann_ivfsq).
    */
  def ivfSqKnnRerank(
      index: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      centroids: Array[Array[Double]], p: SqParams,
      k: Int = 10, nProbe: Int = 4, rerank: Int = 50,
      broadcastQueries: Boolean = true): DataFrame = {
    val pool = ivfSqKnn(index, queries, idCol, vecCol, centroids, p,
      k = math.max(rerank, k), nProbe = nProbe,
      broadcastQueries = broadcastQueries)
      .select(col("query_id"), col("neighbour_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"))
    val cand = pool.join(broadcast(q), Seq("query_id"))
    val scored = c.join(broadcast(cand), Seq("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        Kernels.l2Dist(col("qv"), col("cv")).as("l2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2").asc, col("neighbour_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k of IVFSQ against exact L2 brute force. */
  def ivfSqRecallAtK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nList: Int = 32, nProbe: Int = 4,
      exactFrame: DataFrame = null): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, nList)
    val p = trainSq(corpus, vecCol)
    val approx = ivfSqKnn(buildIvfSqIndex(corpus, idCol, vecCol, centroids, p),
      queries, idCol, vecCol, centroids, p, k, nProbe)
      .select(col("query_id"), col("neighbour_id"))
    val owned = exactFrame == null
    val exact =
      if (owned) exactL2Knn(corpus, queries, idCol, vecCol, k).persist()
      else exactFrame
    recallFrame(exact, approx, k, ownedExact = owned)
  }

  /** Recall@k of full-scan SQ against exact L2 brute force. */
  def sqRecallAtK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, exactFrame: DataFrame = null): DataFrame = {
    val p = trainSq(corpus, vecCol)
    val approx = sqKnn(buildSqIndex(corpus, idCol, vecCol, p),
      queries, idCol, vecCol, p, k)
      .select(col("query_id"), col("neighbour_id"))
    val owned = exactFrame == null
    val exact =
      if (owned) exactL2Knn(corpus, queries, idCol, vecCol, k).persist()
      else exactFrame
    recallFrame(exact, approx, k, ownedExact = owned)
  }

  /** Recall@k of IVFADC against exact L2 brute force. `rerank > 0`
    * routes the approximate side through [[pqKnnRerank]]'s exact tail.
    */
  def pqRecallAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nList: Int = 32,
      m: Int = 8,
      nProbe: Int = 4,
      rerank: Int = 0,
      opq: Boolean = false,
      exactKnn: DataFrame = null): DataFrame = {
    val coarse = trainCentroids(corpus, vecCol, nList)
    val (rot, codebooks) =
      if (opq) trainOpq(corpus, vecCol, coarse, m)
      else (null, trainPq(corpus, vecCol, coarse, m))
    val owned = exactKnn == null
    val exact = if (owned) exactL2Knn(corpus, queries, idCol, vecCol, k).cache()
                else exactKnn
    val idx = buildPqIndex(corpus, idCol, vecCol, coarse, codebooks, rot = rot)
    val approx = (if (rerank > 0)
        pqKnnRerank(idx, queries, corpus, idCol, vecCol, coarse, codebooks,
          k, nProbe, rerank, rot = rot)
      else
        pqKnn(idx, queries, idCol, vecCol, coarse, codebooks, k, nProbe, rot = rot))
      .select(col("query_id"), col("neighbour_id"))
    recallFrame(exact, approx, k, owned)
  }

  /** Recall@k of the IVF index against exact brute force. */
  def ivfRecallAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nList: Int = 64,
      nProbe: Int = 4,
      exactKnn: DataFrame = null): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, nList)
    // exact set feeds both the intersect and the denominator: cache it
    // so brute force runs once, not twice
    val owned = exactKnn == null
    val exact = if (owned) exactCosineKnn(corpus, queries, idCol, vecCol, k).cache()
                else exactKnn
    val approx = ivfKnn(buildIvfIndex(corpus, idCol, vecCol, centroids),
      queries, idCol, vecCol, centroids, k, nProbe)
      .select(col("query_id"), col("neighbour_id"))
    recallFrame(exact, approx, k, owned)
  }

  /** Recall@k of the LSH index against exact brute force — the eval loop
    * for tuning nPlanes/nProbes. One row: (k, recall).
    */
  def recallAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int = 10,
      nPlanes: Int = 8,
      nProbes: Int = 16,
      exactKnn: DataFrame = null): DataFrame = {
    val owned = exactKnn == null
    val exact = if (owned) exactCosineKnn(corpus, queries, idCol, vecCol, k).cache()
                else exactKnn
    val approx = lshKnn(buildIndex(corpus, idCol, vecCol, dim, nPlanes),
      queries, idCol, vecCol, dim, k, nPlanes, nProbes)
      .select(col("query_id"), col("neighbour_id"))
    recallFrame(exact, approx, k, owned)
  }
}
