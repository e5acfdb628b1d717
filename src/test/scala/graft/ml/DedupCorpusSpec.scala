package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels transitive clusters with the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("distributed label-propagation path agrees with driver union-find") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val dist = Dedup.connectedComponents(pairs, driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === local)
    assert(dist(4L) === 1L) // 3-hop chain converges
  }

  test("reliableCheckpoint without a checkpoint dir errors up front; with one, labels persist to it") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test precondition: no checkpoint dir set")
    // misconfiguration surfaces as ONE clear error before the loop runs
    val ex = intercept[IllegalArgumentException](
      Dedup.connectedComponents(pairs, driverThreshold = 0, reliableCheckpoint = true))
    assert(ex.getMessage.contains("setCheckpointDir"))
    val dir = java.nio.file.Files.createTempDirectory("graftckpt").toFile
    dir.deleteOnExit()
    sc.setCheckpointDir(dir.getAbsolutePath)
    try {
      val labels = Dedup.connectedComponents(pairs, driverThreshold = 0,
          reliableCheckpoint = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
      // the labels actually live in the fault-tolerant dir (the point:
      // an executor loss re-reads files instead of failing the job)
      def rddFiles(f: java.io.File): Int =
        f.listFiles() match {
          case null => 0
          case fs => fs.count(_.getName.startsWith("rdd-")) +
            fs.filter(_.isDirectory).map(rddFiles).sum
        }
      assert(rddFiles(dir) > 0, s"no checkpointed RDD under $dir")
    } finally {
      // the shared session must not leak a checkpoint dir into suites
      // that assert the default localCheckpoint behavior
      sc.setCheckpointDir(null)
    }
  }

  test("dedupedCorpus keeps one doc per cluster plus all unpaired docs") {
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (5L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupedCorpus(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 5L))
  }

  test("dedupedCorpus keeps the caller's own 'id' and 'label' columns " +
      "(the embeddings table shape)") {
    val docs = Seq((1L, 7, "x"), (2L, 8, "y"), (3L, 9, "z"), (5L, 4, "w"))
      .toDF("id", "label", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupedCorpus(docs, "id", pairs)
    assert(kept.columns.toSeq === Seq("id", "label", "payload"))
    assert(kept.select("id", "label").as[(Long, Int)].collect().sorted ===
      Array((1L, 7), (5L, 4)))
  }

  test("canonicalPerCluster keeps the highest-score member per cluster, " +
      "smallest id on ties, all unpaired docs") {
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 20.0), // cluster {1,2,3} → 2 wins on score
      (6L, 5.0), (7L, 5.0),               // cluster {6,7} → score tie → 6
      (9L, 1.0)                           // unpaired → survives
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("id_a", "id_b")
    val kept = Dedup.canonicalPerCluster(docs, "doc_id", "score", pairs)
    assert(kept.columns.toSeq === Seq("doc_id", "score"))
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(2L, 6L, 9L))
    // score-free min-id rule stays dedupedCorpus's result
    val minId = Dedup.dedupedCorpus(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(minId === Array(1L, 6L, 9L))
  }

  test("dedupIngestBatch: drops vs corpus, collapses within-batch, and GROWS " +
      "the index so later batches dedup against earlier survivors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
    def doc(tag: Int) = s"the quick brown fox jumps over the lazy dog " +
      s"while number $tag watches from paragraph $tag again and again"
    // corpus: docs 1, 2
    val corpus = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(
      Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    val in = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= graft.streaming.Streams.dedupIngestBatch(dir, "doc_id", "text")(batch)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }.start()
    try {
      // batch 1: 10 dups corpus doc 1 (dropped); 11 and 12 are near-dups
      // of EACH OTHER (min id 11 survives); 13 is fresh
      in.addData((10L, doc(1)), (11L, doc(30)), (12L, doc(30) + " x"),
                 (13L, doc(40)))
      q.processAllAvailable()
      // batch 2: 20 dups batch-1 SURVIVOR 11 → dropped only if the index
      // grew; 21 dups batch-1 DROPPED 12's content → still dropped (11 is
      // in the index); 22 fresh
      in.addData((20L, doc(30)), (21L, doc(30) + " x"), (22L, doc(50)))
      q.processAllAvailable()
      assert(out.sorted.toSeq === Seq(11L, 13L, 22L))
    } finally {
      q.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      catch { case _: Throwable => () }
    }
  }

  test("dedupIngestBatch reliableCheckpoint: requires a checkpoint dir, then " +
      "produces the same survivors through the fault-tolerant cut") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_rc").toString
    def doc(tag: Int) = s"reliable checkpoint flavour document number $tag " +
      s"with enough repeated shingle text to sign $tag properly here"
    val corpus = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(Dedup.minhashIndex(corpus, "doc_id", "text"), dir)
    val batch = Seq((10L, doc(1)), (11L, doc(30)), (12L, doc(30)), (13L, doc(40)))
      .toDF("doc_id", "text")
    // without a checkpoint dir the option fails LOUDLY up front
    val hadDir = spark.sparkContext.getCheckpointDir
    if (hadDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.Streams.dedupIngestBatch(dir, "doc_id", "text",
          reliableCheckpoint = true)(batch)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val out = graft.streaming.Streams.dedupIngestBatch(dir, "doc_id", "text",
        reliableCheckpoint = true)(batch)
        .select("doc_id").as[Long].collect().sorted
      // 10 dups the corpus; 11/12 collapse to 11; 13 fresh
      assert(out === Array(11L, 13L))
      // and the index grew: an exact re-send of survivor 11's text drops
      val out2 = graft.streaming.Streams.dedupIngestBatch(dir, "doc_id", "text",
        reliableCheckpoint = true)(Seq((20L, doc(30))).toDF("doc_id", "text"))
        .count()
      assert(out2 === 0L)
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      catch { case _: Throwable => () }
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      catch { case _: Throwable => () }
    }
  }

  test("canonicalPerCluster survives docs columns named 'id' and 'label' " +
      "(the embeddings table shape)") {
    val docs = Seq((1L, 5.0, 7, "x"), (2L, 9.0, 8, "y"), (3L, 1.0, 9, "z"))
      .toDF("id", "score", "label", "payload")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val kept = Dedup.canonicalPerCluster(docs, "id", "score", pairs)
    assert(kept.columns.toSeq === Seq("id", "score", "label", "payload"))
    assert(kept.select("id").as[Long].collect().sorted === Array(2L, 3L))
    // the user's own label column passes through untouched
    assert(kept.filter($"id" === 2L).select("label").as[Int].head() === 8)
  }

  test("multi-probe LSH: probes distinct and base-first; full probe = exact") {
    val vecs = (0 until 80).map { i =>
      val rnd = new scala.util.Random(i * 313 + 11)
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val probes = vecs.select(
      graft.plans.Kernels.hyperplaneProbes($"embedding", 4, 16).as("p"),
      graft.plans.Kernels.hyperplaneBucket($"embedding", 4).as("b"))
      .as[(Seq[Long], Long)].collect()
    probes.foreach { case (p, b) =>
      assert(p.length === 16 && p.head === b)
      assert(p.distinct.length === p.length)       // each bucket probed once
      assert(p.forall(x => x >= 0 && x < 16))      // valid 4-plane buckets
    }
    // probing all 2^nPlanes buckets makes LSH exhaustive = brute force
    val idx = Ann.buildIndex(vecs, "vec_id", "embedding", dim = 8, nPlanes = 4)
    val full = Ann.lshKnn(idx, vecs.filter($"vec_id" < 5), "vec_id", "embedding",
      dim = 8, k = 5, nPlanes = 4, nProbes = 16)
      .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    val exact = Ann.bruteForceKnn(vecs, vecs.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
  }

  test("hyperplaneProbes truncates to 2^nPlanes when over-asked") {
    val v = Seq((1L, Array(0.3f, -0.7f, 0.2f, 0.9f))).toDF("vec_id", "embedding")
    val p = v.select(graft.plans.Kernels.hyperplaneProbes($"embedding", 2, 16).as("p"))
      .as[Seq[Long]].collect().head
    assert(p.length === 4 && p.distinct.length === 4 && p.forall(x => x >= 0 && x < 4))
  }

  test("hyperplaneProbes with nProbes <= 0 degrades to the base bucket (SQL misuse guard)") {
    val v = Seq((1L, Array(0.3f, -0.7f, 0.2f, 0.9f))).toDF("vec_id", "embedding")
    val base = v.select(graft.plans.Kernels.hyperplaneBucket($"embedding", 4).as("b"))
      .as[Long].collect().head
    for (bad <- Seq(0, -3)) {
      val p = v.select(graft.plans.Kernels.hyperplaneProbes($"embedding", 4, bad).as("p"))
        .as[Seq[Long]].collect().head
      assert(p === Seq(base), s"nProbes=$bad")
    }
  }

  test("ADC table cache keyed by codebook identity: interleaved indexes don't cross-talk") {
    // two different corpora/codebooks queried alternately in one JVM —
    // the executor-thread-local ADC tables must not leak across them
    def corpus(seed: Int) = (0 until 60).map { i =>
      val rnd = new scala.util.Random(i * seed + 17)
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 5f))
    }.toDF("vec_id", "embedding")
    // memo-key content sensitivity: same corpus + same (nList, dim)
    // shape but DIFFERENT coarse centroids must yield different
    // codebooks — a shape-only key would hand the second call the
    // first call's codebooks (residuals against the wrong centroids)
    locally {
      val v = corpus(55)
      val c1 = Ann.trainCentroids(v, "embedding", nList = 3, sampleN = 30)
      val c2 = Ann.trainCentroids(v, "embedding", nList = 3, sampleN = 60)
      if (c1.flatten.toSeq != c2.flatten.toSeq) {
        val b1 = Ann.trainPq(v, "embedding", c1, m = 4, maxIter = 5)
        val b2 = Ann.trainPq(v, "embedding", c2, m = 4, maxIter = 5)
        assert(b1.flatten.toSeq != b2.flatten.toSeq,
          "PQ memo returned identical codebooks for different coarse centroids")
      }
    }
    val (va, vb) = (corpus(101), corpus(907))
    def search(vecs: org.apache.spark.sql.DataFrame) = {
      val cents = Ann.trainCentroids(vecs, "embedding", nList = 3, sampleN = 60)
      val cbs = Ann.trainPq(vecs, "embedding", cents, m = 4, maxIter = 5)
      Ann.pqKnn(Ann.buildPqIndex(vecs, "vec_id", "embedding", cents, cbs),
        vecs.filter($"vec_id" < 4), "vec_id", "embedding", cents, cbs, k = 3, nProbe = 3)
        .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    }
    val isolatedA = search(va)
    val isolatedB = search(vb)
    // interleave: run A and B again in alternation; same results
    assert(search(va) === isolatedA)
    assert(search(vb) === isolatedB)
    assert(search(va) === isolatedA)
  }

  test("recallAtK of the LSH index is sane (0 < recall <= 1)") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 17 + j * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val recall = Ann.recallAtK(vecs, vecs.filter($"vec_id" < 5), "vec_id", "embedding",
      dim = 8, k = 5, nPlanes = 4).collect().head.getDouble(1)
    assert(recall > 0.0 && recall <= 1.0)
  }

  test("quantizer training sample is unbiased across partitions (not first-files)") {
    // 8 range partitions in id order — a bare limit(n) would take only
    // partition 0 (ids 0..1249); the hash-ordered sample must span the
    // whole id range. Vectors carry their id in component 0 so the
    // sample rows reveal where they came from.
    val vecs = spark.range(10000).repartitionByRange(8, $"id")
      .selectExpr("id AS vec_id",
        "transform(sequence(0, 3), j -> cast(id AS double)) AS embedding")
    val sampled = Ann.trainingSample(vecs, "embedding", n = 200, seed = 42L)
      .collect().map(_.getSeq[Double](0).head)
    assert(sampled.length === 200)
    assert(sampled.min < 1000.0, s"sample min ${sampled.min} — first-partition bias")
    assert(sampled.max > 9000.0, s"sample max ${sampled.max} — first-partition bias")
    // deterministic: same seed → same sample (the quantizer memo contract)
    val again = Ann.trainingSample(vecs, "embedding", n = 200, seed = 42L)
      .collect().map(_.getSeq[Double](0).head)
    assert(sampled.toSeq === again.toSeq)
    // plan shape: per-partition top-n + driver merge (TakeOrderedAndProject),
    // not a full-sort exchange for the sample. (The input's own
    // repartitionByRange is upstream of the sample and expected.)
    val plan = Ann.trainingSample(vecs, "embedding", n = 200, seed = 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("training sample is deterministic on dup-heavy corpora (hash ties broken by value)") {
    // duplicate vectors hash identically under the seeded xxhash64 —
    // without the secondary value key, which of the tied rows crosses
    // the limit(n) boundary would depend on scan order (session/
    // partitioning dependent) and break the quantizer memo contract.
    // 40 distinct vectors × 10 copies, sample 25: ties straddle the cut.
    def corpus(parts: Int) = spark.range(400).repartition(parts)
      .selectExpr("id % 40 AS g",
        "transform(sequence(0, 3), j -> cast(id % 40 AS double)) AS embedding")
    def sample(parts: Int): Seq[Seq[Double]] =
      Ann.trainingSample(corpus(parts), "embedding", n = 25, seed = 7L)
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val one = sample(1)
    assert(one.length === 25)
    assert(sample(5) === one)
    assert(sample(13) === one)
  }

  test("IVF index: lists partition the corpus; full probe = exact top-k") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 17 + j * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = Ann.trainCentroids(vecs, "embedding", nList = 4, sampleN = 60)
    assert(centroids.length === 4 && centroids.head.length === 8)
    val idx = Ann.buildIvfIndex(vecs, "vec_id", "embedding", centroids)
    // every corpus vector lands in exactly one inverted list
    assert(idx.count() === 60)
    assert(idx.select("list").distinct().count() <= 4)
    // probing ALL lists makes IVF exhaustive — must equal brute force
    val exact = Ann.bruteForceKnn(vecs, vecs.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    val full = Ann.ivfKnn(idx, vecs.filter($"vec_id" < 5), "vec_id", "embedding",
      centroids, k = 5, nProbe = 4)
      .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // partial probe: sane recall
    val recall = Ann.ivfRecallAtK(vecs, vecs.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 5, nList = 4, nProbe = 2)
      .collect().head.getDouble(1)
    assert(recall > 0.0 && recall <= 1.0)
  }

  test("persisted IVF index: probes read a pruned subset of list partitions") {
    val vecs = (0 until 120).map { i =>
      val rnd = new scala.util.Random(i * 613 + 5)
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val centroids = Ann.trainCentroids(vecs, "embedding", nList = 6, sampleN = 120)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    try {
      Ann.writeIvfIndex(Ann.buildIvfIndex(vecs, "vec_id", "embedding", centroids), dir)
      val idx = Ann.readIvfIndex(spark, dir)
      // the index round-trips (list is now a partition column)
      assert(idx.count() === 120)
      // static pruning: a probe of 2 lists scans 2 of the 6 partitions
      val pruned = idx.filter($"list".isin(0, 1))
      val scan = pruned.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.relation.partitionSchema.fieldNames.contains("list"))
      assert(scan.metadata("PartitionFilters").contains("list"),
        scan.metadata("PartitionFilters"))
      // search over the persisted index matches search over the in-memory
      // one (list comes back as int partition values)
      val q = vecs.filter($"vec_id" < 3)
      val fromDisk = Ann.ivfKnn(idx.withColumn("list", $"list".cast("int")),
        q, "vec_id", "embedding", centroids, k = 3, nProbe = 6)
        .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
      val fromMem = Ann.ivfKnn(Ann.buildIvfIndex(vecs, "vec_id", "embedding", centroids),
        q, "vec_id", "embedding", centroids, k = 3, nProbe = 6)
        .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
      assert(fromDisk === fromMem)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("self-contained IVF index: stored centroids round-trip; append grows lists consistently") {
    val vecs = (0 until 100).map { i =>
      val rnd = new scala.util.Random(i * 997 + 3)
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val centroids = Ann.trainCentroids(vecs, "embedding", nList = 5, sampleN = 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2").toString
    try {
      Ann.writeIvfIndex(Ann.buildIvfIndex(vecs, "vec_id", "embedding", centroids),
        dir, centroids)
      // the quantizer comes back bit-identical — a fresh session needs
      // no retrain (which would probe the wrong lists)
      val stored = Ann.readIvfCentroids(spark, dir)
      assert(stored.length === centroids.length)
      assert(stored.zip(centroids).forall { case (a, b) => a.sameElements(b) })
      // the _centroids side table does not leak into the index scan
      assert(Ann.readIvfIndex(spark, dir).count() === 100)
      // incremental append: new vectors assigned with the STORED
      // quantizer land in the same lists the in-memory build would pick
      val more = (100 until 140).map { i =>
        val rnd = new scala.util.Random(i * 997 + 3)
        (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
      }.toDF("vec_id", "embedding")
      Ann.appendToIvfIndex(spark, dir, more, "vec_id", "embedding")
      val idx = Ann.readIvfIndex(spark, dir).withColumn("list", $"list".cast("int"))
      assert(idx.count() === 140)
      val all = vecs.unionByName(more)
      val q = all.filter($"vec_id" % 37 === 0)
      val fromDisk = Ann.ivfKnn(idx, q, "vec_id", "embedding", stored, k = 3, nProbe = 5)
        .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
      val fromMem = Ann.ivfKnn(Ann.buildIvfIndex(all, "vec_id", "embedding", centroids),
        q, "vec_id", "embedding", centroids, k = 3, nProbe = 5)
        .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
      assert(fromDisk === fromMem)
      // an index written WITHOUT centroids refuses the self-contained read
      val bare = java.nio.file.Files.createTempDirectory("graft_ivf3").toString
      try {
        Ann.writeIvfIndex(Ann.buildIvfIndex(vecs, "vec_id", "embedding", centroids), bare)
        val err = intercept[IllegalArgumentException](Ann.readIvfCentroids(spark, bare))
        assert(err.getMessage.contains("_centroids"), err.getMessage)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bare))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compactIvfIndex: one file per list, sidecars carried, search bit-identical") {
    val vecs = (0 until 120).map { i =>
      val rnd = new scala.util.Random(i * 101 + 17)
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val centroids = Ann.trainCentroids(vecs, "embedding", nList = 4, sampleN = 120)
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val dir = s"$root/ivf"
    try {
      Ann.writeIvfIndex(Ann.buildIvfIndex(vecs, "vec_id", "embedding", centroids),
        dir, centroids)
      // three append batches — each adds a file per touched list
      (0 until 3).foreach { b =>
        val more = (200 + b * 10 until 210 + b * 10).map { i =>
          val rnd = new scala.util.Random(i * 101 + 17)
          (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
        }.toDF("vec_id", "embedding")
        Ann.appendToIvfIndex(spark, dir, more, "vec_id", "embedding")
      }
      def filesPerList: Map[String, Int] =
        new java.io.File(dir).listFiles().filter(_.getName.startsWith("list="))
          .map(d => d.getName ->
            d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
      assert(filesPerList.values.exists(_ > 1), filesPerList)
      val q = vecs.filter($"vec_id" % 29 === 0)
      val before = Ann.ivfKnn(Ann.readIvfIndex(spark, dir), q, "vec_id", "embedding",
        Ann.readIvfCentroids(spark, dir), k = 3, nProbe = 4)
        .select("query_id", "neighbour_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      Ann.compactIvfIndex(spark, dir)
      assert(filesPerList.nonEmpty && filesPerList.values.forall(_ === 1), filesPerList)
      // both the rows and the sidecar survive the swap
      val after = Ann.ivfKnn(Ann.readIvfIndex(spark, dir), q, "vec_id", "embedding",
        Ann.readIvfCentroids(spark, dir), k = 3, nProbe = 4)
        .select("query_id", "neighbour_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(after === before)
      assert(Ann.readIvfIndex(spark, dir).count() === 150)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("embeddingPairs salt path matches the uncapped pair set") {
    val vecs = (0 until 30).map { i =>
      // two tight clusters → big LSH buckets
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(j => base + 0.001f * i + 0.01f * j))
    }.toDF("vec_id", "embedding")
    def pairs(maxBucket: Int) =
      graft.ml.Dedup.embeddingPairs(vecs, "vec_id", "embedding", dim = 8,
        threshold = 0.9, nPlanes = 4, maxBucket = maxBucket, saltCap = 100000)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = pairs(maxBucket = 2000)
    val salted = pairs(maxBucket = 4)
    assert(uncapped.nonEmpty && salted === uncapped)
  }

  test("IVFADC: with <=256 sample points the quantizer memorizes, full probe = exact L2 top-k") {
    // 40 vectors, sample covers all → every residual subvector becomes a
    // codebook entry, ADC distance == true residual L2 → PQ == exact
    val vecs = (0 until 40).map { i =>
      val rnd = new scala.util.Random(i * 131 + 7)
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 10f))
    }.toDF("vec_id", "embedding")
    val coarse = Ann.trainCentroids(vecs, "embedding", nList = 4, sampleN = 1000)
    val codebooks = Ann.trainPq(vecs, "embedding", coarse, m = 4, maxIter = 15)
    val idx = Ann.buildPqIndex(vecs, "vec_id", "embedding", coarse, codebooks)
    assert(idx.select("code").head().getAs[Array[Byte]](0).length === 4) // 16 floats → 4 bytes
    val queries = vecs.filter($"vec_id" < 5)
    val pq = Ann.pqKnn(idx, queries, "vec_id", "embedding", coarse, codebooks,
      k = 3, nProbe = 4) // nProbe = nList → full probe
      .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("l2").asc, col("neighbour_id").asc)
    val exact = vecs.select($"vec_id".as("neighbour_id"), $"embedding".as("cv"))
      .join(broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))),
        $"query_id" =!= $"neighbour_id")
      .select($"query_id", $"neighbour_id",
        graft.plans.Kernels.l2Dist($"qv", $"cv").as("l2"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select("query_id", "neighbour_id").as[(Long, Long)].collect().toSet
    assert(pq === exact)
  }

  test("IVFADC-R: full probe + exact re-rank tail = exact L2 top-k (oracle basis)") {
    // quantizer trained on a small sample of a 200-vector corpus — ADC
    // ranking alone is APPROXIMATE here (no memorization as above); the
    // re-rank tail must still restore the exact order because the ADC
    // pool (top-60 of 200) covers the true top-3 with wide margin (an
    // ADC pool of 30 was observed to miss a true rank-3 on this very
    // corpus — the pool needs slack, which is why q_ann_pq runs 150 of
    // 500). This is the exact property the q_ann_pq DuckDB oracle
    // relies on.
    val vecs = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i * 613 + 29)
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 4f))
    }.toDF("vec_id", "embedding")
    val coarse = Ann.trainCentroids(vecs, "embedding", nList = 4, sampleN = 64)
    val codebooks = Ann.trainPq(vecs, "embedding", coarse, m = 4, sampleN = 64)
    val idx = Ann.buildPqIndex(vecs, "vec_id", "embedding", coarse, codebooks)
    val queries = vecs.filter($"vec_id" < 5)
    val reranked = Ann.pqKnnRerank(idx, queries, vecs, "vec_id", "embedding",
      coarse, codebooks, k = 3, nProbe = 4, rerank = 60)
      .select("query_id", "neighbour_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("l2").asc, col("neighbour_id").asc)
    val exact = vecs.select($"vec_id".as("neighbour_id"), $"embedding".as("cv"))
      .join(broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))),
        $"query_id" =!= $"neighbour_id")
      .select($"query_id", $"neighbour_id",
        graft.plans.Kernels.l2Dist($"qv", $"cv").as("l2"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select("query_id", "neighbour_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(reranked === exact) // ranks equal too, not just the sets
    // and the recall eval routed through the rerank tail reads exactly 1.0
    val recall = Ann.pqRecallAtK(vecs, queries, "vec_id", "embedding",
      k = 3, nList = 4, m = 4, nProbe = 4, rerank = 60)
      .collect().head.getDouble(1)
    assert(recall === 1.0)
  }

  test("IVFADC recall on a larger corpus is sane and codes are 8 bytes") {
    val vecs = (0 until 400).map { i =>
      val rnd = new scala.util.Random(i * 977 + 3)
      (i.toLong, Array.fill(32)(rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val recall = Ann.pqRecallAtK(vecs, vecs.filter($"vec_id" < 10),
      "vec_id", "embedding", k = 5, nList = 8, m = 8, nProbe = 8)
      .collect().head.getDouble(1)
    assert(recall > 0.3 && recall <= 1.0, s"recall=$recall")
  }

  test("semDedup removes planted exact copies and keeps distinct vectors") {
    // independent random rows: sin/affine constructions correlate rows
    // and plant real near-dups at a 0.999 threshold
    val base = (0 until 20).map { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }
    val copies = base.take(8).map { case (id, v) => (id + 1000L, v) }
    val corpus = (base ++ copies).toDF("vec_id", "embedding")
    val kept = Dedup.semDedup(corpus, "vec_id", "embedding",
      nList = 4, threshold = 0.999)
      .select("vec_id").as[Long].collect().sorted
    // identical vectors share a k-means cell → every copy pairs with its
    // original; min-id keep-one leaves exactly the 20 originals
    assert(kept === (0L until 20L).toArray)
  }
}
