package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The generators are deterministic in their seed, and the truth they
  * plant is what a brute-force check over the generated text finds.
  */
class GenSpec extends AnyFunSuite {

  private val small = CurateChain.sizes.copy(docs = 400, baseDocs = 60, benchDocs = 10,
    trainDocs = 40)

  /** Three fresh directories, removed afterwards. */
  private def withDirs(body: (Path, Path, Path) => Unit): Unit = {
    val ds = Seq.fill(3)(Files.createTempDirectory("perfbench-gen"))
    try body(ds(0), ds(1), ds(2))
    finally ds.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  private def contents(dir: Path): Seq[Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .toSeq.sortBy(_.getFileName.toString).map(p => Files.readAllBytes(p).toSeq)
    finally s.close()
  }

  test("the same seed writes byte-identical corpus files, another seed does not") {
    withDirs { (a, b, c) =>
      Gen.writeDocs(a, Gen.corpus(7, small).docs, 4)
      Gen.writeDocs(b, Gen.corpus(7, small).docs, 4)
      Gen.writeDocs(c, Gen.corpus(8, small).docs, 4)
      assert(contents(a) == contents(b))
      assert(contents(a) != contents(c))
    }
    assert(Gen.corpus(7, small) == Gen.corpus(7, small))
    assert(Gen.trainingText(7, small) == Gen.trainingText(7, small))
    assert(Gen.trainingText(7, small) != Gen.trainingText(8, small))
  }

  test("planted corpus truth matches a brute-force check") {
    val c = Gen.corpus(11, small)
    val docs = c.docs
    val sh = docs.map { case (id, t) => id -> Gen.shingles(t) }.toMap
    val baseSh = c.base.map(b => Gen.shingles(b._2))
    val norm = docs.map { case (id, t) => id -> t.toLowerCase }.toMap
    val benchGrams = c.bench.flatMap(t => t.split(" ").sliding(CurateChain.NGram).map(_.mkString(" "))).toSet
    val lexicon = Gen.lexicon(11, small.lexicon).toSet ++ Gen.Stopwords
    def tokens(id: Long) = norm(id).split(" ")
    val found = docs.flatMap { case (id, t) =>
      val toks = tokens(id)
      val earlier = docs.takeWhile(_._1 < id)
      val kind =
        if (earlier.exists { case (j, _) => norm(j) == norm(id) }) Some("exact_dup")
        else if (earlier.exists { case (j, _) => Gen.jaccard(sh(j), sh(id)) >= CurateChain.Threshold })
          Some("near_dup")
        else if (toks.length < 20) Some("junk_short")
        else if (toks.distinct.length <= 2) Some("junk_repetitive")
        else if (!toks.forall(lexicon.contains) && !t.contains("@")) Some("junk_spam")
        else if (baseSh.exists(Gen.jaccard(_, sh(id)) >= CurateChain.Threshold)) Some("indexed")
        else if (toks.sliding(CurateChain.NGram).exists(g => benchGrams.contains(g.mkString(" "))))
          Some("contaminated")
        else None
      kind.map(id -> _)
    }.toMap
    assert(found == c.dropped)
    assert(c.pii == docs.filter(_._2.contains("@")).map(_._1).toSet)
    assert(c.dropped.values.toSet == Set("exact_dup", "near_dup", "junk_short",
      "junk_repetitive", "junk_spam", "indexed", "contaminated"))
    // near copies clear the cut with margin; clean docs are far below it
    c.dropped.collect { case (id, "near_dup") => id }.foreach { id =>
      assert(docs.takeWhile(_._1 < id).map(d => Gen.jaccard(sh(d._1), sh(id))).max >= 0.9)
    }
    val clean = docs.map(_._1).filterNot(c.dropped.contains).take(120)
    for (i <- clean; j <- clean if i < j) assert(Gen.jaccard(sh(i), sh(j)) < 0.2)
  }

  test("tab inputs are byte-identical for one seed and differ across seeds") {
    val spark = graft.GraftSession.builder("local[2]").getOrCreate()
    try {
      val p = TabEtl.sizes.copy(rows = 2000L)
      withDirs { (a, b, c) =>
        Gen.writeTab(spark, a, 3, p)
        Gen.writeTab(spark, b, 3, p)
        Gen.writeTab(spark, c, 4, p)
        assert(contents(a) == contents(b))
        assert(contents(a) != contents(c))
      }
      val dim = Gen.dimRows(3, p)
      assert(dim.map(_._1).distinct.length == dim.length)
      val missing = p.stores - dim.length
      assert(missing > 0 && missing < p.stores / 4, s"$missing stores without a dimension row")
    } finally spark.stop()
  }
}
