package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded input generators with planted ground truth.
  *
  * Every generator is a pure function of its seed and sizes: the same
  * seed writes byte-identical files, and the truth each workload checks
  * against is decided here, at generation time, never read back from
  * the program under test. Text is drawn from a synthetic lexicon of
  * letter-only pseudo-words (length 4-9, so none collides with the
  * two- and three-letter stopwords the language profiles score) mixed
  * with English stopwords, so clean documents classify as `en`, share
  * no word 3-shingles by chance and carry no digits the PII patterns
  * could match.
  */
object Gen {

  val Stopwords: Array[String] =
    Array("the", "and", "is", "of", "to", "in", "that", "it", "for", "was")

  /** Seeded lexicon of `n` distinct pseudo-words. */
  def lexicon(seed: Long, n: Int): Array[String] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 4 + rnd.nextInt(6)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      val w = sb.toString
      if (!Stopwords.contains(w) && !w.startsWith("qz")) out += w
    }
    out.toArray
  }

  /** A clean document: `len` tokens, 35% stopwords. */
  def cleanText(rnd: SplittableRandom, lex: Array[String], len: Int): String =
    (0 until len).map { _ =>
      if (rnd.nextInt(100) < 35) Stopwords(rnd.nextInt(Stopwords.length))
      else lex(rnd.nextInt(lex.length))
    }.mkString(" ")

  /** Off-lexicon junk: stopwords mixed with a small fixed vocabulary of
    * spam tokens that no clean document uses (they start with "qz", and
    * lexicon words are drawn so that none does). The stopwords keep junk
    * scored `en`, so it reaches the model gates instead of the language
    * filter; the small vocabulary gives those gates features to learn.
    */
  val Spam: Array[String] = {
    val rnd = new SplittableRandom(0x5BAD5EEDL)
    Array.tabulate(40)(_ => "qz" + (0 until 4).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
  }

  def gibberishText(rnd: SplittableRandom, len: Int): String =
    (0 until len).map { _ =>
      if (rnd.nextInt(100) < 35) Stopwords(rnd.nextInt(Stopwords.length))
      else Spam(rnd.nextInt(Spam.length))
    }.mkString(" ")

  /** Replace one token (past the first quarter) with a different
    * lexicon word: 3-shingle Jaccard stays >= 0.9 for docs of >= 60
    * tokens, and the normalized text, hence the exact fingerprint,
    * changes.
    */
  def nearCopy(rnd: SplittableRandom, lex: Array[String], text: String): String = {
    val toks = text.split(" ")
    val i = toks.length / 4 + rnd.nextInt(toks.length - toks.length / 4)
    var w = lex(rnd.nextInt(lex.length))
    while (w == toks(i)) w = lex(rnd.nextInt(lex.length))
    toks(i) = w
    toks.mkString(" ")
  }

  /** Word 3-shingle set, the minhash pipeline's default shingling. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ").filter(_.nonEmpty)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  /** Write `(id, text)` rows as JSON lines split over `shards` files. */
  def writeDocs(dir: Path, docs: Seq[(Long, String)], shards: Int): Long = {
    Files.createDirectories(dir)
    val per = math.max(1, (docs.length + shards - 1) / shards)
    docs.grouped(per).zipWithIndex.map { case (part, i) =>
      val body = part.map { case (id, t) => s"""{"doc_id":$id,"text":${Json.str(t)}}""" }
        .mkString("", "\n", "\n").getBytes(UTF_8)
      Files.write(dir.resolve(f"part-$i%03d.jsonl"), body)
      body.length.toLong
    }.sum
  }

  /** Bytes of the regular files under `dir` whose names end in `suffix`. */
  def dirBytes(dir: Path, suffix: String = ""): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
          .map(Files.size).sum
      } finally s.close()
    }

  // ---------------------------------------------------------------- tab_etl

  final case class TabParams(rows: Long, stores: Int, dimCoverPct: Int, regions: Int)

  /** Store ids 50000..51000 of `Datasets.syntheticOrderData`; the
    * dimension covers `dimCoverPct` percent of them, so the left join
    * leaves planted nulls for the imputation step to fill.
    */
  def dimRows(seed: Long, p: TabParams): Seq[(Long, String, Double)] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    (50000L until 50000L + p.stores).flatMap { s =>
      if (rnd.nextInt(100) >= p.dimCoverPct) None
      else Some((s, s"R${rnd.nextInt(p.regions)}", (rnd.nextInt(10000) + 1) / 100.0))
    }
  }

  /** Writes `orders/` (CSV part files of the reference's synthetic order
    * data) and `dim.csv` under `dir`; returns input CSV bytes.
    */
  def writeTab(spark: SparkSession, dir: Path, seed: Long, p: TabParams): Long = {
    graft.sources.Datasets.syntheticOrderData(spark, p.rows, seed)
      .write.option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(dir.resolve("orders").toString)
    val dim = dimRows(seed, p)
      .map { case (s, r, w) => s"$s,$r,$w" }
      .mkString("store_id,region,weight\n", "\n", "\n")
    Files.write(dir.resolve("dim.csv"), dim.getBytes(UTF_8))
    dirBytes(dir.resolve("orders"), ".csv")
  }

  // ------------------------------------------------------------ curate_chain

  /** Ids of the indexed base corpus, disjoint from the scored corpus. */
  val BaseIds = 20000000L

  final case class CurateParams(
      docs: Int, exactDupPct: Int, nearDupPct: Int, junkPct: Int,
      contaminatedPct: Int, piiPct: Int, indexedPct: Int, baseDocs: Int,
      benchDocs: Int, trainDocs: Int, minLen: Int, maxLen: Int, lexicon: Int)

  /** The corpus plus its planted truth: `dropped` maps each planted id
    * to its kind; the curation chain drops every kind but `indexed`,
    * which the ingest into the index of `base` drops. `pii` holds the ids
    * whose surviving text must come out scrubbed; `bench` is the
    * evaluation set survivors must not overlap.
    */
  final case class Corpus(
      docs: Vector[(Long, String)], bench: Vector[String], base: Vector[(Long, String)],
      dropped: Map[Long, String], pii: Set[Long]) {
    def survivors: Set[Long] = docs.iterator.map(_._1).filterNot(dropped.contains).toSet
  }

  def corpus(seed: Long, p: CurateParams): Corpus = {
    val lex = lexicon(seed, p.lexicon)
    val rnd = new SplittableRandom(seed)
    def len(): Int = p.minLen + rnd.nextInt(p.maxLen - p.minLen + 1)
    val bench = Vector.fill(p.benchDocs)(cleanText(rnd, lex, len()))
    val base = Vector.tabulate(p.baseDocs)(i => (BaseIds + i, cleanText(rnd, lex, len())))
    def n(pct: Int): Int = p.docs * pct / 100
    val nPlanted = n(p.exactDupPct) + n(p.nearDupPct) + n(p.junkPct) + n(p.indexedPct)
    val nClean = p.docs - nPlanted
    // clean part: plain, contaminated and PII docs; ids 0 until nClean
    val kinds = Array.fill(nClean)(0)
    val pick = (0 until nClean).toArray
    // deterministic Fisher-Yates to choose which clean ids carry a plant
    (nClean - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = pick(i); pick(i) = pick(j); pick(j) = t
    }
    pick.take(n(p.contaminatedPct)).foreach(i => kinds(i) = 1)
    pick.slice(n(p.contaminatedPct), n(p.contaminatedPct) + n(p.piiPct)).foreach(i => kinds(i) = 2)
    val plain = pick.drop(n(p.contaminatedPct) + n(p.piiPct))
    val clean = (0 until nClean).map { i =>
      val base = cleanText(rnd, lex, len())
      kinds(i) match {
        case 0 => base
        case 1 => // a 20-token span of a benchmark doc: >= 8 shared 13-grams
          val b = bench(rnd.nextInt(bench.length)).split(" ")
          val at = rnd.nextInt(b.length - 20)
          val toks = base.split(" ")
          val cut = toks.length / 2
          (toks.take(cut) ++ b.slice(at, at + 20) ++ toks.drop(cut)).mkString(" ")
        case _ =>
          val toks = base.split(" ")
          val cut = toks.length / 3
          (toks.take(cut) ++ Seq("contact", s"user${rnd.nextInt(1000)}@mail.example.org",
            "or", s"+1 555 ${100 + rnd.nextInt(900)} ${1000 + rnd.nextInt(9000)}") ++ toks.drop(cut))
            .mkString(" ")
      }
    }.toVector
    val dropped = Map.newBuilder[Long, String]
    (0 until nClean).filter(kinds(_) == 1).foreach(i => dropped += i.toLong -> "contaminated")
    var next = nClean.toLong
    val planted = Vector.newBuilder[(Long, String)]
    // originals are drawn without replacement from plain clean docs
    val originals = plain.iterator
    (0 until n(p.exactDupPct)).foreach { _ =>
      planted += next -> clean(originals.next()); dropped += next -> "exact_dup"; next += 1
    }
    (0 until n(p.nearDupPct)).foreach { _ =>
      planted += next -> nearCopy(rnd, lex, clean(originals.next())); dropped += next -> "near_dup"
      next += 1
    }
    (0 until n(p.junkPct)).foreach { j =>
      val (kind, text) = j % 3 match {
        case 0 => ("junk_short", cleanText(rnd, lex, 4 + rnd.nextInt(10)))
        case 1 =>
          val a = lex(rnd.nextInt(lex.length)); val b = lex(rnd.nextInt(lex.length))
          ("junk_repetitive", Seq.fill(len() / 2)(s"$a $b").mkString(" "))
        case _ => ("junk_spam", gibberishText(rnd, len()))
      }
      planted += next -> text; dropped += next -> kind; next += 1
    }
    // copies (half exact, half one-token edits) of distinct indexed docs:
    // unique within the corpus, dropped only by the ingest against the index
    (0 until n(p.indexedPct)).foreach { j =>
      val t = base(j * base.length / math.max(1, n(p.indexedPct)))._2
      planted += next -> (if (j % 2 == 0) t else nearCopy(rnd, lex, t))
      dropped += next -> "indexed"; next += 1
    }
    val docs = clean.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ planted.result()
    Corpus(docs, bench, base, dropped.result(),
      (0 until nClean).filter(kinds(_) == 2).map(_.toLong).toSet)
  }

  /** Model-training corpora, disjoint from the scored corpus: clean
    * positives and off-lexicon negatives.
    */
  def trainingText(seed: Long, p: CurateParams): (Vector[String], Vector[String]) = {
    val lex = lexicon(seed, p.lexicon)
    val rnd = new SplittableRandom(seed * 7919 + 1)
    def len(): Int = p.minLen + rnd.nextInt(p.maxLen - p.minLen + 1)
    (Vector.fill(p.trainDocs)(cleanText(rnd, lex, len())),
      Vector.fill(p.trainDocs / 4)(gibberishText(rnd, len())))
  }
}
