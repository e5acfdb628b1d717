package graft.ml

import graft.plans.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-language-model subword tokenizer (Kudo 2018, "Subword
  * Regularization: Improving Neural Network Translation Models with
  * Multiple Subword Candidates", §3 — the algorithm SentencePiece
  * ships as `--model_type=unigram`): a vocabulary of subword pieces
  * with unigram probabilities, decoding = Viterbi-best segmentation,
  * training = seed a large candidate vocabulary, EM the piece
  * probabilities, prune to the target size. The probabilistic
  * counterpart of [[Bpe]] — together they cover both tokenizer
  * families a training pipeline meets in practice.
  *
  * Same two-phase 100 TB shape as [[Bpe]]:
  *  - corpus-sized work is ONE distributed word-frequency aggregation
  *    (counts shuffle, text never does) to the top `maxTypes` word
  *    types — seeding, EM, and pruning all replay driver-side over
  *    that bounded dictionary, as in the paper (the corpus enters the
  *    likelihood only through type frequencies);
  *  - encoding is a stateless codegen kernel
  *    ([[Kernels.UnigramTokensExpr]] — Viterbi per word, piece table
  *    riding as a reference object): zero shuffle, composes into
  *    Structured Streaming.
  *
  * Hard (Viterbi) EM rather than full forward–backward: deterministic,
  * monotone in corpus likelihood on a fixed vocabulary, and the
  * decode-time segmentation IS the statistic being optimized. Word
  * rule: engine-wide `wordShingles` order 1; pieces never cross word
  * boundaries, and concatenating a word's pieces reconstructs the word
  * exactly (losslessness is structural — every piece is a substring).
  */
object UnigramLm {

  /** Pieces with log-probabilities, id = array index. Deterministic
    * order: by (expected count desc, piece asc) at finalization.
    */
  final case class Model(pieces: Array[String], logps: Array[Double]) {
    def maxLen: Int = pieces.iterator.map(_.length).max
    def table: java.util.HashMap[String, java.lang.Double] = {
      val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      var i = 0
      while (i < pieces.length) { m.put(pieces(i), logps(i)); i += 1 }
      m
    }
  }

  /** Driver-side learning over the bounded type dictionary. */
  private[ml] def learnVocab(
      types: Array[(String, Long)], targetSize: Int, maxPieceLen: Int,
      seedSize: Int, emIters: Int, keepFrac: Double): (Array[String], Array[Double]) = {
    import scala.collection.mutable
    // 1. seed: all substrings (len 2..maxPieceLen) scored by
    //    freq-weighted occurrence count, top seedSize by (count, piece);
    //    plus every single character (coverage floor — decoding is total
    //    over the training charset by construction)
    val subCounts = mutable.HashMap.empty[String, Long]
    types.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        val hi = math.min(w.length, i + maxPieceLen)
        while (j <= hi) {
          val s = w.substring(i, j)
          subCounts(s) = subCounts.getOrElse(s, 0L) + f
          j += 1
        }
        i += 1
      }
    }
    val chars = subCounts.keysIterator.filter(_.length == 1).toArray.sorted
    val multi = subCounts.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (s, c) => (-c, s) }.take(seedSize).map(_._1)
    var vocab: Array[String] = chars ++ multi
    // initial probs from raw substring counts
    var logp: mutable.HashMap[String, Double] = {
      val total = vocab.iterator.map(subCounts(_).toDouble).sum
      mutable.HashMap.from(vocab.iterator.map(s =>
        s -> math.log(subCounts(s).toDouble / total)))
    }
    val floor = -1e3 // effectively-never piece; keeps chars decodable
    def emRound(): mutable.HashMap[String, Double] = {
      val table = new java.util.HashMap[String, java.lang.Double](logp.size * 2)
      logp.foreach { case (s, p) => table.put(s, p) }
      val maxLen = vocab.iterator.map(_.length).max
      val counts = mutable.HashMap.empty[String, Double]
      types.foreach { case (w, f) =>
        viterbi(w, table, maxLen).foreach { p =>
          counts(p) = counts.getOrElse(p, 0.0) + f.toDouble
        }
      }
      val total = counts.valuesIterator.sum
      mutable.HashMap.from(vocab.iterator.map { s =>
        val c = counts.getOrElse(s, 0.0)
        s -> (if (c > 0) math.log(c / total) else floor)
      })
    }
    // 2./3. EM + prune loop: shrink the multi-char tail by expected
    //    count until the vocabulary fits, EM-ing between prunes
    var iter = 0
    while (iter < emIters) { logp = emRound(); iter += 1 }
    while (vocab.length > targetSize) {
      val keep = math.max(targetSize - chars.length,
        ((vocab.length - chars.length) * keepFrac).toInt)
      val ranked = vocab.iterator.filter(_.length > 1).toArray
        .sortBy(s => (-logp(s), s))
      vocab = chars ++ ranked.take(keep)
      val kept = vocab.toSet
      logp = logp.filter { case (s, _) => kept(s) }
      iter = 0
      while (iter < emIters) { logp = emRound(); iter += 1 }
    }
    // 4. deterministic finalization order: by (logp desc, piece asc)
    val fin = vocab.sortBy(s => (-logp(s), s))
    (fin, fin.map(logp))
  }

  private def viterbi(w: String,
      table: java.util.HashMap[String, java.lang.Double], maxLen: Int): Array[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (best(j) != Double.NegativeInfinity) {
          val p = table.get(w.substring(j, i))
          if (p != null && best(j) + p > best(i)) { best(i) = best(j) + p; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    if (best(n) == Double.NegativeInfinity) return w.map(String.valueOf(_)).toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out.prepend(w.substring(back(pos), pos)); pos = back(pos) }
    out.toArray
  }

  /** Train: one distributed word-count aggregation to the top
    * `maxTypes` types (ties alphabetic — deterministic), then
    * driver-side seed → EM → prune on the bounded dictionary.
    */
  def train(
      corpus: DataFrame, textCol: String, vocabSize: Int,
      maxTypes: Int = 100000, maxPieceLen: Int = 8,
      seedFactor: Int = 4, emIters: Int = 2, keepFrac: Double = 0.8): Model = {
    require(vocabSize > 36 && maxPieceLen >= 2 && seedFactor >= 1,
      s"vocabSize/maxPieceLen/seedFactor: $vocabSize/$maxPieceLen/$seedFactor")
    val types = graft.operators.Rebalance.spread(corpus)
      .select(explode(Kernels.wordShingles(col(textCol), 1)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), asc("__w")).limit(maxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(types.nonEmpty, "unigram-LM training corpus produced no words")
    val (pieces, logps) = learnVocab(types, vocabSize, maxPieceLen,
      seedSize = vocabSize * seedFactor, emIters = emIters, keepFrac = keepFrac)
    Model(pieces, logps)
  }

  /** Piece array of a document (codegen kernel; word order, piece order
    * within each word).
    */
  def tokens(text: Column, m: Model): Column =
    Kernels.unigramTokens(text, m.table, m.maxLen)

  /** Token count under the learned vocabulary. */
  def tokenCount(text: Column, m: Model): Column = size(tokens(text, m))

  /** Token-ID array — ids are the model's deterministic piece order.
    * Tokenize + id-emit in ONE codegen kernel call with a HashMap id
    * table as a reference object (O(1) per token — see
    * [[Bpe.tokenIds]] for why the map-literal route doesn't scale to
    * real vocabularies). Characters outside the trained charset decode
    * via the kernel's per-character fallback and map to id -1 (explicit
    * OOV marker, unlike [[Bpe]] whose charset is closed).
    */
  def tokenIds(text: Column, m: Model): Column = {
    val ids = new java.util.HashMap[String, Integer]()
    m.pieces.zipWithIndex.foreach { case (p, i) => ids.put(p, i) }
    Kernels.unigramTokenIds(text, m.table, m.maxLen, ids)
  }

  /** The map-literal id route the kernel replaced — kept (test-only)
    * as the parity reference for the kernel path.
    */
  private[graft] def tokenIdsMapLiteral(text: Column, m: Model): Column = {
    val ids = m.pieces.zipWithIndex.toMap
    transform(tokens(text, m), t => coalesce(
      element_at(typedlit(ids), t), lit(-1)))
  }

  /** Corpus Viterbi log-likelihood per doc under the model — the
    * training objective as a scoring column (used by the gate to pin
    * EM's monotonicity). One kernel pass (tokenize + O(1)-probe sum);
    * bit-identical to [[logLikelihoodMapLiteral]] (same segmentation,
    * same token-order summation — pinned by spec).
    */
  def logLikelihood(text: Column, m: Model): Column =
    Kernels.unigramLogLik(text, m.table, m.maxLen, floor = -1e3)

  /** The map-literal fold the kernel replaced — kept (test-only) as the
    * parity reference: `element_at` over a Catalyst map literal probes
    * linearly (O(|V|) per token), which dominated q_unigram's agg.
    */
  private[graft] def logLikelihoodMapLiteral(text: Column, m: Model): Column =
    aggregate(
      transform(tokens(text, m), p => coalesce(
        element_at(typedlit(m.pieces.zip(m.logps).toMap), p), lit(-1e3))),
      lit(0.0), (acc, x) => acc + x)

  /** The model as a self-contained frame: `(id, piece, logp)`. */
  def modelFrame(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    m.pieces.indices.map(i => (i, m.pieces(i), m.logps(i))).toDF("id", "piece", "logp")
  }

  def save(spark: SparkSession, m: Model, path: String): Unit =
    modelFrame(spark, m).repartition(1).write.mode("overwrite").parquet(path)

  /** Bounded collect (≤ vocabSize rows); id order restored from the id
    * column.
    */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path).select("id", "piece", "logp")
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"empty unigram-LM model at $path")
    require(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq,
      s"unigram-LM model at $path has gaps in id order")
    Model(rows.map(_.getString(1)), rows.map(_.getDouble(2)))
  }
}
