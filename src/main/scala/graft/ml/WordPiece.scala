package graft.ml

import graft.plans.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — the THIRD learned-subword family next to
  * [[Bpe]] (merge-frequency) and [[UnigramLm]] (EM-pruned unigram LM):
  * vocabulary learning per Schuster & Nakajima 2012 ("Japanese and
  * Korean voice search", §3: greedily add the merge that most
  * increases training-data likelihood under a unigram LM — for a pair
  * (l, r) that is the count ratio `count(lr) / (count(l)·count(r))`,
  * the published WordPiece selection criterion, vs BPE's raw
  * `count(lr)`), and encoding per the BERT application algorithm
  * (Devlin et al. 2019: greedy longest-match-first, word-internal
  * pieces carry the `##` continuation prefix, a word with an
  * unmatchable position becomes one `[UNK]`).
  *
  * Same two-phase 100 TB shape as the other two trainers:
  *  - corpus-sized work is ONE distributed word-frequency aggregation
  *    (partial-agg combine → TakeOrderedAndProject top `maxTypes`);
  *    merge learning replays driver-side over the bounded dictionary
  *    with incremental pair- AND symbol-count maintenance.
  *  - encoding is a stateless codegen kernel
  *    ([[Kernels.WordPieceTokensExpr]]) with the vocabulary riding as
  *    a HashSet reference object — zero shuffle, streaming-safe.
  *
  * Word rule: the engine-wide tokenization (`Kernels.wordShingles`
  * order 1 — lowercased `[a-z0-9]` runs). The base vocabulary carries
  * all 36 charset members in both word-initial and `##` continuation
  * form, so encoding any wordShingles output is total and lossless
  * ([UNK] can only fire under a user-injected restricted vocabulary).
  */
object WordPiece {

  val Unk = "[UNK]"

  /** Learned vocabulary: `pieces(0)` is `[UNK]`, then the 72 base
    * symbols in fixed order, then merge outputs in learned order —
    * ids are DETERMINISTIC given the merges and dense in
    * `[0, pieces.length)`. Two merge paths can produce the same
    * symbol; equal strings are the same token and the FIRST
    * occurrence's id wins (the [[Bpe.vocab]] rule).
    */
  final case class Model(pieces: Array[String]) {
    require(pieces.nonEmpty && pieces(0) == Unk,
      s"WordPiece model must lead with $Unk")

    /** Longest piece payload in chars — the encoder's match bound. */
    val maxLen: Int = {
      var m = 1
      var i = 1
      while (i < pieces.length) {
        val p = pieces(i)
        val len = if (p.startsWith("##")) p.length - 2 else p.length
        if (len > m) m = len
        i += 1
      }
      m
    }

    def vocabSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](pieces.length * 2)
      var i = 1
      while (i < pieces.length) { s.add(pieces(i)); i += 1 }
      s
    }

    def idTable: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](pieces.length * 2)
      // reversed: the EARLIEST index per symbol survives
      var i = pieces.length - 1
      while (i >= 0) { m.put(pieces(i), Integer.valueOf(i)); i -= 1 }
      m
    }
  }

  private val baseChars: IndexedSeq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(String.valueOf)

  /** Likelihood-scored merge learning over the word-type frequency
    * dictionary: each step picks the pair maximizing
    * `count(pair) / (count(left)·count(right))` among pairs with
    * `count(pair) >= minCount`; score ties break to the
    * lexicographically smallest pair, so training is deterministic.
    * Incremental maintenance mirrors [[Bpe.learnMerges]], extended
    * with symbol counts (the score's denominator).
    */
  private[ml] def learnMerges(
      types: Array[(String, Long)], numMerges: Int, minCount: Long): Array[String] = {
    import scala.collection.mutable
    val words: Array[Array[String]] = types.map { case (w, _) =>
      val a = new Array[String](w.length)
      var i = 0
      while (i < w.length) {
        a(i) = if (i == 0) String.valueOf(w.charAt(i)) else "##" + w.charAt(i)
        i += 1
      }
      a
    }
    val freqs: Array[Long] = types.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    val symCounts = mutable.HashMap.empty[String, Long]
    def scanWord(wi: Int, sign: Long): Unit = {
      val w = words(wi)
      val f = sign * freqs(wi)
      var j = 0
      while (j < w.length) {
        val sc = symCounts.getOrElse(w(j), 0L) + f
        if (sc <= 0L) symCounts.remove(w(j)) else symCounts(w(j)) = sc
        if (j < w.length - 1) {
          val p = (w(j), w(j + 1))
          val c = pairCounts.getOrElse(p, 0L) + f
          if (c <= 0L) { pairCounts.remove(p); pairWords.get(p).foreach(_ -= wi) }
          else {
            pairCounts(p) = c
            if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
          }
        }
        j += 1
      }
    }
    var wi = 0
    while (wi < words.length) { scanWord(wi, 1L); wi += 1 }
    val out = mutable.ArrayBuffer.empty[String]
    var continue = true
    while (continue && out.length < numMerges && pairCounts.nonEmpty) {
      var best: (String, String) = null
      var bestScore = 0.0
      pairCounts.foreach { case (p, c) =>
        if (c >= minCount) {
          val score = c.toDouble /
            (symCounts.getOrElse(p._1, 1L).toDouble * symCounts.getOrElse(p._2, 1L))
          if (score > bestScore || (score == bestScore && best != null &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestScore = score
          }
        }
      }
      if (best == null) continue = false
      else {
        val joined = best._1 + best._2.substring(2) // right is always ##-prefixed
        out += joined
        val affected = pairWords.getOrElse(best, mutable.BitSet.empty).toArray
        affected.foreach { wi =>
          scanWord(wi, -1L)
          val w = words(wi)
          val nw = mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < w.length) {
            if (j < w.length - 1 && w(j) == best._1 && w(j + 1) == best._2) {
              nw += joined; j += 2
            } else { nw += w(j); j += 1 }
          }
          words(wi) = nw.toArray
          scanWord(wi, 1L)
        }
      }
    }
    out.toArray
  }

  /** Train: one distributed word-count aggregation (counts shuffle,
    * text never does), top-`maxTypes` types (ties alphabetic), then
    * driver-side likelihood-scored merge learning on the bounded
    * dictionary — [[Bpe.train]]'s exact scale shape.
    */
  def train(
      corpus: DataFrame, textCol: String, numMerges: Int,
      maxTypes: Int = 100000, minCount: Long = 2L): Model = {
    require(numMerges > 0 && maxTypes > 0 && minCount >= 1,
      s"numMerges/maxTypes/minCount: $numMerges/$maxTypes/$minCount")
    val types = graft.operators.Rebalance.spread(corpus)
      .select(explode(Kernels.wordShingles(col(textCol), 1)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), asc("__w")).limit(maxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(types.nonEmpty, "WordPiece training corpus produced no words")
    val merges = learnMerges(types, numMerges, minCount)
    Model((Unk +: (baseChars ++ baseChars.map("##" + _))).toArray ++ merges)
  }

  /** WordPiece token array of a document (codegen kernel). */
  def tokens(text: Column, m: Model): Column =
    Kernels.wordpieceTokens(text, m.vocabSet, m.maxLen, Unk)

  /** Token-ID array — tokenize + id-emit in ONE kernel call (O(1)
    * HashMap probe per token, the [[Bpe.tokenIds]] pattern). Every
    * emitted token incl. `[UNK]` is in the id table, so there is no
    * OOV id.
    */
  def tokenIds(text: Column, m: Model): Column =
    Kernels.wordpieceTokenIds(text, m.vocabSet, m.maxLen, Unk, m.idTable)

  /** Token count under the learned vocabulary — budget-accounting
    * drop-in, like [[Bpe.tokenCount]].
    */
  def tokenCount(text: Column, m: Model): Column =
    size(tokens(text, m))

  /** The model as a self-contained frame `(id, piece)` — bounded by
    * the vocabulary size by construction.
    */
  def modelFrame(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    m.pieces.zipWithIndex.map { case (p, i) => (i, p) }.toSeq.toDF("id", "piece")
  }

  def save(spark: SparkSession, m: Model, path: String): Unit =
    modelFrame(spark, m).repartition(1).write.mode("overwrite").parquet(path)

  /** Bounded collect (≤ vocab-size rows); id order restored from the
    * id column — parquet row order is not a contract.
    */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path).select("id", "piece")
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"empty WordPiece model at $path")
    require(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq,
      s"WordPiece model at $path has gaps in id order")
    Model(rows.map(_.getString(1)))
  }
}
