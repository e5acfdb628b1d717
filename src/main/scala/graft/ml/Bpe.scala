package graft.ml

import graft.plans.Kernels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * a LEARNED subword vocabulary, so token-budget accounting
  * (chunking, packing, mixing) can run against the same kind of
  * vocabulary the downstream model trains with, instead of the
  * whitespace/regex approximation in `TextFunctions.tokenCount`.
  *
  * Faithful to the published algorithm's two-phase shape, which is
  * ALSO the 100 TB shape:
  *  - The corpus-sized work is ONE distributed word-frequency
  *    aggregation (partial-agg combine, then TakeOrderedAndProject to
  *    the top `maxTypes` word types) — merge learning never sees the
  *    corpus, only the bounded type dictionary, exactly as in the
  *    paper (§3.2 operates on the word-frequency dict).
  *  - Merge learning replays driver-side over that bounded dictionary
  *    with incremental pair-count maintenance (only words containing
  *    the merged pair are touched per step). Tokenizer training is a
  *    once-per-corpus bounded computation, not a per-document path.
  *  - ENCODING is the per-document hot path: a stateless codegen
  *    kernel ([[Kernels.BpeTokensExpr]]) with the merge-rank table
  *    riding as a reference object — zero shuffle, composes into
  *    Structured Streaming.
  *
  * Word rule: the engine-wide tokenization (`Kernels.wordShingles`
  * order 1 — lowercased `[a-z0-9]` runs), so BPE token counts are
  * directly comparable with every other text operator here. Each word
  * ends with the paper's `</w>` marker; concatenating a word's tokens
  * and dropping the marker reconstructs the word exactly (losslessness
  * is spec-pinned).
  */
object Bpe {

  /** Learned merges in rank order (index = rank, lower applies first). */
  final case class Model(merges: Array[(String, String)]) {
    def ranksTable: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.length * 2)
      var i = 0
      while (i < merges.length) {
        m.put(merges(i)._1 + " " + merges(i)._2, Integer.valueOf(i))
        i += 1
      }
      m
    }
  }

  /** Classic merge learning over the word-type frequency dictionary.
    * Deterministic: ties on pair frequency break to the
    * lexicographically smallest pair, so two trainings of the same
    * dictionary always produce the same merge list.
    */
  private[ml] def learnMerges(
      types: Array[(String, Long)], numMerges: Int, minCount: Long): Array[(String, String)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] = types.map { case (w, _) =>
      val a = new Array[String](w.length + 1)
      var i = 0
      while (i < w.length) { a(i) = String.valueOf(w.charAt(i)); i += 1 }
      a(w.length) = "</w>"
      a
    }
    val freqs: Array[Long] = types.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def scanWord(wi: Int, sign: Long): Unit = {
      val w = words(wi)
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        val c = pairCounts.getOrElse(p, 0L) + sign * freqs(wi)
        if (c <= 0L) { pairCounts.remove(p); pairWords.get(p).foreach(_ -= wi) }
        else {
          pairCounts(p) = c
          if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        }
        j += 1
      }
    }
    var wi = 0
    while (wi < words.length) { scanWord(wi, 1L); wi += 1 }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < numMerges && pairCounts.nonEmpty) {
      var best: (String, String) = null
      var bestC = 0L
      pairCounts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null || bestC < minCount) continue = false
      else {
        merges += best
        val affected = pairWords.getOrElse(best, mutable.BitSet.empty).toArray
        val joined = best._1 + best._2
        affected.foreach { wi =>
          scanWord(wi, -1L)
          val w = words(wi)
          val out = mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < w.length) {
            if (j < w.length - 1 && w(j) == best._1 && w(j + 1) == best._2) {
              out += joined; j += 2
            } else { out += w(j); j += 1 }
          }
          words(wi) = out.toArray
          scanWord(wi, 1L)
        }
      }
    }
    merges.toArray
  }

  /** Train: one distributed word-count aggregation (the corpus-sized
    * pass — counts shuffle, text never does), top-`maxTypes` types by
    * frequency (ties alphabetic, for determinism), then driver-side
    * merge learning on the bounded dictionary.
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
    require(types.nonEmpty, "BPE training corpus produced no words")
    Model(learnMerges(types, numMerges, minCount))
  }

  /** BPE token array of a document (kernel; order within the document
    * is word order, subword order within each word).
    */
  def tokens(text: Column, m: Model): Column =
    Kernels.bpeTokens(text, m.ranksTable)

  /** Token count under the learned vocabulary — the budget-accounting
    * drop-in for `TextFunctions.tokenCount` wherever a real subword
    * count matters (packing, chunking, mixing).
    */
  def tokenCount(text: Column, m: Model): Column =
    size(tokens(text, m))

  /** The id-bearing vocabulary a trained model can emit: the 37 base
    * symbols (`a-z`, `0-9`, `</w>`) in fixed order, then each merge's
    * output symbol in rank order — so ids are DETERMINISTIC given the
    * merges, stable under save/load, and dense in
    * `[0, 37 + numMerges)`. (Encoding only ever outputs base symbols
    * and merge results — the word rule lowercases to `[a-z0-9]` — so
    * this vocabulary is complete by construction.)
    */
  def vocab(m: Model): Array[String] = {
    val base = (('a' to 'z') ++ ('0' to '9')).map(String.valueOf) :+ "</w>"
    (base ++ m.merges.map { case (l, r) => l + r }).toArray
  }

  /** Token-ID array of a document — the training-ready sequence.
    * Tokenize + id-emit in ONE codegen kernel call with a HashMap id
    * table as a reference object: O(1) per token, vs the map-literal
    * `element_at` route's O(|V|) linear probe of ArrayBasedMapData
    * (~100× slower at a production 32k–64k vocabulary). Every token is
    * in [[vocab]] by construction, so there is no OOV id. Two merge
    * paths CAN produce the same symbol string (("a","bc") and
    * ("ab","c") both yield "abc") — equal strings are the same token,
    * so the FIRST occurrence's id wins and the table stays total.
    */
  def tokenIds(text: Column, m: Model): Column =
    Kernels.bpeTokenIds(text, m.ranksTable, idTable(m))

  private def idTable(m: Model): java.util.HashMap[String, Integer] = {
    val ids = new java.util.HashMap[String, Integer]()
    // reversed iteration: later puts win, so the EARLIEST index per
    // symbol is what survives (the first-occurrence rule above)
    vocab(m).zipWithIndex.reverse.foreach { case (s, i) => ids.put(s, i) }
    ids
  }

  /** The map-literal id route the kernel replaced — kept (test-only)
    * as the parity reference for the kernel path.
    */
  private[graft] def tokenIdsMapLiteral(text: Column, m: Model): Column = {
    val firstIds = vocab(m).zipWithIndex.reverse.toMap // earlier entries overwrite later
    transform(tokens(text, m), t => element_at(typedlit(firstIds), t))
  }

  /** The model as a self-contained frame: `(rank, left, right)`, one
    * row per merge. Bounded by `numMerges` by construction.
    */
  def modelFrame(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    m.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }.toSeq
      .toDF("rank", "left", "right")
  }

  def save(spark: SparkSession, m: Model, path: String): Unit =
    modelFrame(spark, m).repartition(1).write.mode("overwrite").parquet(path)

  /** Bounded collect (≤ numMerges rows). Rank order restored from the
    * rank column — parquet row order is not a contract.
    */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path).select("rank", "left", "right")
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"empty BPE model at $path")
    require(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq,
      s"BPE model at $path has gaps in rank order")
    Model(rows.map(r => (r.getString(1), r.getString(2))))
  }
}
