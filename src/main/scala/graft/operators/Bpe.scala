package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ws_tokens

/** Byte-pair-encoding tokenizer training + application (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words
  * with Subword Units") — the OTHER public subword algorithm next to
  * the q233 unigram LM, and the one GPT-family pipelines actually
  * ship. Everything is deterministic and integer-exact, so both the
  * trained merge table and the corpus token budget replay in a SQL
  * oracle:
  *
  *  - '''Training is word-count-level''' (the standard trick): BPE
  *    never needs the corpus, only the DISTINCT words with their
  *    frequencies — a bounded table (contract `maxVocab`), collected
  *    once and folded on the driver like the perceptron /
  *    covariance collects. Each round counts adjacent piece pairs
  *    (every adjacency position, weighted by word count), picks the
  *    max — ties break to the LEXICOGRAPHICALLY SMALLEST (left,
  *    right) pair — and rewrites every word left-to-right
  *    non-overlapping. A corpus that exhausts its pairs before
  *    `merges` rounds fails loudly (a fixed-size merge table is the
  *    contract the oracle unrolls).
  *  - '''Application is pure column algebra''': a word becomes the
  *    separator-padded char string `<s>c<s>c<s>...` (<s> = U+0001,
  *    contract-checked absent from the corpus), and each
  *    merge (a, b) is ONE literal `replace(str, "<s>a<s>b<s>", "<s>ab<s>")` — `java.lang.String.replace` and SQL
  *    `replace` both substitute left-to-right non-overlapping, which
  *    IS the BPE application rule, so the k-merge chain is k nested
  *    codegen-friendly string ops with no UDF, no explode, no state.
  *    Piece count = separators − 1. Works on unseen words too.
  *
  * Scale shape: training touches one distinct-word aggregation
  * (partial-aggregated, bounded by contract) + a driver fold over
  * ≤ maxVocab rows; application is map-only over exploded tokens
  * with one groupBy(doc) roll-up. */
object Bpe {

  val Sep = "\u0001"

  final case class Merge(left: String, right: String, pairCount: Long)

  /** Train `merges` BPE merges on the word-frequency table of
    * (idCol-irrelevant) `textCol`. Loud contracts: distinct-word
    * bound, word-length bound (the padded string is 2·len+1), and
    * pair exhaustion. */
  def train(df: DataFrame, textCol: String, merges: Int,
            maxVocab: Long = 200000L, maxWordLen: Int = 64): Seq[Merge] = {
    require(merges >= 1 && merges <= 4096,
      s"Bpe.train: merges out of range: $merges")
    val (words, _) = Contracts.checkpoint(df
      .select(explode(ws_tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c")),
      Contracts.Bound(count(lit(1)), _ <= maxVocab, m =>
        s"Bpe.train: $m distinct words exceed the driver-collect " +
          s"bound (maxVocab=$maxVocab) — train on a word sample"),
      Contracts.Bound(max(length(col("__w")).cast("long")),
        _ <= maxWordLen, m =>
        s"Bpe.train: a word of $m chars exceeds maxWordLen=" +
          s"$maxWordLen"),
      Contracts.Bound(sum(when(col("__w").contains(Sep), 1L)
        .otherwise(0L)), _ == 0L, m =>
          s"Bpe.train: $m words contain the U+0001 separator"))
    // (pieces, count), deterministic order irrelevant to the fold
    // (pair counts are a commutative sum; the argmax is a total order)
    var vocab: Array[(Array[String], Long)] = words.collect()
      .map(r => (r.getString(0).toCharArray.map(_.toString), r.getLong(1)))
    val out = Seq.newBuilder[Merge]
    var m = 0
    while (m < merges) {
      val pc = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (p, c) =>
        var i = 0
        while (i < p.length - 1) {
          pc.merge((p(i), p(i + 1)), c, _ + _)
          i += 1
        }
      }
      if (pc.isEmpty)
        throw new IllegalArgumentException(
          s"Bpe.train: pairs exhausted after $m of $merges merges — " +
            "every word is a single piece; lower `merges`")
      var best: ((String, String), Long) = null
      pc.forEach { (k, v) =>
        if (best == null || v > best._2 ||
          (v == best._2 && (k._1 < best._1._1 ||
            (k._1 == best._1._1 && k._2 < best._1._2)))) best = (k, v)
      }
      val (pa, pb) = best._1
      out += Merge(pa, pb, best._2)
      vocab = vocab.map { case (p, c) =>
        if (p.length < 2) (p, c)
        else {
          val nb = Array.newBuilder[String]
          var i = 0
          while (i < p.length) {
            if (i < p.length - 1 && p(i) == pa && p(i + 1) == pb) {
              nb += pa + pb; i += 2
            } else { nb += p(i); i += 1 }
          }
          (nb.result(), c)
        }
      }
      m += 1
    }
    out.result()
  }

  /** The merge table as a frame: (merge_idx, left_piece, right_piece,
    * pair_count) — the committable tokenizer artifact. */
  def mergesFrame(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case (m, i) =>
      (i.toLong, m.left, m.right, m.pairCount)
    }.toDF("merge_idx", "left_piece", "right_piece", "pair_count")
  }

  /** The separator-padded char form of a word. */
  def padded(word: Column): Column =
    concat(lit(Sep), regexp_replace(word, "(.)", "$1" + Sep))

  /** The k-merge application chain over a padded word column — k
    * nested literal `replace`s, whole-stage-codegen friendly. */
  def applyMerges(paddedWord: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(paddedWord) { (acc, m) =>
      call_function("replace", acc,
        lit(Sep + m.left + Sep + m.right + Sep),
        lit(Sep + m.left + m.right + Sep))
    }

  /** Corpus token budget under a trained merge list: one explode →
    * per-token piece count (separators − 1 of the applied form) →
    * per-doc roll-up. Output (idCol, n_words, n_pieces). */
  def tokenBudget(df: DataFrame, idCol: String, textCol: String,
                  merges: Seq[Merge]): DataFrame = {
    val applied = applyMerges(padded(col("__w")), merges)
    df.select(col(idCol), explode(ws_tokens(col(textCol))).as("__w"))
      .select(col(idCol),
        (length(applied) -
          length(call_function("replace", applied, lit(Sep), lit(""))) -
          1L).as("__np"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__np")).as("n_pieces"))
  }
}
