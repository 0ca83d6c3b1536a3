package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning — the counting loop behind
  * tokenizer training (Sennrich et al. 2016), distributed the way a
  * 100 TB corpus demands: the corpus is scanned ONCE to aggregate the
  * word vocabulary (tokens ≫ distinct words, so every later round runs
  * over the vocab frame, never the corpus), then each merge round is
  * one explode→weighted-count over vocab, a deterministic argmax, and
  * a codegen'd string `replace` applying the merge to the vocab.
  *
  * Symbol sequences are space-delimited strings wrapped in sentinels
  * (`" a g g "`), so applying merge (l, r) is
  * `replace(seq, " l r ", " lr ")` — a plain non-regex built-in whose
  * left-to-right, non-rescanning continuation is the SAME in Java and
  * DuckDB (verified: `" a a a a a "` → `" aa a aa "` in both), making
  * the greedy merge bit-reproducible in the oracle. Multi-char symbols
  * never contain spaces, so the sentinel pattern cannot false-match.
  *
  * Like [[KMeans.kmeansCodebook]], each round's vocab frame is eagerly
  * `localCheckpoint`ed and the superseded round freed, so round r + 1
  * replays one (distinct-words)-sized frame, not rounds 1..r. The
  * per-round argmax is a 1-ROW collect — the same O(1)-row driver
  * action as [[Clusters.connectedComponents]]'s convergence probe, and
  * the price of feeding the winner back as a literal into the next
  * round's `replace` (no growing broadcast-lineage chain). Ties on the
  * pair count break on the pair string, so the learned merge table is
  * unique under any partitioning.
  */
object Bpe {

  /** Adjacent symbol pairs ("l r") of a sentinel-wrapped sequence. */
  private def pairsOf(seq: Column): Column = {
    val sym = split(trim(seq), " ")
    when(size(sym) >= 2,
      transform(sequence(lit(1), size(sym) - 1), i =>
        concat(element_at(sym, i), lit(" "), element_at(sym, i + 1))))
      .otherwise(typedLit(Array.empty[String]))
  }

  /** Learn `rounds` BPE merges over whitespace words of `textCol`.
    * Returns one row per executed round: (round 1-based, lhs, rhs,
    * merged = lhs||rhs, n_occurrences = weighted pair count at the
    * time of the merge). Stops early if no pair remains.
    */
  def learnMerges(df: DataFrame, textCol: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._

    var vocab = df
      .select(explode(TextOps.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"), concat(lit(" "),
        array_join(transform(sequence(lit(1), length(col("w"))), i =>
          col("w").substr(i, lit(1))), " "),
        lit(" ")).as("seq"))
      .localCheckpoint()

    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = vocab
        .select(col("wc"), explode(pairsOf(col("seq"))).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .head(1)
      if (top.isEmpty) exhausted = true
      else {
        val Array(l, rr) = top(0).getString(0).split(" ", 2)
        acc += ((r.toLong, l, rr, l + rr, top(0).getLong(1)))
        if (r < rounds) {
          val next = vocab
            .select(col("wc"),
              replace(col("seq"), lit(s" $l $rr "), lit(s" $l$rr ")).as("seq"))
            .localCheckpoint()
          Clusters.unpersistCheckpoint(vocab)
          vocab = next
        }
      }
      r += 1
    }
    Clusters.unpersistCheckpoint(vocab)
    acc.toSeq.toDF("round", "lhs", "rhs", "merged", "n_occurrences")
  }

  /** Apply an ordered merge table to the corpus and return the token
    * frequency spectrum after all merges: (token, n_occurrences) —
    * the tokenizer-APPLY half of the pipeline (learnMerges is the
    * TRAIN half), and the spectrum is the vocabulary-coverage report
    * a tokenizer rollout reads first.
    *
    * Scale shape: the corpus is scanned once into the weighted word
    * vocabulary; the merge chain is a fixed stack of codegen'd
    * `replace` calls over the vocab frame (merges are literals — no
    * join, no broadcast); the final explode is over vocab symbols,
    * weighted by word count, so corpus token volume never re-enters.
    */
  def encodeTokens(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab = df
      .select(explode(TextOps.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"), concat(lit(" "),
        array_join(transform(sequence(lit(1), length(col("w"))), i =>
          col("w").substr(i, lit(1))), " "),
        lit(" ")).as("seq"))
    val merged = merges.foldLeft(col("seq")) { case (acc, (l, r)) =>
      replace(acc, lit(s" $l $r "), lit(s" $l$r "))
    }
    vocab
      .select(col("wc"), explode(split(trim(merged), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(sum(col("wc")).as("n_occurrences"))
  }
}
