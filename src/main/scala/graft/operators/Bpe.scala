package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** BPE merge-rule training as a library operator (Sennrich et al.
  * 2016) — the tokenizer-vocabulary induction step of an LLM data
  * pipeline, factored out of the q121 gated query so the trainer can
  * scale past the gate's 8 rounds.
  *
  * Words ride as delimited strings — each symbol wrapped in '.' and
  * separated by two spaces — so a merge IS
  * `replace(wstr, ".x.  .y.", ".xy.")`: SQL replace scans
  * left-to-right and resumes after each replacement, which is exactly
  * BPE's non-overlapping greedy merge (see q121's Scaladoc for the
  * delimiter-collision argument).
  *
  * Scale: pair counting and merging run on the DISTINCT word
  * dictionary with frequencies, never raw text. `trainSequential` is
  * textbook BPE: one distributed count + one 1-row driver argmax per
  * merge — correct, but a 30k-merge vocabulary means 30k driver round
  * trips and 30k jobs. `trainBatched` amortizes: each round collects
  * the top `batchK` pairs ONCE, keeps the greedy symbol-disjoint
  * prefix of that ranking, and applies all kept merges in a single
  * dictionary pass — merges per job rises from 1 toward batchK, and
  * driver round-trips drop by the same factor. With batchK = 1 the
  * result is exactly sequential BPE (spec-pinned); with batchK > 1 it
  * is the standard deterministic large-vocab variant: SELECTION uses
  * start-of-round counts (a pair whose symbols overlap an earlier
  * kept pair waits for the next round; a pair CREATED by an earlier
  * merge is first seen next round), while APPLICATION is sequential —
  * the kept merges replace in rank order within the pass, exactly as
  * sequential BPE would apply them. Only the merge ORDER can differ
  * from one-at-a-time BPE, and only when a mid-round count change
  * would have promoted a different pair. */
object Bpe {

  /** One merge decision: the winning pair, its merged symbol, and the
    * pair count that elected it. */
  final case class Merge(round: Long, leftSym: String, rightSym: String,
      merged: String, pairCount: Long)

  /** (word, wstr, freq) dictionary from a corpus of lowercase words;
    * wstr is bijective with word (per-char wrapping), so carrying the
    * raw word through merge rounds is free. */
  def dictionaryWithWords(docs: DataFrame, textCol: String): DataFrame =
    // r16 spread the projected text before the word explode; r17
    // reverted it: the driver measured the spread arm SLOWER for every
    // consumer (q125 +1.04, q152 +0.78, q185 +0.37, q209 +0.28 vs r15,
    // scaling 0.66–1.04) and the r17 in-JVM A/B confirmed (q121
    // 2.57→1.45, q125 −0.64, q185 −0.83, tokenizers −3.3 s total)
    docs.select(col(textCol))
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"),
        concat_ws("  ",
          transform(split(col("word"), "(?!^)(?=.)"),
            c => concat(lit("."), c, lit(".")))).as("wstr"),
        col("freq"))

  /** (wstr, freq) dictionary from a corpus of lowercase words. */
  def dictionary(docs: DataFrame, textCol: String): DataFrame =
    dictionaryWithWords(docs, textCol).select(col("wstr"), col("freq"))

  /** Per-char wrapped symbol string for an arbitrary word column —
    * the wstr encoding for dictionaries whose symbols go beyond
    * [a-z] (digits, '#', …); sqlLit-escaped splicing keeps any such
    * symbol safe in the merge chain. */
  def wrapWord(word: Column): Column =
    concat_ws("  ", transform(split(word, "(?!^)(?=.)"),
      c => concat(lit("."), c, lit("."))))

  /** Apply an already-trained merge table to a dictionary: the merges
    * chain as ONE projection of nested replace() calls (codegen'd
    * string ops, no iteration, no shuffle) — encoding is a map-side
    * pass once training is done, which is the point: the 100 TB corpus
    * is encoded by a broadcast join against this tiny dictionary, and
    * the dictionary itself is encoded in one projection. */
  def applyMerges(dict: DataFrame, merges: Seq[Merge]): DataFrame = {
    val mergedExpr = merges.foldLeft("wstr") { (acc, m) =>
      s"replace($acc, ${sqlLit(s".${m.leftSym}.  .${m.rightSym}.")}, ${sqlLit(s".${m.merged}.")})"
    }
    dict.withColumn("wstr", expr(mergedExpr))
  }

  /** Adjacent wrapped-symbol pairs weighted by word frequency. */
  def pairCounts(dict: DataFrame): DataFrame = {
    val syms = split(col("wstr"), "  ")
    dict
      .select(col("freq"), explode(
        arrays_zip(slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
          slice(syms, lit(2), greatest(size(syms) - 1, lit(0))))).as("p"))
      .groupBy(col("p.0").as("wa"), col("p.1").as("wb"))
      .agg(sum(col("freq")).as("n"))
  }

  private def unwrap(s: String): String = s.stripPrefix(".").stripSuffix(".")

  /** SQL string literal with quote/backslash escaping — symbols from
    * [[dictionary]] are [a-z] only, but the operators are public and a
    * caller-supplied merge table must not be able to break (or inject
    * into) the replace-chain expression. */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Textbook sequential BPE: `rounds` merges, one driver argmax each.
    * Ties break lexicographically on the wrapped pair. Returns the
    * merge table and the final dictionary. */
  def trainSequential(dict0: DataFrame, rounds: Int): (Seq[Merge], DataFrame) = {
    var dict = Dedup.stage(dict0, eager = true)
    val merges = Seq.newBuilder[Merge]
    var applied = 0
    var exhausted = false
    while (applied < rounds && !exhausted) {
      val top = pairCounts(dict)
        .orderBy(col("n").desc, col("wa"), col("wb")).limit(1).collect()
      // break on an exhausted dictionary (mirroring trainBatched) so
      // merge numbering is contiguous application order in both trainers
      if (top.isEmpty) exhausted = true
      else {
        val (wa, wb, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val merged = "." + unwrap(wa) + unwrap(wb) + "."
        applied += 1
        merges += Merge(applied.toLong, unwrap(wa), unwrap(wb), unwrap(merged), n)
        val next = Dedup.stage(dict.select(
          expr(s"replace(wstr, ${sqlLit(s"$wa  $wb")}, ${sqlLit(merged)})").as("wstr"),
          col("freq")), eager = true)
        Dedup.release(dict)
        dict = next
      }
    }
    (merges.result(), dict)
  }

  /** Batched BPE: per distributed round, ONE collect of the top
    * `batchK` pairs; the greedy symbol-disjoint prefix of that ranking
    * all merge in a single dictionary pass. Runs rounds until
    * `totalMerges` merges have been applied (or a round yields no
    * pair). Merge numbering is application order, so batchK = 1
    * reproduces trainSequential exactly. */
  def trainBatched(dict0: DataFrame, totalMerges: Int, batchK: Int): (Seq[Merge], DataFrame) = {
    val (rounds, dict) = trainBatchedRounds(dict0, totalMerges, batchK)
    (rounds.flatten, dict)
  }

  /** [[trainBatched]] keeping the per-round grouping: one inner Seq
    * per distributed round (= one driver collect each). The flattened
    * concatenation is exactly trainBatched's merge table; the grouping
    * is what a round-accounting demo or a per-round disjointness spec
    * needs. */
  def trainBatchedRounds(dict0: DataFrame, totalMerges: Int,
      batchK: Int): (Seq[Seq[Merge]], DataFrame) = {
    require(batchK >= 1, "batchK must be >= 1")
    var dict = Dedup.stage(dict0, eager = true)
    val rounds = Seq.newBuilder[Seq[Merge]]
    var applied = 0
    var exhausted = false
    while (applied < totalMerges && !exhausted) {
      val top = pairCounts(dict)
        .orderBy(col("n").desc, col("wa"), col("wb"))
        .limit(math.min(batchK, totalMerges - applied)).collect()
      if (top.isEmpty) exhausted = true
      else {
        // greedy disjoint prefix: a pair is kept only if neither of its
        // symbols appears in an earlier kept pair of this round
        val used = scala.collection.mutable.HashSet.empty[String]
        val kept = top.toSeq.flatMap { r =>
          val (wa, wb, n) = (r.getString(0), r.getString(1), r.getLong(2))
          if (used.contains(wa) || used.contains(wb)) None
          else { used += wa; used += wb; Some((wa, wb, n)) }
        }
        val mergeExpr = kept.foldLeft("wstr") { case (acc, (wa, wb, _)) =>
          s"replace($acc, ${sqlLit(s"$wa  $wb")}, ${sqlLit(s".${unwrap(wa)}${unwrap(wb)}.")})"
        }
        rounds += kept.map { case (wa, wb, n) =>
          applied += 1
          Merge(applied.toLong, unwrap(wa), unwrap(wb), unwrap(wa) + unwrap(wb), n)
        }
        val next = Dedup.stage(dict.select(expr(mergeExpr).as("wstr"), col("freq")), eager = true)
        Dedup.release(dict)
        dict = next
      }
    }
    (rounds.result(), dict)
  }

  /** Merge table as a DataFrame (q121's output shape). */
  def mergesDf(s: SparkSession, merges: Seq[Merge]): DataFrame = {
    import s.implicits._
    merges.map(m => (m.round, m.leftSym, m.rightSym, m.merged, m.pairCount))
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("round"))
  }
}
