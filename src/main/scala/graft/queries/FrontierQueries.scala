package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextFunctions.{fold, tokens}

/** Round-9 genre additions — three operators no prior family held:
  * the 2-D Pareto skyline (q245), exact positional phrase retrieval
  * (q246), and consistent-hash ring placement with virtual nodes
  * (q247, the ring-based companion of q217's rendezvous hashing).
  */
object FrontierQueries extends QueryFamily {

  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"

  // ---- q245: Pareto skyline (maximal documents) ----

  /** q245: the 2-D PARETO SKYLINE of the corpus on (n_chars, distinct
    * token count) — the "maximal documents" no other document beats on
    * both axes, the selection shape a curation pipeline uses when two
    * quality signals must BOTH be respected without collapsing them
    * into one weighted score (Borzsony et al., ICDE'01). Doc j
    * dominates i iff x_j >= x_i, y_j >= y_i and at least one is
    * strict; the skyline is every non-dominated doc.
    *
    * Scale shape: NOT the quadratic dominance self-join and NOT a
    * corpus-wide sort. Per distinct x, only the max-y doc(s) can
    * survive (same x, higher y dominates) — one hash agg collapses the
    * corpus to the distinct-x dim. On that BOUNDED dim (x is a length
    * in chars; for an unbounded/continuous axis the identical plan
    * runs on x div W range-buckets first), a running max over strictly
    * greater x gives each x its dominance threshold T(x); a doc is on
    * the skyline iff y == maxy(x) and y > T(x). The dim broadcasts
    * back — corpus touched twice, shuffled once (the agg), zero
    * corpus-wide windows. Ties on both axes are mutually non-dominating
    * and all kept, exactly as the NOT-EXISTS oracle decides. */
  def paretoSkyline(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir).select(col("doc_id"),
      col("n_chars").as("x"),
      size(array_distinct(tokens(fold(col("text"))))).cast("long").as("y"))
    val xdim = m.groupBy(col("x")).agg(max(col("y")).as("max_y"))
      // single-partition window over the bounded distinct-x dim (a
      // length domain), never over the corpus
      .withColumn("thr", coalesce(
        max(col("max_y")).over(Window.orderBy(col("x").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(-1L)))
    m.join(broadcast(xdim), Seq("x"))
      .filter(col("y") === col("max_y") && col("y") > col("thr"))
      .select(col("doc_id"), col("x").as("n_chars"), col("y").as("n_distinct_toks"))
      .orderBy(col("doc_id"))
  }

  val paretoSkylineSql: String =
    s"""WITH m AS (SELECT doc_id, n_chars AS x,
       |    CAST(len(list_distinct($ToksSql)) AS BIGINT) AS y
       |  FROM documents)
       |SELECT i.doc_id, i.x AS n_chars, i.y AS n_distinct_toks
       |FROM m i
       |WHERE NOT EXISTS (SELECT 1 FROM m j
       |  WHERE j.x >= i.x AND j.y >= i.y AND (j.x > i.x OR j.y > i.y))
       |ORDER BY i.doc_id""".stripMargin

  // ---- q246: exact positional phrase retrieval ----

  /** The phrase workload: mixed lengths, one with a REPEATED term (the
    * case that breaks naive adjacency joins). */
  val Phrases: Seq[(Int, String)] = Seq(
    1 -> "table hash",
    2 -> "customer join",
    3 -> "table table",
    4 -> "table hash value",
    5 -> "customer join merge")

  /** q246: exact phrase search over a positional inverted index — the
    * retrieval grain q134 (ranked bag-of-words) and q219 (boolean AND)
    * cannot express: the query terms must appear CONSECUTIVELY. The
    * classic positional-postings alignment: each posting row matching
    * term t at phrase offset o votes for occurrence start pos - o, so
    * a start with |phrase| distinct votes is an exact match — phrase
    * intersection as ONE hash aggregation, no per-term self-join
    * cascade, repeated terms handled for free (each offset casts its
    * own vote). Per (phrase, doc): occurrence count and first start.
    *
    * Scale shape: postings are filtered map-side by the broadcast term
    * dim BEFORE any shuffle (only query-term postings ever move), then
    * two hash aggs keyed by (phrase, doc[, start]) — co-partitioned,
    * partial-agg friendly, output bounded by true matches. */
  def phraseQuery(s: SparkSession, dir: String): DataFrame = {
    val terms = s.createDataFrame(for {
      (pid, p) <- Phrases
      (t, o) <- p.split(" ").zipWithIndex
    } yield (pid, o, t)).toDF("phrase_id", "off", "term")
    val plen = terms.groupBy(col("phrase_id")).agg(count(lit(1)).as("p_len"))
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(fold(col("text")))).as(Seq("pos", "tok")))
    postings
      .join(broadcast(terms), postings("tok") === terms("term"))
      .select(col("phrase_id"), col("doc_id"), (col("pos") - col("off")).as("start"))
      .groupBy(col("phrase_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("votes"))
      .join(broadcast(plen), Seq("phrase_id"))
      .filter(col("votes") === col("p_len") && col("start") >= 0)
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"),
        min(col("start")).cast("long").as("first_start"))
      .select(col("phrase_id").cast("long").as("phrase_id"), col("doc_id"),
        col("n_occ"), col("first_start"))
      .orderBy(col("phrase_id"), col("doc_id"))
  }

  val phraseQuerySql: String = {
    val values = (for {
      (pid, p) <- Phrases
      (t, o) <- p.split(" ").zipWithIndex
    } yield s"($pid, $o, '$t')").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |pos AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok FROM toks),
       |q(phrase_id, off, term) AS (VALUES $values),
       |pl AS (SELECT phrase_id, COUNT(*) AS p_len FROM q GROUP BY phrase_id),
       |starts AS (SELECT q.phrase_id, p.doc_id, p.pos - q.off AS start, COUNT(*) AS votes
       |  FROM pos p JOIN q ON p.tok = q.term
       |  GROUP BY q.phrase_id, p.doc_id, p.pos - q.off),
       |hits AS (SELECT s.phrase_id, s.doc_id, s.start
       |  FROM starts s JOIN pl ON s.phrase_id = pl.phrase_id
       |  WHERE s.votes = pl.p_len AND s.start >= 0)
       |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ, CAST(MIN(start) AS BIGINT) AS first_start
       |FROM hits GROUP BY phrase_id, doc_id
       |ORDER BY phrase_id, doc_id""".stripMargin
  }

  // ---- q247: consistent-hash ring placement (virtual nodes) ----

  val RingShards = 12
  val RingVnodes = 8
  /** The shard whose removal the reshard audit simulates. */
  val RemovedShard = "s00"

  /** Ring positions, computed ONCE in plain Scala (the ring is
    * configuration, not data): vnode v of shard s sits at
    * affine_5(polyHash(s#v)) — the same portable hash family as
    * everything engine-compared. Sorted by (pos, shard, vnode) so a
    * positional collision resolves identically in both engines'
    * generated CASE chains. */
  def ringEntries(exclude: Option[String]): Seq[(Long, String)] = {
    def poly(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * Hashing.Base + c) % Hashing.Mod)
    (for {
      i <- 0 until RingShards
      shard = f"s$i%02d"
      if !exclude.contains(shard)
      v <- 0 until RingVnodes
    } yield {
      val pos = (Hashing.hashA(5) * poly(s"$shard#$v") + Hashing.hashB(5)) % Hashing.Mod
      (pos, shard, v)
    }).sortBy { case (p, sh, v) => (p, sh, v) }.map { case (p, sh, _) => (p, sh) }
  }

  private def ringAssign(h: Column, ring: Seq[(Long, String)]): Column = {
    val wrap = lit(ring.head._2)
    ring.foldRight(wrap: Column) { case ((pos, shard), acc) =>
      when(h <= lit(pos), lit(shard)).otherwise(acc)
    }
  }

  private def ringAssignSql(hExpr: String, ring: Seq[(Long, String)]): String =
    "CASE " + ring.map { case (p, sh) => s"WHEN $hExpr <= $p THEN '$sh'" }
      .mkString(" ") + s" ELSE '${ring.head._2}' END"

  /** q247: consistent-hash RING placement — the other classic minimal-
    * movement scheme next to q217's rendezvous hashing (Karger et al.,
    * STOC'97): [[RingVnodes]] virtual nodes per shard sit at hash
    * positions on a mod-M ring and a doc lives on the first vnode
    * clockwise from its own hash. The audit removes [[RemovedShard]]
    * and reassigns: the ring guarantee is that ONLY documents on the
    * removed shard move (each to the next vnode clockwise) — the
    * transition matrix exhibits it (spec-asserted). Output: per
    * (shard, shard_after) doc count, the vnode fan-in, and whether the
    * cell represents movement.
    *
    * Scale shape: the ring is configuration — both assignments compile
    * to literal 96-/88-arm CASE chains evaluated map-side inside the
    * scan (codegen'd binary-decision ladder, no join, no model table);
    * the only shuffle is the final bounded matrix aggregation. */
  def hashringShards(s: SparkSession, dir: String): DataFrame = {
    val ring = ringEntries(None)
    val ringAfter = ringEntries(Some(RemovedShard))
    Tables.documents(s, dir)
      .select((Hashing.affine(col("doc_id"), 9) % Hashing.Mod).as("h"))
      .select(ringAssign(col("h"), ring).as("shard"),
        ringAssign(col("h"), ringAfter).as("shard_after"))
      .groupBy(col("shard"), col("shard_after"))
      .agg(count(lit(1)).as("n"))
      .withColumn("moved", col("shard") =!= col("shard_after"))
      .orderBy(col("shard"), col("shard_after"))
  }

  val hashringShardsSql: String = {
    val h = s"((${Hashing.affineSql("doc_id", 9)}) % ${Hashing.Mod})"
    s"""WITH a AS (SELECT
       |    ${ringAssignSql(h, ringEntries(None))} AS shard,
       |    ${ringAssignSql(h, ringEntries(Some(RemovedShard)))} AS shard_after
       |  FROM documents)
       |SELECT shard, shard_after, CAST(COUNT(*) AS BIGINT) AS n,
       |  shard <> shard_after AS moved
       |FROM a GROUP BY shard, shard_after
       |ORDER BY shard, shard_after""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q245_pareto_skyline" -> (paretoSkyline _),
    "q246_phrase_query" -> (phraseQuery _),
    "q247_hashring_shards" -> (hashringShards _))

  val oracles: Map[String, String] = Map(
    "q245_pareto_skyline" -> paretoSkylineSql,
    "q246_phrase_query" -> phraseQuerySql,
    "q247_hashring_shards" -> hashringShardsSql)
}
