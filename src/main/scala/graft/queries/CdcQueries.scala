package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.TextFunctions.fold
import graft.operators.Dedup

/** Content-defined chunking (CDC) — the shift-robust storage-dedup
  * primitive (Rabin-fingerprint boundaries, Muthitacharoen et al.,
  * LBFS SOSP'01; the FastCDC/restic/borg family). The reference dedups
  * whole articles on ingest (servico_coleta_noticias.py — exact url
  * identity); q21 hashes whole documents, q126 dedups on LINE
  * boundaries, q147 on fixed n-grams. CDC completes the family with
  * boundaries chosen by the CONTENT itself: a rolling hash over the
  * last `CdcWindow` chars cuts wherever `H % CdcDivisor == 0`, so an
  * insertion early in a document shifts only the chunk it lands in —
  * every later boundary re-synchronizes, and the unchanged tail
  * re-deduplicates. Fixed-size blocks lose ALL alignment after one
  * insertion; that is precisely why storage dedup is content-defined.
  */
object CdcQueries extends QueryFamily {

  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"

  /** Rolling-hash parameters. Window 8 chars; polynomial base 131 mod
    * the prime 1048573 (< 2^20, so an 8-term sum of code*pow products
    * stays far inside int64); boundary wherever H % 64 == 0 → expected
    * chunk length 64 + the window, i.e. several chunks per ~300-char
    * document. All integer, so both engines compute identical cuts. */
  val CdcWindow = 8
  val CdcMod = 1048573L
  val CdcBase = 131L
  val CdcDivisor = 64L

  /** B^0..B^(W-1) mod M — the single source of truth for BOTH the
    * Spark columns and the DuckDB oracle literals. */
  val CdcPows: Seq[Long] =
    Iterator.iterate(1L)(p => p * CdcBase % CdcMod).take(CdcWindow).toSeq

  /** Chunk array column — the native one-pass chunker (rolling hash,
    * boundary test and substring split in one loop; see
    * expressions/CdcChunks.scala — the HOF fold it replaced ran
    * interpreted per character). */
  def cdcChunksCol(s: Column): Column =
    org.apache.spark.sql.GraftInternals.column(
      graft.expressions.CdcChunks(
        org.apache.spark.sql.GraftInternals.expression(s),
        CdcWindow, CdcPows, CdcMod, CdcDivisor))

  private def hashAtSql: String =
    "(" + CdcPows.zipWithIndex.map { case (p, j) =>
      s"cs[CAST(i - $j AS INT)] * $p"
    }.mkString(" + ") + s") % $CdcMod"

  // ---- q181: CDC chunk dedup accounting ----

  /** q181: per-document chunk table + corpus-wide chunk-occurrence
    * dedup. Boundaries are all end-positions i in [W, len) whose
    * rolling hash divides; chunks are the spans between consecutive
    * boundaries (plus the head and tail). A chunk is duplicated when
    * its md5 occurs >= 2 times ANYWHERE (a second copy inside the same
    * document is just as dedupable as one in another document). Per
    * doc: chunk count, max/mean chunk length, duplicated-chunk count
    * and char share.
    *
    * Scale shape: boundary detection and chunking are map-side column
    * math (no shuffle); the only aggregations are the chunk-hash df
    * count (keys are md5 values — maximally spread, no skew) and the
    * per-doc rollup (doc_id keyed). The chunk table is staged once and
    * feeds both, the q91 gram-df shape. At 100 TB the chunk-hash agg
    * IS the storage-dedup index build; nothing here is quadratic. */
  /** The (doc_id, len, clen, h) chunk table of a document set —
    * map-side chunking via the native expression. */
  def chunkTable(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), fold(col(textCol)).as("s"))
      .withColumn("len", length(col("s")).cast("long"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("len"),
        explode(cdcChunksCol(col("s"))).as("chunk"))
      .select(col("doc_id"), col("len"),
        length(col("chunk")).cast("long").as("clen"),
        md5(col("chunk")).as("h"))

  /** q181's audit over a chunk table: the md5-keyed occurrence count
    * plus the per-doc dedup rollup — shared with the streaming fold
    * (StreamingCdcDedup replays to exactly this). */
  def chunkAudit(chunks0: DataFrame): DataFrame = {
    val chunks = Dedup.stage(chunks0)
    val df = chunks.groupBy(col("h")).agg(count(lit(1)).as("df"))
    chunks.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("len")).as("n_chars"),
        count(lit(1)).as("n_chunks"),
        max(col("clen")).as("max_chunk_len"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("df") >= 2, col("clen")).otherwise(0L)).as("dup_chars"))
      .withColumn("mean_chunk_len_milli", expr("n_chars * 1000 div n_chunks"))
      .withColumn("dup_share_e6", expr("dup_chars * 1000000 div n_chars"))
      .select(col("doc_id"), col("n_chars"), col("n_chunks"),
        col("max_chunk_len"), col("mean_chunk_len_milli"),
        col("dup_chunks"), col("dup_chars"), col("dup_share_e6"))
      .orderBy(col("doc_id"))
  }

  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    chunkAudit(chunkTable(Tables.documents(s, dir), "text", "doc_id"))

  val cdcChunksSql: String =
    s"""WITH d AS (SELECT doc_id, $FoldSql AS s FROM documents),
       |base AS (SELECT doc_id, s, CAST(length(s) AS BIGINT) AS len
       |  FROM d WHERE length(s) > 0),
       |codes AS (SELECT doc_id, s, len,
       |    list_transform(range(1, CAST(len AS INT) + 1),
       |      i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |  FROM base),
       |bnd AS (SELECT doc_id, s, len,
       |    list_filter(range($CdcWindow, len + 1),
       |      i -> i < len AND ($hashAtSql) % $CdcDivisor = 0) AS bs
       |  FROM codes),
       |lists AS (SELECT doc_id, s, len,
       |    list_prepend(CAST(0 AS BIGINT), bs) AS st,
       |    list_append(bs, len) AS en
       |  FROM bnd),
       |seg AS (SELECT doc_id, s, len,
       |    unnest(st) AS cst, unnest(en) AS cen
       |  FROM lists),
       |chunk AS (SELECT doc_id, len, cen - cst AS clen,
       |    md5(substr(s, CAST(cst AS INT) + 1, CAST(cen - cst AS INT))) AS h
       |  FROM seg),
       |df AS (SELECT h, COUNT(*) AS df FROM chunk GROUP BY h)
       |SELECT doc_id,
       |  MAX(len) AS n_chars,
       |  COUNT(*) AS n_chunks,
       |  CAST(MAX(clen) AS BIGINT) AS max_chunk_len,
       |  MAX(len) * 1000 // COUNT(*) AS mean_chunk_len_milli,
       |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  CAST(SUM(CASE WHEN df.df >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_chars,
       |  CAST(SUM(CASE WHEN df.df >= 2 THEN clen ELSE 0 END) AS BIGINT) * 1000000
       |    // MAX(len) AS dup_share_e6
       |FROM chunk JOIN df USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q254: chunk-geometry operating curve ----

  /** Divisor arms of the geometry sweep; expected chunk length is
    * divisor + window, so the arms span ~24 to ~264 chars. 64 is the
    * shipped q181/streaming operating point — the curve passes
    * through it. Powers of two, smallest first: nesting (below)
    * depends on each arm dividing the next. */
  val CdcCurveArms: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L)
  // The q254 one-pass reconstruction is only correct when every arm is
  // a multiple of the finest divisor (residues are kept only for cuts
  // passing the finest test) — fail fast if an edit breaks nesting.
  require(CdcCurveArms.nonEmpty && CdcCurveArms == CdcCurveArms.sorted &&
    CdcCurveArms.forall(_ % CdcCurveArms.min == 0),
    s"CdcCurveArms must be non-empty, sorted, and each a multiple of the " +
      s"finest arm (residue nesting precondition): $CdcCurveArms")

  /** q254: the chunk-GEOMETRY operating curve of the CDC machinery —
    * the classic granularity trade of content-defined storage dedup
    * (LBFS, Muthitacharoen et al. 2001 §3.1): smaller expected chunks
    * detect more duplicated bytes but cost proportionally more index
    * entries; larger chunks miss dedup that straddles their grain.
    * Per divisor arm: corpus chunk count, index rows (distinct chunk
    * hashes — the storage-dedup table a deployment provisions), mean/
    * max chunk length, duplicated chunks/chars and the e6 dup share —
    * the two axes (dup_share vs index_rows) a storage deployment
    * tunes `CdcDivisor` on. Completes the operating-curve family
    * (q108 bloom, q180 bands, q201 threshold, q249 nprobe, q250 code
    * bits, q251 radius, q252 cms) for the chunking machinery.
    *
    * Scale shape: power-of-two divisors NEST (a cut for 2d is a cut
    * for d), so the WHOLE sweep chunks the corpus text ONCE, natively,
    * at the finest arm ([[graft.expressions.CdcChunksMeta]] carries
    * each cut's hash residue); every coarser arm rebuilds its exact
    * chunking by merging fine chunks at cuts whose residue fails its
    * divisor — a per-(arm, doc) running count over the fine-chunk
    * table (bounded by document length, the q75 window grain), never
    * a re-scan of the text. The fine-chunk table is staged once and
    * fanned out x|arms|; the md5 df aggregation per arm is key-spread
    * (hash-keyed); the rollup is |arms| rows. */
  /** The per-arm chunk table (divisor, doc_id, clen, h) behind
    * [[cdcCurve]] — exposed for the plan audit (the curve stages this
    * frame, and a localCheckpoint boundary hides the upstream shape
    * from the rollup plan). */
  private[graft] def cdcArmChunks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val finest = CdcCurveArms.min
    val metaCol = org.apache.spark.sql.GraftInternals.column(
      graft.expressions.CdcChunksMeta(
        org.apache.spark.sql.GraftInternals.expression(col("s")),
        CdcWindow, CdcPows, CdcMod, finest))
    // Empty-after-fold docs are excluded BEFORE chunking, mirroring
    // chunkTable's len > 0 gate (CdcChunksMeta would return one empty
    // chunk for '', which would otherwise seed an md5('') row in every
    // arm that the q254 oracle and q181 both exclude).
    val fine = Dedup.stage(Tables.documents(s, dir)
      .select(col("doc_id"), fold(col("text")).as("s"))
      .filter(length(col("s")) > 0)
      .select(col("doc_id"), metaCol.as("cs"))
      .select(col("doc_id"), posexplode(col("cs")).as(Seq("k", "c")))
      .select(col("doc_id"), col("k"),
        col("c.chunk").as("chunk"), col("c.r").as("r")))
    val armed = fine.crossJoin(
      s.range(1).select(explode(array(CdcCurveArms.map(lit): _*)).as("divisor")))
    // group id = number of this arm's cuts at or before the chunk
    // start; consecutive fine chunks sharing a group concatenate into
    // one arm chunk (per-(arm, doc) window, bounded by doc length)
    val grouped = armed
      .withColumn("cut",
        when(col("k") > 0 && col("r") % col("divisor") === 0, 1L).otherwise(0L))
      .withColumn("grp", sum(col("cut")).over(
        Window.partitionBy(col("divisor"), col("doc_id")).orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    grouped
      .groupBy(col("divisor"), col("doc_id"), col("grp"))
      .agg(array_sort(collect_list(struct(col("k"), col("chunk")))).as("parts"))
      .select(col("divisor"), col("doc_id"),
        array_join(transform(col("parts"), p => p.getField("chunk")), "").as("chunk"))
      .select(col("divisor"), col("doc_id"),
        length(col("chunk")).cast("long").as("clen"), md5(col("chunk")).as("h"))
  }

  def cdcCurve(s: SparkSession, dir: String): DataFrame = {
    val staged = Dedup.stage(cdcArmChunks(s, dir))
    val dfreq = staged.groupBy(col("divisor"), col("h"))
      .agg(count(lit(1)).as("df"))
    val idx = dfreq.groupBy(col("divisor"))
      .agg(count(lit(1)).as("index_rows"))
    staged.join(dfreq, Seq("divisor", "h"))
      .groupBy(col("divisor"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_chars"),
        max(col("clen")).as("max_chunk_len"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("df") >= 2, col("clen")).otherwise(0L)).as("dup_chars"))
      .join(idx, Seq("divisor"))
      .withColumn("mean_chunk_len_milli", expr("n_chars * 1000 div n_chunks"))
      .withColumn("dup_share_e6", expr("dup_chars * 1000000 div n_chars"))
      .select(col("divisor"), col("n_chunks"), col("index_rows"),
        col("n_chars"), col("mean_chunk_len_milli"), col("max_chunk_len"),
        col("dup_chunks"), col("dup_chars"), col("dup_share_e6"))
      .orderBy(col("divisor"))
  }

  val cdcCurveSql: String = {
    val armsValues = CdcCurveArms.map(d => s"(CAST($d AS BIGINT))").mkString(", ")
    s"""WITH d0 AS (SELECT doc_id, $FoldSql AS s FROM documents),
       |base AS (SELECT doc_id, s, CAST(length(s) AS BIGINT) AS len
       |  FROM d0 WHERE length(s) > 0),
       |codes AS (SELECT doc_id, s, len,
       |    list_transform(range(1, CAST(len AS INT) + 1),
       |      i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |  FROM base),
       |arms(divisor) AS (VALUES $armsValues),
       |bnd AS (SELECT a.divisor, c.doc_id, s, len,
       |    list_filter(range($CdcWindow, len + 1),
       |      i -> i < len AND ($hashAtSql) % a.divisor = 0) AS bs
       |  FROM codes c CROSS JOIN arms a),
       |lists AS (SELECT divisor, doc_id, s, len,
       |    list_prepend(CAST(0 AS BIGINT), bs) AS st,
       |    list_append(bs, len) AS en
       |  FROM bnd),
       |seg AS (SELECT divisor, doc_id, s, len,
       |    unnest(st) AS cst, unnest(en) AS cen
       |  FROM lists),
       |chunk AS (SELECT divisor, doc_id, cen - cst AS clen,
       |    md5(substr(s, CAST(cst AS INT) + 1, CAST(cen - cst AS INT))) AS h
       |  FROM seg),
       |df AS (SELECT divisor, h, COUNT(*) AS df FROM chunk GROUP BY divisor, h),
       |idx AS (SELECT divisor, COUNT(*) AS index_rows FROM df GROUP BY divisor),
       |roll AS (SELECT c.divisor,
       |    COUNT(*) AS n_chunks,
       |    CAST(SUM(clen) AS BIGINT) AS n_chars,
       |    CAST(MAX(clen) AS BIGINT) AS max_chunk_len,
       |    CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |    CAST(SUM(CASE WHEN df.df >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_chars
       |  FROM chunk c JOIN df ON c.divisor = df.divisor AND c.h = df.h
       |  GROUP BY c.divisor)
       |SELECT roll.divisor, n_chunks, index_rows, n_chars,
       |  n_chars * 1000 // n_chunks AS mean_chunk_len_milli,
       |  max_chunk_len, dup_chunks, dup_chars,
       |  dup_chars * 1000000 // n_chars AS dup_share_e6
       |FROM roll JOIN idx ON roll.divisor = idx.divisor
       |ORDER BY roll.divisor""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q181_cdc_chunks" -> (cdcChunks _),
    "q254_cdc_curve" -> (cdcCurve _))

  val oracles: Map[String, String] = Map(
    "q181_cdc_chunks" -> cdcChunksSql,
    "q254_cdc_curve" -> cdcCurveSql)
}
