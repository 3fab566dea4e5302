package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CurationPipeline, Tables}
import graft.functions.Hashing
import graft.functions.TextFunctions.{sentenceSegs, sentenceSegsSql}

/** The COMPOSED curation pipeline as a correctness gate (SURVEY.md §2
  * D′): every stage of [[CurationPipeline.curateExtendedStages]] is
  * individually oracle-gated (q21 exact dedup, q126 line dedup, q71/
  * q127 quality+LM, q73 decontamination, q22/q67 near-dup clustering,
  * q91 dup-grams, q130 DSIR, q74 sampling, q131 shuffle, q75 packing)
  * — this gates the COMPOSITION those stages form: each stage's
  * SURVIVOR SET feeds the next stage's signal computation, so a subtle
  * wiring bug (a filter applied to the wrong frame, a stage reading
  * pre-rewrite text, an off-by-one threshold) changes downstream
  * counts even when every stage is individually correct.
  *
  * Output: one row per pipeline stage — (stage_ord, stage, n_docs,
  * id_sum, payload_sum). `id_sum` (Σ doc_id of survivors) pins WHICH
  * documents survive, not just how many; `payload_sum` pins the stage
  * payload itself: Σ length(text) for the text stages (the line-dedup
  * REWRITE changes it), Σ cum_tokens for the final packed layout (pins
  * shard assignment, shuffle order and token budget all at once).
  *
  * The oracle is ONE chained-CTE DuckDB statement composing the same
  * per-stage SQL the individual gates use, each stage's CTE reading
  * the previous stage's survivor CTE — the whole pipeline re-derived
  * independently end to end.
  *
  * Scale shape: identical to curateExtended (each stage is the audited
  * operator; the funnel adds only 8 scalar aggregates): every
  * multi-consumer frame is a parquet stage at any corpus size, so each
  * survivor chain materializes once.
  */
object CurationFunnelQueries extends QueryFamily {

  /** Gate parameters: eval set/segmentation/DSIR target reuse the
    * conventions of the stage-level gates (q73's mod-97 eval set,
    * q126's sentence segmentation, q130's lang='en' target); the rest
    * are [[CurationPipeline.Config]] defaults. */
  val EvalMod = 97
  val Seed = "ep1"
  val NShards = 8
  val TailMilli = 5200L
  val TailPct = 95
  val LineMinDf = 2
  private val cfg = CurationPipeline.Config()

  /** The funnel over [[CurationPipeline.curateExtendedStages]] with
    * either LM-tail mode (`tailPct = None` -> the fixed `TailMilli`
    * cut of q253; `Some(p)` -> q256's corpus-relative percentile cut).
    *
    * Staging: the funnel forces EVERY stage thunk, and each of the 8
    * scalar aggregates consumes the full stage prefix. The pipeline
    * writes each multi-consumer frame once as a parquet stage, so every
    * consumer (aggregate rows, component rounds, downstream stages)
    * reads the staged scan. Besides the survivor sets, the shared term
    * table is staged once, as the oracle materializes `qtokc`; the
    * shingles (`csh`) are recomputed by each of their two consumers
    * from the staged qualified docs. The staged dirs go with the
    * caller's pin scope. Building the funnel touches no JVM-global
    * state and no session conf. */
  private def funnel(s: SparkSession, dir: String,
      tailPct: Option[Int]): DataFrame = {
    val stages = CurationPipeline.curateExtendedStages(
      Tables.documents(s, dir), col("doc_id") % EvalMod === 0,
      sentenceSegs(col("text")),
      dsirTarget = Some(col("lang") === "en"),
      seed = Seed, nShards = NShards,
      surprisalTailMilli = TailMilli, lineMinDf = LineMinDf,
      surprisalTailPct = tailPct, cfg = cfg)
    val rows = stages.zipWithIndex.map { case ((name, thunk), i) =>
      val df = thunk()
      // text stages: Σ length(text) pins the (possibly rewritten)
      // payload; the packed stage: Σ cum_tokens pins layout + order
      val payload =
        if (name == "shuffle_pack") col("cum_tokens")
        else length(col("text")).cast("long")
      df.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
        coalesce(sum(payload), lit(0L)).as("payload_sum"))
        .select(lit((i + 1).toLong).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), col("id_sum"), col("payload_sum"))
    }
    rows.reduce(_.union(_)).orderBy(col("stage_ord"))
  }

  def curationFunnel(s: SparkSession, dir: String): DataFrame =
    funnel(s, dir, None)

  /** q256: the funnel with the CORPUS-RELATIVE LM-tail rule — the
    * threshold is the corpus's own exact `TailPct`-th percentile of
    * milli-bits/token ([[CurationPipeline.valueTailThreshold]]),
    * not a fixed constant. Gates the self-tuning mode the zipf
    * campaign showed is necessary (a fixed cut sized to one corpus
    * empties another — SURVEY §5 r13); the oracle re-derives the same
    * percentile in SQL over the same surprisal frame, so the
    * derivation AND its wiring into the quality gate are both
    * hash-pinned. */
  def curationPctFunnel(s: SparkSession, dir: String): DataFrame =
    funnel(s, dir, Some(TailPct))

  // ---- oracle: the whole pipeline as one chained-CTE statement ----

  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
  private val ToksSql = s"string_split_regex(trim($FoldSql), '\\s+')"

  private def stageRow(ord: Int, name: String, cte: String,
      payload: String = "length(text)"): String =
    s"""SELECT CAST($ord AS BIGINT) AS stage_ord, '$name' AS stage,
       |  COUNT(*) AS n_docs,
       |  CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_sum,
       |  CAST(COALESCE(SUM($payload), 0) AS BIGINT) AS payload_sum
       |FROM $cte""".stripMargin

  /** The chained-CTE oracle, parameterized on the LM-tail rule:
    * `lmTailCtes` adds the threshold-derivation CTEs (pct mode) after
    * `sdoc`, and `lmTailSelect` is the doc_id set the quality CTE
    * excludes. */
  private def funnelSql(lmTailCtes: String, lmTailSelect: String): String = {
    val shuffleHash = Hashing.polyHashSql(s"CAST(doc_id AS VARCHAR) || ':$Seed'")
    val dupE6 =
      "CAST(ROUND((CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens) * 1000000.0) AS BIGINT)"
    val g5 = (0 until cfg.dupGramN).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH RECURSIVE
       |reps AS MATERIALIZED (SELECT doc_id, text, lang, source FROM (
       |    SELECT doc_id, text, lang, source,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
       |    FROM documents) WHERE doc_id = keep),
       |lp AS MATERIALIZED (SELECT doc_id,
       |    ${sentenceSegsSql("text")} AS segs
       |  FROM reps),
       |lpos AS MATERIALIZED (SELECT doc_id, trim(seg) AS seg, i FROM (
       |    SELECT doc_id, unnest(segs) AS seg, generate_subscripts(segs, 1) AS i FROM lp)
       |  WHERE trim(seg) <> ''),
       |ldf AS MATERIALIZED (SELECT seg, COUNT(DISTINCT doc_id) AS seg_df FROM lpos GROUP BY seg),
       |rw0 AS MATERIALIZED (SELECT doc_id,
       |    COALESCE(string_agg(seg, '. ' ORDER BY i) FILTER (WHERE seg_df < $LineMinDf), '') AS text
       |  FROM lpos JOIN ldf USING (seg) GROUP BY doc_id),
       |rw AS MATERIALIZED (SELECT r.doc_id, w.text, r.lang, r.source
       |  FROM reps r JOIN rw0 w ON r.doc_id = w.doc_id WHERE length(w.text) > 0),
       |qtoks AS MATERIALIZED (SELECT doc_id, $ToksSql AS t FROM rw),
       |qpos AS MATERIALIZED (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM qtoks),
       |qtokc AS MATERIALIZED (SELECT doc_id, tok, COUNT(*) AS cnt FROM qpos GROUP BY doc_id, tok),
       |qstat AS MATERIALIZED (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_distinct FROM qtokc GROUP BY doc_id),
       |scnt AS MATERIALIZED (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cnt FROM qtokc GROUP BY tok),
       |stot AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM scnt),
       |sbits AS MATERIALIZED (SELECT tok, CAST(length(bin(n_total)) - length(bin(cnt)) AS BIGINT) AS bits
       |  FROM scnt CROSS JOIN stot),
       |sdoc AS MATERIALIZED (SELECT c.doc_id, CAST(SUM(c.cnt) AS BIGINT) AS n_tokens,
       |    CAST(SUM(c.cnt * b.bits) AS BIGINT) AS total_bits
       |  FROM qtokc c JOIN sbits b USING (tok) GROUP BY c.doc_id),
       |$lmTailCtes
       |qualified AS MATERIALIZED (SELECT rw.doc_id, rw.text, rw.lang, rw.source FROM rw
       |  JOIN qstat USING (doc_id)
       |  WHERE qstat.n_tokens >= ${cfg.minTokens} AND $dupE6 < ${cfg.maxDupE6}
       |    AND doc_id NOT IN ($lmTailSelect)),
       |csh AS MATERIALIZED (SELECT DISTINCT q.doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM qualified q JOIN qpos p ON q.doc_id = p.doc_id WHERE i + 2 <= len(t)),
       |cev AS MATERIALIZED (SELECT DISTINCT shingle FROM csh WHERE doc_id % $EvalMod = 0),
       |ccon AS MATERIALIZED (SELECT doc_id FROM (
       |    SELECT c.doc_id, COUNT(*) AS n_sh,
       |      SUM(CASE WHEN e.shingle IS NULL THEN 0 ELSE 1 END) AS n_hit
       |    FROM csh c LEFT JOIN cev e ON c.shingle = e.shingle
       |    WHERE c.doc_id % $EvalMod <> 0 GROUP BY c.doc_id)
       |  WHERE n_hit * 100 >= n_sh * ${cfg.contaminationPct}),
       |clean AS MATERIALIZED (SELECT * FROM qualified WHERE doc_id % $EvalMod <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM ccon)),
       |dsh AS MATERIALIZED (SELECT doc_id, shingle FROM (
       |    SELECT c.doc_id, c.shingle, COUNT(*) OVER (PARTITION BY c.shingle) AS df
       |    FROM csh c JOIN clean cl ON c.doc_id = cl.doc_id)
       |  WHERE df <= ${cfg.jaccardDfCap}),
       |dsz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
       |dcand AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inx
       |  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |dnear AS MATERIALIZED (SELECT da, db FROM dcand
       |  JOIN dsz sa ON da = sa.doc_id JOIN dsz sb ON db = sb.doc_id
       |  WHERE inx * 2 >= sa.sz + sb.sz - inx),
       |dedges AS MATERIALIZED (SELECT da AS src, db AS dst FROM dnear
       |  UNION SELECT db AS src, da AS dst FROM dnear),
       |dreach(src, dst) AS (SELECT src, dst FROM dedges
       |  UNION SELECT r.src, e.dst FROM dreach r JOIN dedges e ON r.dst = e.src),
       |dnonrep AS MATERIALIZED (SELECT src AS doc_id FROM dreach GROUP BY src
       |  HAVING LEAST(src, MIN(dst)) <> src),
       |clustered AS MATERIALIZED (SELECT * FROM clean
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dnonrep)),
       |g5 AS MATERIALIZED (SELECT DISTINCT c.doc_id, $g5 AS g
       |  FROM clustered c JOIN qpos p ON c.doc_id = p.doc_id
       |  WHERE i + ${cfg.dupGramN - 1} <= len(t)),
       |gdf AS MATERIALIZED (SELECT g, COUNT(*) AS gdf FROM g5 GROUP BY g),
       |gdrop AS MATERIALIZED (SELECT doc_id FROM (
       |    SELECT g5.doc_id, COUNT(*) AS n_g,
       |      SUM(CASE WHEN gdf.gdf > 1 THEN 1 ELSE 0 END) AS n_d
       |    FROM g5 JOIN gdf USING (g) GROUP BY g5.doc_id)
       |  WHERE n_d * 100 >= n_g * ${cfg.dupSharePct}),
       |uniq AS MATERIALIZED (SELECT * FROM clustered
       |  WHERE doc_id NOT IN (SELECT doc_id FROM gdrop)),
       |ddt AS MATERIALIZED (SELECT c.doc_id, u.lang = 'en' AS is_target, c.tok, c.cnt AS dc
       |  FROM qtokc c JOIN uniq u ON c.doc_id = u.doc_id),
       |dlm AS MATERIALIZED (SELECT tok, CAST(SUM(dc) AS BIGINT) AS cnt_raw,
       |    CAST(SUM(CASE WHEN is_target THEN dc ELSE 0 END) AS BIGINT) AS cnt_tgt
       |  FROM ddt GROUP BY tok),
       |dnorm AS MATERIALIZED (SELECT CAST(SUM(cnt_raw) AS BIGINT) AS n_raw,
       |    CAST(SUM(cnt_tgt) AS BIGINT) AS n_tgt, COUNT(*) AS vocab_n FROM dlm),
       |ddev AS MATERIALIZED (SELECT tok,
       |    CAST(ROUND(1000000.0 *
       |      (CAST(cnt_tgt + 1 AS DOUBLE) * CAST(n_raw AS DOUBLE)) /
       |      (CAST(n_tgt + vocab_n AS DOUBLE) * CAST(cnt_raw AS DOUBLE))) AS BIGINT)
       |      - 1000000 AS dev_e6
       |  FROM dlm CROSS JOIN dnorm),
       |dwt AS MATERIALIZED (SELECT doc_id, CAST(SUM(dc * dev_e6) AS BIGINT) AS weight_e6
       |  FROM ddt JOIN ddev USING (tok) GROUP BY doc_id),
       |sel AS MATERIALIZED (SELECT * FROM uniq
       |  WHERE doc_id IN (SELECT doc_id FROM dwt WHERE weight_e6 > 0)),
       |samp AS MATERIALIZED (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |      ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
       |      COUNT(*) OVER (PARTITION BY source) AS sn
       |    FROM sel) WHERE rk <= (sn + ${cfg.sampleDenom - 1}) // ${cfg.sampleDenom}),
       |shuf AS MATERIALIZED (SELECT doc_id, text, shuffle_key, shuffle_key % $NShards AS shard FROM (
       |    SELECT doc_id, text, $shuffleHash AS shuffle_key FROM samp)),
       |spos AS MATERIALIZED (SELECT doc_id, text, shard,
       |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS pos
       |  FROM shuf),
       |pk AS MATERIALIZED (SELECT doc_id, shard, pos,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM spos),
       |packed AS MATERIALIZED (SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tokens
       |  FROM pk)
       |SELECT * FROM (
       |  ${stageRow(1, "exact_dedup", "reps")}
       |  UNION ALL ${stageRow(2, "line_dedup", "rw")}
       |  UNION ALL ${stageRow(3, "quality_lm_gate", "qualified")}
       |  UNION ALL ${stageRow(4, "decontaminate", "clean")}
       |  UNION ALL ${stageRow(5, "neardup_cluster", "clustered")}
       |  UNION ALL ${stageRow(6, "dupgram_filter", "uniq")}
       |  UNION ALL ${stageRow(7, "dsir_select", "sel")}
       |  UNION ALL ${stageRow(8, "shuffle_pack", "packed", "cum_tokens")}
       |) ORDER BY stage_ord""".stripMargin
  }

  val curationFunnelSql: String = funnelSql("",
    s"SELECT doc_id FROM sdoc WHERE (1000 * total_bits) // n_tokens >= $TailMilli")

  /** q256's oracle derivation of the percentile threshold — the same
    * histogram + cumulative-count integer-rank rule the engine uses
    * (PERCENTILE_DISC: smallest milli-bits value whose cumulative doc
    * count reaches TailPct% of the rewritten corpus). */
  private val PctTailCtes =
    s"""mbs AS MATERIALIZED (SELECT doc_id, (1000 * total_bits) // n_tokens AS mb FROM sdoc),
       |mhist AS MATERIALIZED (SELECT mb, COUNT(*) AS cnt FROM mbs GROUP BY mb),
       |mthr AS MATERIALIZED (SELECT MIN(mb) AS thr FROM (
       |    SELECT mb, SUM(cnt) OVER (ORDER BY mb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |      (SELECT CAST(SUM(cnt) AS BIGINT) FROM mhist) AS n FROM mhist)
       |  WHERE cum * 100 >= n * $TailPct),""".stripMargin

  val curationPctFunnelSql: String = funnelSql(PctTailCtes,
    "SELECT doc_id FROM mbs CROSS JOIN mthr WHERE mb >= thr")

  val queries: Map[String, Q] = Map(
    "q253_curation_funnel" -> (curationFunnel _),
    "q256_curation_pfunnel" -> (curationPctFunnel _))

  val oracles: Map[String, String] = Map(
    "q253_curation_funnel" -> curationFunnelSql,
    "q256_curation_pfunnel" -> curationPctFunnelSql)
}
