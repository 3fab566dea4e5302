package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextFunctions._

/** q43: winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting"): hash
  * every k-gram, slide a window of w hashes, keep each window's
  * minimum — a position-robust fingerprint set whose size is ~2/(w+1)
  * of the hashes, the standard near-dup/plagiarism sketch.
  *
  * Spark shape: positional shingles (posexplode), a per-doc ordered
  * window min (ROWS w-1 FOLLOWING), then distinct mins. One shuffle on
  * doc_id; window is per-key, never global.
  */
object FingerprintQueries extends QueryFamily {

  val WindowSize = 4

  def winnow(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the shingle list is built BEFORE the explode (guard included), so
    // no filter ever references a derived column post-explode — the
    // inferred-filter pushdown class cannot inline the fold chain into
    // the scan — and exploded rows carry no token array at all
    val sh = docs
      .select(col("doc_id"), tokens(fold(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode_outer(graft.functions.GraftFunctions.tokenShingles(col("toks"), 3))
          .as(Seq("pos", "s")))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("pos"), Hashing.polyHash(col("s")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WindowSize - 1)
    sh.withColumn("wmin", min(col("h")).over(w))
      // a window is only complete while pos + WindowSize - 1 has a row
      .withColumn("n_shingles", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("n_shingles") - WindowSize)
      .select(col("doc_id"), col("wmin")).distinct()
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fingerprints"),
        min(col("wmin")).as("min_fingerprint"),
        max(col("wmin")).as("max_fingerprint"))
      .orderBy(col("doc_id"))
  }

  val winnowSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    val toksE = s"string_split_regex(trim($fold), '\\s+')"
    s"""WITH toks AS (SELECT doc_id, $toksE AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks),
       |sh AS (SELECT doc_id, i - 1 AS pos,
       |    ${Hashing.polyHashSql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS h
       |  FROM pos WHERE i + 2 <= len(t)),
       |wm AS (SELECT doc_id, pos,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WindowSize - 1} FOLLOWING) AS wmin,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n_shingles
       |  FROM sh),
       |fp AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= n_shingles - $WindowSize)
       |SELECT doc_id, COUNT(*) AS n_fingerprints,
       |  MIN(wmin) AS min_fingerprint, MAX(wmin) AS max_fingerprint
       |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q44: as-of join — each purchase matched to the latest signup at
    * or before it (per user). Composed as equi-join on the user key +
    * time predicate + per-event max: Spark's operators express as-of
    * without a custom plan, and the only shuffle is on user_id. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_us"),
        round(col("value") * 100).cast("long").as("value_cents"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us").as("s_us"))
    purchases
      .join(signups, Seq("user_id"), "left")
      .withColumn("s_before", when(col("s_us") <= col("p_us"), col("s_us")))
      .groupBy(col("event_id"), col("user_id"), col("p_us"), col("value_cents"))
      .agg(max(col("s_before")).as("asof_signup_us"))
      .withColumn("us_since_signup",
        when(col("asof_signup_us").isNotNull, col("p_us") - col("asof_signup_us")))
      .orderBy(col("event_id"))
  }

  val asofJoinSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |    CAST(ROUND(value*100) AS BIGINT) AS value_cents FROM events),
      |p AS (SELECT event_id, user_id, ts_us AS p_us, value_cents FROM e WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, ts_us AS s_us FROM e WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id, p.p_us, p.value_cents,
      |  MAX(CASE WHEN s.s_us <= p.p_us THEN s.s_us END) AS asof_signup_us,
      |  CASE WHEN MAX(CASE WHEN s.s_us <= p.p_us THEN s.s_us END) IS NOT NULL
      |       THEN p.p_us - MAX(CASE WHEN s.s_us <= p.p_us THEN s.s_us END) END AS us_since_signup
      |FROM p LEFT JOIN s ON p.user_id = s.user_id
      |GROUP BY p.event_id, p.user_id, p.p_us, p.value_cents
      |ORDER BY p.event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q43_winnow_fingerprint" -> (winnow _),
    "q44_asof_join" -> (asofJoin _))

  val oracles: Map[String, String] = Map(
    "q43_winnow_fingerprint" -> winnowSql,
    "q44_asof_join" -> asofJoinSql)
}
