package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** q48: locale-free Brazilian date parsing — the scraper's
  * `%d de %B de %Y` handling (infrastructure/scraper.py:579: inject
  * the numeric month for the Portuguese name, then parse numerically,
  * so no OS locale dependency). Surfaces are synthesized from
  * o_orderdate, parsed back, and must round-trip. */
object DateParseQueries extends QueryFamily {

  /** Month number -> Portuguese name (scraper.py:581). */
  val PtMonths: Seq[(Int, String)] = Seq(
    1 -> "janeiro", 2 -> "fevereiro", 3 -> "março", 4 -> "abril",
    5 -> "maio", 6 -> "junho", 7 -> "julho", 8 -> "agosto",
    9 -> "setembro", 10 -> "outubro", 11 -> "novembro", 12 -> "dezembro")

  private def monthName(m: Column): Column =
    PtMonths.tail.foldLeft(when(m === 1, PtMonths.head._2)) {
      case (acc, (n, name)) => acc.when(m === n, name)
    }

  private def monthNum(name: Column): Column =
    PtMonths.tail.foldLeft(when(name === PtMonths.head._2, 1)) {
      case (acc, (n, nm)) => acc.when(name === nm, n)
    }

  def dateParse(s: SparkSession, dir: String): DataFrame = {
    val surfaced = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .withColumn("surface",
        concat(dayofmonth(col("d")), lit(" de "), monthName(month(col("d"))),
          lit(" de "), year(col("d"))))
    // parse path: extract (day, monthname, year), inject numeric month
    surfaced
      .withColumn("p_day", regexp_extract(col("surface"), "^(\\d+) de ", 1).cast("int"))
      .withColumn("p_mon", monthNum(regexp_extract(col("surface"), " de ([^ ]+) de ", 1)))
      .withColumn("p_year", regexp_extract(col("surface"), " de (\\d+)$", 1).cast("int"))
      .withColumn("parsed", make_date(col("p_year"), col("p_mon"), col("p_day")))
      .withColumn("roundtrip_ok", col("parsed") === col("d"))
      .select(col("o_orderkey"), col("surface"), col("parsed"), col("roundtrip_ok"))
      .orderBy(col("o_orderkey"))
  }

  val dateParseSql: String = {
    val nameCase = PtMonths
      .map { case (n, nm) => s"WHEN $n THEN '$nm'" }.mkString(" ")
    val numCase = PtMonths
      .map { case (n, nm) => s"WHEN '$nm' THEN $n" }.mkString(" ")
    s"""WITH surfaced AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
       |    CAST(day(o_orderdate) AS VARCHAR) || ' de ' ||
       |    (CASE month(o_orderdate) $nameCase END) || ' de ' ||
       |    CAST(year(o_orderdate) AS VARCHAR) AS surface
       |  FROM orders),
       |parsed AS (SELECT o_orderkey, d, surface,
       |    make_date(
       |      CAST(regexp_extract(surface, ' de (\\d+)$$', 1) AS INT),
       |      CASE regexp_extract(surface, ' de ([^ ]+) de ', 1) $numCase END,
       |      CAST(regexp_extract(surface, '^(\\d+) de ', 1) AS INT)) AS parsed
       |  FROM surfaced)
       |SELECT o_orderkey, surface, parsed, parsed = d AS roundtrip_ok
       |FROM parsed ORDER BY o_orderkey""".stripMargin
  }

  // ---- q242: the full scraper datetime cascade ----

  /** The one regex-typed `date_format` in the portal dim (fam 2 and 6
    * share it; fam 6's surface misses it, proving the BR fallthrough). */
  val RegexFmt: String =
    "Publicado em (\\d{2}/\\d{2}/\\d{4} às \\d{1,2}h\\d{2})"

  /** q242: the scraper's datetime-parsing CASCADE
    * (`_parse_datetime`, infrastructure/scraper.py:556-713) as one
    * map-side query — normalization, ISO-8601 with offset fold,
    * regex-format candidate extraction, and the Brazilian-surface
    * fallback, with the reference's exact precedence. Eight surface
    * families are synthesized per order row (key mod 8), one per
    * cascade leg: ISO+Z with NBSP noise, ISO with +03:00 offset,
    * regex-format hit, BR full datetime, BR date-only, unparseable,
    * regex-format MISS falling through to BR, and second-less ISO.
    * Output: the surface, whether the portal format dispatches to the
    * regex leg, which leg claimed the value, and the parsed UTC epoch
    * micros (NULL = error row, the reference's raised ValueError).
    *
    * Branch-level ground truth against the Python reference is pinned
    * in DatetimeCascadeSpec; [[graft.operators.DatetimeCascade]] holds
    * the column logic. */
  def datetimeCascade(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{DatetimeCascade => DC}
    val k = col("o_orderkey")
    // the regex cascade is per-row expensive and sits directly on the
    // orders scan — spread the projected input across the cluster
    // (single-row-group scan = one task otherwise; no-op at scale)
    val base = graft.operators.Dedup.spread(Tables.orders(s, dir)
        .select(k, col("o_orderdate").cast("date").as("d")))
      .withColumn("fam", k % 8)
      .withColumn("sy", year(col("d")).cast("string"))
      .withColumn("smo", month(col("d")).cast("string"))
      .withColumn("sdd", dayofmonth(col("d")).cast("string"))
      .withColumn("pmo", lpad(month(col("d")).cast("string"), 2, "0"))
      .withColumn("pdd", lpad(dayofmonth(col("d")).cast("string"), 2, "0"))
      .withColumn("sh", (k % 24).cast("string"))
      .withColumn("ph", lpad((k % 24).cast("string"), 2, "0"))
      .withColumn("pmi", lpad((k * 7 % 60).cast("string"), 2, "0"))
      .withColumn("pss", lpad((k * 13 % 60).cast("string"), 2, "0"))
    val surfaced = base
      .withColumn("surface",
        when(col("fam") === 0, concat(lit("\u00A0"), col("sy"), lit("-"),
          col("pmo"), lit("-"), col("pdd"), lit("T"), col("ph"), lit(":"),
          col("pmi"), lit(":"), col("pss"), lit("Z ")))
        .when(col("fam") === 1, concat(col("sy"), lit("-"), col("pmo"),
          lit("-"), col("pdd"), lit(" "), col("ph"), lit(":"), col("pmi"),
          lit(":"), col("pss"), lit("+03:00")))
        .when(col("fam") === 2, concat(lit("Publicado\u00A0em  "), col("pdd"),
          lit("/"), col("pmo"), lit("/"), col("sy"), lit(" às "), col("sh"),
          lit("h"), col("pmi")))
        .when(col("fam") === 3, concat(col("sdd"), lit("/"), col("smo"),
          lit("/"), col("sy"), lit(" "), col("sh"), lit(":"), col("pmi"),
          lit(":"), col("pss"), lit(" — Gazeta Regional")))
        .when(col("fam") === 4, concat(lit("Em "), col("pdd"), lit("/"),
          col("pmo"), lit("/"), col("sy"), lit(", o plenário aprovou")))
        .when(col("fam") === 5, lit("ontem à tarde"))
        .when(col("fam") === 6, concat(lit("Sessão de "), col("pdd"),
          lit("/"), col("pmo"), lit("/"), col("sy"), lit(" às "), col("sh"),
          lit("h"), col("pmi")))
        .otherwise(concat(col("sy"), lit("-"), col("pmo"), lit("-"),
          col("pdd"), lit("T"), col("ph"), lit(":"), col("pmi"))))
      .withColumn("fmt",
        when(col("fam") === 0, "%Y-%m-%dT%H:%M:%SZ")
        .when(col("fam") === 1, "%Y-%m-%d")
        .when(col("fam") === 2, RegexFmt)
        .when(col("fam") === 3, "%d/%m/%Y")
        .when(col("fam") === 4, "%d de %B de %Y")
        .when(col("fam") === 5, "%d/%m/%Y")
        .when(col("fam") === 6, RegexFmt)
        .otherwise("%Y-%m-%d"))
    // the per-format candidate extractors compile once per plan: the
    // format vocabulary is a bounded (broadcast-dim) CASE dispatch.
    // Every regex runs AT MOST ONCE per row: the capture groups stage
    // into columns before the cascade's conditional tree touches them
    // (conditional branches are outside codegen's subexpression
    // elimination — inlined extracts re-run per reference, 10x slower,
    // measured), and each leg's extracts sit under the cascade's own
    // short-circuit guard, exactly like the reference's early returns:
    // the BR scan only runs when ISO missed, the candidate legs only
    // when the regex dispatch produced a candidate.
    // Each leg costs TWO regex passes, not one per group: the match
    // verdict (rlike / group-0 extract), then one regexp_replace
    // rewriting the groups into a delimited string that a cheap split
    // turns into the component array ($i of an unmatched optional
    // group substitutes empty, exactly regexp_extract's convention;
    // the BR sub-fields split off the group-0 surface directly).
    // A one-regex-per-ISO-leg variant (replace unconditionally, match
    // verdict = rewritten != input, sound because IsoPattern is fully
    // anchored) was A/B'd at sf0.1 r12: 3.98 s vs 4.05 s min-of-6 —
    // a tie inside noise, because the anchored rlike fails fast on
    // the non-ISO majority while the replace must attempt the full
    // match either way, and the guarded replace already skips
    // unmatched rows. Two passes kept (SURVEY §5 r12).
    def stageIso(df: DataFrame, in: String, p: String,
        guard: Column): DataFrame =
      df.withColumn(s"${p}m", guard && col(in).rlike(DC.IsoPattern))
        .withColumn(s"${p}a", when(col(s"${p}m"),
          split(regexp_replace(col(in), DC.IsoPattern,
            "$1|$2|$3|$4|$5|$6|$7"), "\\|")))
    def isoG(p: String)(i: Int): Column =
      coalesce(get(col(s"${p}a"), lit(i - 1)), lit(""))
    def stageBr(df: DataFrame, in: String, p: String,
        guard: Column): DataFrame =
      df.withColumn(s"${p}d0",
          when(guard, regexp_extract(col(in), DC.BrDatePattern, 0))
            .otherwise(""))
        .withColumn(s"${p}da", split(col(s"${p}d0"), "/"))
        .withColumn(s"${p}t0",
          when(guard, regexp_extract(col(in), DC.BrTimePattern, 0))
            .otherwise(""))
        .withColumn(s"${p}ta", split(col(s"${p}t0"), "[:h]"))
    def brD(p: String)(i: Int): Column =
      if (i == 0) col(s"${p}d0")
      else coalesce(get(col(s"${p}da"), lit(i - 1)), lit(""))
    def brT(p: String)(i: Int): Column =
      if (i == 0) col(s"${p}t0")
      else coalesce(get(col(s"${p}ta"), lit(i - 1)), lit(""))
    val s0 = surfaced
      .withColumn("v", DC.normalize(col("surface")))
      .withColumn("cand", DC.normalize(
        when(col("fmt") === RegexFmt,
          nullif(regexp_extract(col("v"), RegexFmt, 1), lit("")))))
      .withColumn("fmt_is_regex", DC.looksLikeRegex(col("fmt")))
    val stagedV = stageBr(stageIso(s0, "v", "i", lit(true)),
      "v", "b", !col("im"))
    val stagedC = stageBr(
      stageIso(stagedV, "cand", "ci", col("cand").isNotNull),
      "cand", "cb", col("cand").isNotNull && !col("cim"))
    val parsed = stagedC
      .withColumn("iso_us", DC.isoUsFrom(col("im"), isoG("i")))
      .withColumn("cand_us", coalesce(
        DC.isoUsFrom(col("cim"), isoG("ci")),
        DC.brUsFrom(brD("cb"), brT("cb"))))
      .withColumn("br_us", DC.brUsFrom(brD("b"), brT("b")))
    // partition-local sort only: a global orderBy range-partitions,
    // and its bound sampling executes the whole (regex-heavy)
    // projection chain a second time — measured at 2x the query; the
    // driver's compare sorts rows itself, and a total order over a
    // corpus-sized parse result is not a thing a 100 TB run would ask
    // for either
    parsed.select(col("o_orderkey"), col("fam"), col("surface"),
      col("fmt_is_regex"),
      DC.branchOf(col("iso_us"), col("fmt_is_regex"), col("cand_us"),
        col("br_us")).as("branch"),
      DC.parsedUs(col("iso_us"), col("fmt_is_regex"), col("cand_us"),
        col("br_us")).as("parsed_us"))
      .sortWithinPartitions(col("o_orderkey"))
  }

  val datetimeCascadeSql: String = {
    import graft.operators.{DatetimeCascade => DC}
    def norm(x: String): String =
      s"TRIM(regexp_replace(replace(replace($x, chr(160), ' '), chr(8239), ' '), '\\s+', ' ', 'g'))"
    def epoch(y: String, mo: String, dd: String,
        hh: String, mi: String, ss: String): String =
      s"""CASE WHEN $mo BETWEEN 1 AND 12
         |      AND $dd BETWEEN 1 AND (CASE WHEN $mo = 2 THEN
         |            (CASE WHEN ($y % 4 = 0 AND $y % 100 <> 0) OR $y % 400 = 0
         |             THEN 29 ELSE 28 END)
         |          WHEN $mo IN (4,6,9,11) THEN 30 ELSE 31 END)
         |      AND $hh BETWEEN 0 AND 23 AND $mi BETWEEN 0 AND 59
         |      AND $ss BETWEEN 0 AND 59
         |  THEN epoch_us(make_timestamp($y, $mo, $dd, $hh, $mi, CAST($ss AS DOUBLE)))
         |  END""".stripMargin
    def isoUs(x: String): String = {
      val p = DC.IsoPattern
      def g(i: Int) = s"regexp_extract($x, '$p', $i)"
      def gi(i: Int) = s"CAST(${g(i)} AS INT)"
      val hasTime = s"${g(4)} <> ''"
      val base = epoch(gi(1), gi(2), gi(3),
        s"(CASE WHEN $hasTime THEN ${gi(4)} ELSE 0 END)",
        s"(CASE WHEN $hasTime THEN ${gi(5)} ELSE 0 END)",
        s"(CASE WHEN $hasTime AND ${g(6)} <> '' THEN ${gi(6)} ELSE 0 END)")
      val off = s"""(CASE WHEN ${g(7)} IN ('', 'Z') THEN 0
         | ELSE (CASE WHEN substr(${g(7)}, 1, 1) = '-' THEN -1 ELSE 1 END)
         |   * (CAST(substr(${g(7)}, 2, 2) AS BIGINT) * 60
         |      + CAST(substr(${g(7)}, 5, 2) AS BIGINT)) END)""".stripMargin
      s"(CASE WHEN regexp_matches($x, '$p') THEN ($base) - $off * 60000000 END)"
    }
    def brUs(x: String): String = {
      val dp = DC.BrDatePattern
      val tp = DC.BrTimePattern
      def d(i: Int) = s"regexp_extract($x, '$dp', $i)"
      def t(i: Int) = s"regexp_extract($x, '$tp', $i)"
      val hasTime = s"${t(0)} <> ''"
      val e = epoch(s"CAST(${d(3)} AS INT)", s"CAST(${d(2)} AS INT)",
        s"CAST(${d(1)} AS INT)",
        s"(CASE WHEN $hasTime THEN CAST(${t(1)} AS INT) ELSE 0 END)",
        s"(CASE WHEN $hasTime THEN CAST(${t(2)} AS INT) ELSE 0 END)",
        s"(CASE WHEN $hasTime AND ${t(3)} <> '' THEN CAST(${t(3)} AS INT) ELSE 0 END)")
      s"(CASE WHEN ${d(0)} <> '' THEN $e END)"
    }
    s"""WITH base AS (SELECT o_orderkey, o_orderkey % 8 AS fam,
       |    CAST(year(d) AS VARCHAR) AS sy,
       |    CAST(month(d) AS VARCHAR) AS smo, CAST(day(d) AS VARCHAR) AS sdd,
       |    lpad(CAST(month(d) AS VARCHAR), 2, '0') AS pmo,
       |    lpad(CAST(day(d) AS VARCHAR), 2, '0') AS pdd,
       |    CAST(o_orderkey % 24 AS VARCHAR) AS sh,
       |    lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') AS ph,
       |    lpad(CAST(o_orderkey * 7 % 60 AS VARCHAR), 2, '0') AS pmi,
       |    lpad(CAST(o_orderkey * 13 % 60 AS VARCHAR), 2, '0') AS pss
       |  FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)),
       |surf AS (SELECT o_orderkey, fam,
       |    CASE fam
       |      WHEN 0 THEN chr(160) || sy || '-' || pmo || '-' || pdd || 'T' || ph || ':' || pmi || ':' || pss || 'Z '
       |      WHEN 1 THEN sy || '-' || pmo || '-' || pdd || ' ' || ph || ':' || pmi || ':' || pss || '+03:00'
       |      WHEN 2 THEN 'Publicado' || chr(160) || 'em  ' || pdd || '/' || pmo || '/' || sy || ' às ' || sh || 'h' || pmi
       |      WHEN 3 THEN sdd || '/' || smo || '/' || sy || ' ' || sh || ':' || pmi || ':' || pss || ' — Gazeta Regional'
       |      WHEN 4 THEN 'Em ' || pdd || '/' || pmo || '/' || sy || ', o plenário aprovou'
       |      WHEN 5 THEN 'ontem à tarde'
       |      WHEN 6 THEN 'Sessão de ' || pdd || '/' || pmo || '/' || sy || ' às ' || sh || 'h' || pmi
       |      ELSE sy || '-' || pmo || '-' || pdd || 'T' || ph || ':' || pmi
       |    END AS surface,
       |    CASE fam
       |      WHEN 0 THEN '%Y-%m-%dT%H:%M:%SZ' WHEN 1 THEN '%Y-%m-%d'
       |      WHEN 2 THEN '$RegexFmt' WHEN 3 THEN '%d/%m/%Y'
       |      WHEN 4 THEN '%d de %B de %Y' WHEN 5 THEN '%d/%m/%Y'
       |      WHEN 6 THEN '$RegexFmt' ELSE '%Y-%m-%d'
       |    END AS fmt
       |  FROM base),
       |nv AS (SELECT *, ${norm("surface")} AS v FROM surf),
       |cv AS (SELECT *,
       |    CASE WHEN fmt = '$RegexFmt'
       |      THEN ${norm(s"NULLIF(regexp_extract(v, '$RegexFmt', 1), '')")} END AS cand,
       |    strpos(fmt, '%') = 0 AND (strpos(fmt, '(?') > 0
       |      OR strpos(fmt, '\\d') > 0 OR strpos(fmt, '[') > 0
       |      OR strpos(fmt, ')') > 0) AS fmt_is_regex
       |  FROM nv),
       |legs AS (SELECT *, ${isoUs("v")} AS iso_us,
       |    COALESCE(${isoUs("cand")}, ${brUs("cand")}) AS cand_us,
       |    ${brUs("v")} AS br_us
       |  FROM cv)
       |SELECT o_orderkey, fam, surface, fmt_is_regex,
       |  CASE WHEN iso_us IS NOT NULL THEN 'iso'
       |       WHEN fmt_is_regex AND cand_us IS NOT NULL THEN 'regex'
       |       WHEN br_us IS NOT NULL THEN 'br' ELSE 'error' END AS branch,
       |  CAST(COALESCE(iso_us,
       |    CASE WHEN fmt_is_regex THEN cand_us END, br_us) AS BIGINT) AS parsed_us
       |FROM legs ORDER BY o_orderkey""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q48_date_parse" -> (dateParse _),
    "q242_datetime_cascade" -> (datetimeCascade _))
  val oracles: Map[String, String] = Map(
    "q48_date_parse" -> dateParseSql,
    "q242_datetime_cascade" -> datetimeCascadeSql)
}
