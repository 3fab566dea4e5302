package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** q244: the portal-registration service's lifecycle semantics
  * (application/servico_registro_portal.py:24-67) as a replayed ops
  * log — `register` refuses a duplicate name ("Portal '<name>'
  * already exists", :36-38: the FIRST registration wins and every
  * later one is a conflict), `get_portal` raises "Portal '<name>' not
  * found" when nothing with that name has been registered yet
  * (:50-67), and the registry state a `list_portals` would see is the
  * set of winning registrations.
  *
  * Replay: each supplier row emits one `register` at seq 2k for the
  * colliding name pool (7 names over |suppliers| rows, so duplicates
  * are the common case) and one interleaved `get` at seq 2k+1 for a
  * shifted name (3 of the 10 probed names are never registered). An
  * op's outcome depends only on the name's FIRST registration seq, so
  * the fold is one dim-sized aggregation + a broadcast join back —
  * no window, no iteration; at scale the ops log streams map-side
  * against the broadcast winner dim. */
object PortalRegistryQueries extends QueryFamily {

  /** Registered-name pool size; gets probe [[GetNames]] names. */
  val NamePool = 7
  val GetNames = 10

  def portalRegistry(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"))
    val registers = sup.select(
      (col("s_suppkey") * 2).as("seq"),
      lit("register").as("op"),
      concat(lit("portal_"), (col("s_suppkey") % NamePool).cast("string")).as("name"))
    val gets = sup.select(
      (col("s_suppkey") * 2 + 1).as("seq"),
      lit("get").as("op"),
      concat(lit("portal_"),
        ((col("s_suppkey") + 3) % GetNames).cast("string")).as("name"))
    val ops = registers.unionByName(gets)
    val winners = registers.groupBy(col("name"))
      .agg(min(col("seq")).as("winner_seq"))
    val out = ops.join(broadcast(winners), Seq("name"), "left")
      .withColumn("outcome",
        when(col("op") === "register",
          when(col("seq") === col("winner_seq"), "registered")
            .otherwise("conflict"))
        .otherwise(
          when(col("winner_seq").isNotNull && col("winner_seq") < col("seq"),
            "found").otherwise("not_found")))
      .withColumn("message",
        when(col("outcome") === "conflict",
          concat(lit("Portal '"), col("name"), lit("' already exists")))
        .when(col("outcome") === "not_found",
          concat(lit("Portal '"), col("name"), lit("' not found"))))
      .withColumn("winner_seq",
        // a get that raced ahead of the name's first registration sees
        // an empty registry, exactly like a never-registered name
        when(col("op") === "get" && col("outcome") === "not_found", lit(null))
          .otherwise(col("winner_seq")))
    out.select(col("seq"), col("op"), col("name"), col("outcome"),
      col("winner_seq"), col("message"))
      .orderBy(col("seq"), col("op"), col("name"))
  }

  val portalRegistrySql: String =
    s"""WITH sup AS (SELECT s_suppkey FROM supplier),
       |registers AS (SELECT s_suppkey * 2 AS seq, 'register' AS op,
       |    'portal_' || CAST(s_suppkey % $NamePool AS VARCHAR) AS name
       |  FROM sup),
       |gets AS (SELECT s_suppkey * 2 + 1 AS seq, 'get' AS op,
       |    'portal_' || CAST((s_suppkey + 3) % $GetNames AS VARCHAR) AS name
       |  FROM sup),
       |ops AS (SELECT * FROM registers UNION ALL SELECT * FROM gets),
       |winners AS (SELECT name, CAST(MIN(seq) AS BIGINT) AS winner_seq
       |  FROM registers GROUP BY name),
       |marked AS (SELECT o.seq, o.op, o.name, w.winner_seq,
       |    CASE WHEN o.op = 'register' THEN
       |      CASE WHEN o.seq = w.winner_seq THEN 'registered' ELSE 'conflict' END
       |    ELSE
       |      CASE WHEN w.winner_seq IS NOT NULL AND w.winner_seq < o.seq
       |        THEN 'found' ELSE 'not_found' END
       |    END AS outcome
       |  FROM ops o LEFT JOIN winners w ON w.name = o.name)
       |SELECT CAST(seq AS BIGINT) AS seq, op, name, outcome,
       |  CASE WHEN op = 'get' AND outcome = 'not_found' THEN NULL
       |    ELSE winner_seq END AS winner_seq,
       |  CASE WHEN outcome = 'conflict'
       |      THEN 'Portal ''' || name || ''' already exists'
       |    WHEN outcome = 'not_found'
       |      THEN 'Portal ''' || name || ''' not found' END AS message
       |FROM marked
       |ORDER BY seq, op, name""".stripMargin

  val queries: Map[String, Q] = Map("q244_portal_registry" -> (portalRegistry _))
  val oracles: Map[String, String] = Map("q244_portal_registry" -> portalRegistrySql)
}
