package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.TextFunctions.{fold, tokens}
import graft.operators.Dedup

/** Data-integrity and lexical-vector similarity: a Merkle tree over
  * the shard manifest (q232) — the tamper-evidence structure that lets
  * two replicas prove corpus equality by comparing one root hash and
  * localize a mismatch in log(shards) digest comparisons — and exact
  * tf-idf cosine near-dup with bounded candidate generation (q233),
  * the lexical-VECTOR complement of q22's set Jaccard and q25's
  * embedding cosine.
  */
object IntegritySimQueries extends QueryFamily {

  // ---- q232: Merkle tree over the shard manifest ----

  /** q232: Merkle manifest of the corpus partitioned by source. Leaf =
    * md5 over the source's name, doc count and an order-independent
    * content checksum (sum of per-doc md5 prefixes — commutative, so
    * the leaf is reproducible at any parallelism); parents = md5 of
    * the children's digests in shard order, odd leftovers promoted as
    * single-child hashes; levels halve to the root. Output: every node
    * of every level.
    *
    * Scale: one corpus hash agg builds the 20-leaf dim; the tree is
    * log2(shards) dim-sized rounds (driver-counted — bounded, the
    * BPE-argmax precedent). Verification against a replica is
    * root-compare, then walk only the mismatching subtree. */
  def merkleManifest(s: SparkSession, dir: String): DataFrame = {
    val leaves = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("conv(substring(md5(text), 1, 15), 16, 10) % 1000000007").cast("long"))
          .as("chk"))
      .select(col("source"), col("n_docs"), col("chk"))
    val ordered = leaves
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("source"))).cast("long") - 1)
      .withColumn("digest",
        md5(concat_ws(":", col("source"), col("n_docs"), col("chk"))))
      .select(col("idx"), col("digest"), lit(1L).as("n_children"))
    var level = Dedup.stage(ordered)
    var out = level.withColumn("level", lit(0L))
    var n = level.count()
    var lvl = 0L
    while (n > 1) {
      lvl += 1
      level = Dedup.stage(level
        .groupBy((col("idx") / 2).cast("long").as("idx"))
        .agg(md5(concat_ws("|",
            expr("transform(sort_array(collect_list(struct(idx, digest))), x -> x.digest)")))
          .as("digest"),
          count(lit(1)).as("n_children")))
      out = out.unionByName(level.withColumn("level", lit(lvl)))
      n = level.count()
    }
    out.select(col("level"), col("idx"), col("digest"), col("n_children"))
      .orderBy(col("level"), col("idx"))
  }

  val merkleManifestSql: String = {
    // unroll enough halvings for any plausible shard count; level k+1
    // materializes only while level k still has >1 node
    val levels = (1 to 6).map { k =>
      s"""lvl$k AS MATERIALIZED (
         |  SELECT idx // 2 AS idx,
         |    md5(string_agg(digest, '|' ORDER BY idx)) AS digest,
         |    CAST(COUNT(*) AS BIGINT) AS n_children
         |  FROM lvl${k - 1}
         |  WHERE (SELECT COUNT(*) FROM lvl${k - 1}) > 1
         |  GROUP BY idx // 2)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to 6).map { k =>
      s"SELECT CAST($k AS BIGINT) AS level, idx, digest, n_children FROM lvl$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH leaves AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007) AS BIGINT) AS chk
       |  FROM documents GROUP BY source),
       |ordered AS (SELECT
       |    CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) - 1 AS idx,
       |    md5(source || ':' || n_docs || ':' || chk) AS digest,
       |    CAST(1 AS BIGINT) AS n_children
       |  FROM leaves),
       |lvl0 AS (SELECT idx, digest, n_children FROM ordered),
       |$levels
       |SELECT CAST(0 AS BIGINT) AS level, idx, digest, n_children FROM lvl0
       |UNION ALL
       |$unions
       |ORDER BY level, idx""".stripMargin
  }

  // ---- q233: sparse tf-idf cosine near-dup ----

  /** Terms with document frequency above this cap generate no
    * candidate pairs (they can't discriminate); the DOT still runs
    * over ALL shared terms of a candidate pair. */
  val SpDfCap = 20L
  val SpCosThreshold = 200000L
  /** Candidate pairs must share at least this many capped (rare)
    * shingles before the exact dot runs — the prefix-filter pruning of
    * Bayardo et al. 2007: a single shared rare shingle cannot reach
    * the cosine threshold on these vectors, and dropping those pairs
    * removes the bulk of the candidate mass. */
  val SpMinRareShared = 2L

  /** q233: exact tf-idf cosine similarity between documents with
    * df-capped candidate generation — the lexical-VECTOR member of the
    * near-dup family (q22 measures set overlap, q25 embedding cosine;
    * this weighs shared RARE phrasing). Terms are 3-token shingles
    * (the corpus vocabulary is tiny, so words alone cannot
    * discriminate — the q22 grain); term weight = tf x the
    * rational rarity (N−df+1)·1e6/N (the q134 discipline — no `ln`
    * enters a hash-compared column); candidate pairs come only from
    * terms with df ≤ [[SpDfCap]] (the q22/q91 safety valve), but each
    * candidate's dot product runs over ALL its shared terms via two
    * token-keyed joins against the full weighted vectors. */
  def sparseCosine(s: SparkSession, dir: String): DataFrame = {
    val docTok = Dedup.stage(Tables.documents(s, dir)
      .select(col("doc_id"), explode_outer(
        graft.functions.GraftFunctions.tokenShingles(tokens(fold(col("text"))), 3)).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docTok.select(countDistinct(col("doc_id")).as("n_docs"))
    val weighted = Dedup.stage(docTok.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", expr("tf * ((n_docs - df + 1) * 1000000 div n_docs)"))
      .select(col("doc_id"), col("tok"), col("df"), col("w")))
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("nrm2"))
    val rare = weighted.filter(col("df") <= SpDfCap)
      .select(col("tok"), col("doc_id"))
    val cand = rare.join(rare.select(col("tok"), col("doc_id").as("doc_b")), Seq("tok"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= SpMinRareShared)
      .select(col("doc_a"), col("doc_b"))
    val dots = cand
      .join(weighted.select(col("doc_id").as("doc_a"), col("tok"), col("w").as("wa")),
        Seq("doc_a"))
      .join(weighted.select(col("doc_id").as("doc_b"), col("tok"), col("w").as("wb")),
        Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"), count(lit(1)).as("n_shared"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm2").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm2").as("nb")), Seq("doc_b"))
      .withColumn("cos_e6",
        round(lit(1000000.0) * col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .cast("long"))
      .filter(col("cos_e6") >= SpCosThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("cos_e6"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val sparseCosineSql: String = {
    val fold = "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim($fold), '\\s+') AS t FROM documents),
       |pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
       |sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tok
       |  FROM pos WHERE i + 2 <= len(t)),
       |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM sh GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
       |wt AS (SELECT doc_id, tok, df,
       |    tf * ((n_docs - df + 1) * 1000000 // n_docs) AS w
       |  FROM tf JOIN dfq USING (tok) CROSS JOIN nd),
       |nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm2 FROM wt GROUP BY doc_id),
       |rare AS (SELECT tok, doc_id FROM wt WHERE df <= $SpDfCap),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*) >= $SpMinRareShared),
       |dots AS (SELECT c.doc_a, c.doc_b,
       |    CAST(SUM(wa.w * wb.w) AS BIGINT) AS dot,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM cand c
       |  JOIN wt wa ON wa.doc_id = c.doc_a
       |  JOIN wt wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT d.doc_a, d.doc_b, d.n_shared,
       |  CAST(ROUND(1000000.0 * CAST(d.dot AS DOUBLE) /
       |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))) AS BIGINT) AS cos_e6
       |FROM dots d
       |JOIN nrm na ON na.doc_id = d.doc_a
       |JOIN nrm nb ON nb.doc_id = d.doc_b
       |WHERE CAST(ROUND(1000000.0 * CAST(d.dot AS DOUBLE) /
       |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))) AS BIGINT) >= $SpCosThreshold
       |ORDER BY d.doc_a, d.doc_b""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q232_merkle_manifest" -> (merkleManifest _),
    "q233_sparse_cosine" -> (sparseCosine _))

  val oracles: Map[String, String] = Map(
    "q232_merkle_manifest" -> merkleManifestSql,
    "q233_sparse_cosine" -> sparseCosineSql)
}
