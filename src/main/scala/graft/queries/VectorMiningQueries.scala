package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Similarity}
import graft.plans.Plans

/** Embedding-space mining beyond point lookups — the graph-, panel-
  * and pair-shaped consumers of the ANN machinery an embedding-driven
  * data pipeline runs next: the k-NN GRAPH whose degree/reciprocity
  * profile is the standard ANN-index health check (and the substrate
  * of graph-based indexes like HNSW), MMR diversified reranking (the
  * RAG answer-set de-redundancy step), and contrastive hard-negative
  * mining (the training-pair generator for embedding-model
  * fine-tuning). All candidate generation rides the multi-band LSH of
  * q25 — never an all-pairs scan — and every ranking key is integer,
  * so results are engine-exact. */
object VectorMiningQueries extends QueryFamily {

  private val Dim = Similarity.Dim

  // ---- q183: k-NN graph + degree/reciprocity audit ----

  val KnnK = 4

  /** q183: directed k-NN graph over the corpus — each vector's top-4
    * most-similar peers among its multi-band LSH candidates — plus the
    * per-node audit every ANN deployment reads before trusting an
    * index: out-degree (< k means the bands isolated the node),
    * IN-degree (hubness — the skew that poisons graph-index
    * navigability), reciprocal-edge count (symmetry of the
    * neighborhood relation) and the top-1 neighbor.
    *
    * Scale shape: candidates are the q25 band self-join (work is
    * Sum(bucket^2), never n^2); each undirected pair is scored ONCE
    * and emitted in both directions; per-node top-k runs through
    * TopKPerKeyExec bounded heaps (no corpus-wide window); the
    * in-degree/reciprocity joins touch only the n*k edge table, keyed
    * by vec_id. Exactly the candidate+rank recipe an HNSW/NSG builder
    * distributes at 100 TB. */
  /** The staged directed k-NN edge table (src, dst, cos_e6, rnk) —
    * shared by the graph audit (q183) and the triangle count (q189). */
  /** Band-bucket occupancy cap for the kNN-edge family (q183/q189/
    * q192/q193), the q25 contract extended: a bucket past the cap
    * under an 8-bit band carries no neighborhood signal and costs
    * occupancy² — the 64x trajectory corpus measured the uncapped
    * candidate join quadratic (22.6s at x16, >15 min at x64; capped:
    * see SURVEY §5). Never binds at the gate SFs, so gate results are
    * unchanged; the durable scale path is deeper codes as N grows.
    * The streaming twin (StreamingKnnGraph) is append-only and
    * replays ≡ batch exactly while no bucket crosses the cap — the
    * regime its spec pins. */
  val KnnBucketCap: Int = SimilarityQueries.NeardupBucketCap

  private[queries] def knnEdges(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // threshold -2 keeps every scored candidate (cos >= -1 always)
    val pairs = Dedup.stage(Similarity.cosinePairsLsh(emb, -2.0,
      bucketCap = Some(KnnBucketCap)))
    val both = pairs.select(col("vec_id_a").as("src"), col("vec_id_b").as("dst"), col("cos_e6"))
      .union(pairs.select(col("vec_id_b").as("src"), col("vec_id_a").as("dst"), col("cos_e6")))
    Dedup.stage(Plans.topKPerKeyRanked(both, Seq(both("src")),
      Seq((both("cos_e6"), true), (both("dst"), false)), KnnK, "rnk"))
  }

  /** The per-node audit over a ranked edge table (src, dst, cos_e6,
    * rnk) and a node list — shared by q183 and the streaming fold
    * (StreamingKnnGraph replays to exactly this). */
  def knnAudit(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val outd = edges.groupBy(col("src")).agg(
      count(lit(1)).as("degree"), sum(col("cos_e6")).as("sum_cos_e6"))
    val ind = edges.groupBy(col("dst").as("src")).agg(count(lit(1)).as("in_degree"))
    val rec = edges.select(col("src"), col("dst"))
      .join(edges.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("recip_edges"))
    val top1 = edges.filter(col("rnk") === 1L)
      .select(col("src"), col("dst").as("top1_id"), col("cos_e6").as("top1_cos_e6"))
    nodes.select(col("vec_id").as("src"))
      .join(outd, Seq("src"), "left")
      .join(ind, Seq("src"), "left")
      .join(rec, Seq("src"), "left")
      .join(top1, Seq("src"), "left")
      .select(col("src").as("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("recip_edges"), lit(0L)).as("recip_edges"),
        col("top1_id"), col("top1_cos_e6"),
        coalesce(col("sum_cos_e6"), lit(0L)).as("sum_cos_e6"))
      .orderBy(col("vec_id"))
  }

  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnAudit(Tables.embeddings(s, dir), knnEdges(s, dir))

  /** The CTE prefix ending in `edges(src, dst, cos_e6, rnk)` — the
    * SQL twin of [[knnEdges]], shared by the q183 and q189 oracles. */
  private[queries] def knnEdgesCtes: String = {
    val dotAB = dotSql("a.emb_a", "b.emb_b", Dim)
    val bandSelects = (0 until Similarity.NeardupBands).map { b =>
      s"SELECT vec_id, $b AS band_id, ${Similarity.neardupBandSql("embedding", b)} AS band_val FROM base"
    }.mkString("\nUNION ALL\n")
    s"""base AS (SELECT vec_id, embedding, ${normSql("embedding", Dim)} AS nrm FROM embeddings),
       |banded0 AS (
       |$bandSelects),
       |banded AS (SELECT vec_id, band_id, band_val FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS occ
       |    FROM banded0)
       |  WHERE occ <= $KnnBucketCap),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
       |pairs AS (SELECT vec_id_a, vec_id_b,
       |    ${e6Sql(s"($dotAB) / (a.norm_a * b.norm_b)")} AS cos_e6
       |  FROM cand
       |  JOIN (SELECT vec_id AS vec_id_a, embedding AS emb_a, nrm AS norm_a FROM base) a USING (vec_id_a)
       |  JOIN (SELECT vec_id AS vec_id_b, embedding AS emb_b, nrm AS norm_b FROM base) b USING (vec_id_b)),
       |both_dir AS (SELECT vec_id_a AS src, vec_id_b AS dst, cos_e6 FROM pairs
       |  UNION ALL SELECT vec_id_b AS src, vec_id_a AS dst, cos_e6 FROM pairs),
       |edges AS MATERIALIZED (SELECT src, dst, cos_e6, rnk FROM (
       |    SELECT src, dst, cos_e6,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_e6 DESC, dst) AS rnk
       |    FROM both_dir) WHERE rnk <= $KnnK)""".stripMargin
  }

  val knnGraphSql: String = {
    s"""WITH $knnEdgesCtes,
       |outd AS (SELECT src, COUNT(*) AS degree,
       |    CAST(SUM(cos_e6) AS BIGINT) AS sum_cos_e6 FROM edges GROUP BY src),
       |ind AS (SELECT dst AS src, COUNT(*) AS in_degree FROM edges GROUP BY dst),
       |rec AS (SELECT e1.src AS src, COUNT(*) AS recip_edges
       |  FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
       |  GROUP BY e1.src),
       |top1 AS (SELECT src, dst AS top1_id, cos_e6 AS top1_cos_e6 FROM edges WHERE rnk = 1)
       |SELECT v.vec_id,
       |  COALESCE(outd.degree, 0) AS degree,
       |  COALESCE(ind.in_degree, 0) AS in_degree,
       |  COALESCE(rec.recip_edges, 0) AS recip_edges,
       |  top1.top1_id, top1.top1_cos_e6,
       |  COALESCE(outd.sum_cos_e6, 0) AS sum_cos_e6
       |FROM (SELECT vec_id FROM embeddings) v
       |LEFT JOIN outd ON v.vec_id = outd.src
       |LEFT JOIN ind ON v.vec_id = ind.src
       |LEFT JOIN rec ON v.vec_id = rec.src
       |LEFT JOIN top1 ON v.vec_id = top1.src
       |ORDER BY v.vec_id""".stripMargin
  }

  // ---- q184: MMR diversified reranking ----

  val MmrShortlist = 12
  val MmrK = 5
  // lambda = 0.7, scaled x10 so the score stays integer
  val MmrRelW = 7L
  val MmrDivW = 3L

  /** q184: maximal-marginal-relevance reranking (Carbonell & Goldstein,
    * SIGIR'98) — the de-redundancy pass between ANN retrieval and a RAG
    * prompt: from each query's top-`MmrShortlist` cosine shortlist,
    * greedily select `MmrK` results maximizing
    * `7*rel_e6 - 3*max_sim_to_selected_e6` (lambda = 0.7 in integer
    * tenths), so near-duplicate hits stop crowding out coverage.
    *
    * Scale shape: the corpus is touched ONLY by the q26 brute-force
    * shortlist pass (broadcast queries, bounded heaps); everything
    * after — the candidate-candidate similarity table and the greedy
    * rounds — lives on n_queries x shortlist^2 rows. The greedy loop
    * is inherently sequential in k, but each of its `MmrK` rounds is
    * one bounded distributed plan (anti-join + max-sim agg + per-query
    * argmax through bounded heaps), so reranking a million queries
    * runs the same 5 rounds — work per round scales with queries, not
    * selections. All ranking integer: ties by vec_id. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val sl = Dedup.stage(Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < SimilarityQueries.QuerySetBound),
      emb.filter(col("vec_id") >= SimilarityQueries.QuerySetBound), MmrShortlist)
      .select(col("q_vec_id"), col("vec_id"), col("cos_e6").as("rel_e6")))
    val withEmb = sl.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("nrm", norm(col("embedding")))
    val sims = Dedup.stage(withEmb
      .select(col("q_vec_id"), col("vec_id").as("c1"), col("embedding").as("e1"), col("nrm").as("n1"))
      .join(withEmb.select(col("q_vec_id"), col("vec_id").as("c2"),
        col("embedding").as("e2"), col("nrm").as("n2")), Seq("q_vec_id"))
      .filter(col("c1") =!= col("c2"))
      .select(col("q_vec_id"), col("c1"), col("c2"),
        e6(cosineFrom(dot(col("e1"), col("e2")), col("n1"), col("n2"))).as("sim_e6")))
    def pick(scored: DataFrame): DataFrame =
      Plans.topKPerKeyRanked(scored, Seq(scored("q_vec_id")),
        Seq((scored("mmr_score"), true), (scored("vec_id"), false)), 1, "pick_rnk")
        .drop("pick_rnk")
    val first = sl
      .withColumn("msim_e6", lit(0L))
      .withColumn("mmr_score", col("rel_e6") * MmrRelW)
    var sel = Dedup.stage(pick(first).withColumn("step", lit(1L)))
    for (step <- 2 to MmrK) {
      val cand = sl.join(sel.select(col("q_vec_id"), col("vec_id")),
        Seq("q_vec_id", "vec_id"), "left_anti")
      val ms = cand
        .join(sims
          .join(sel.select(col("q_vec_id"), col("vec_id").as("c2")), Seq("q_vec_id", "c2"))
          .groupBy(col("q_vec_id"), col("c1").as("vec_id"))
          .agg(max(col("sim_e6")).as("msim_e6")), Seq("q_vec_id", "vec_id"), "left")
        .withColumn("msim_e6", coalesce(col("msim_e6"), lit(0L)))
        .withColumn("mmr_score", col("rel_e6") * MmrRelW - col("msim_e6") * MmrDivW)
      sel = Dedup.stage(sel.union(pick(ms).withColumn("step", lit(step.toLong))))
    }
    sel.select(col("q_vec_id"), col("step"), col("vec_id"),
      col("rel_e6"), col("msim_e6"), col("mmr_score"))
      .orderBy(col("q_vec_id"), col("step"))
  }

  val mmrRerankSql: String = {
    val b = SimilarityQueries.QuerySetBound
    val dotQC = dotSql("q_emb", "embedding", Dim)
    val dot12 = dotSql("a.e1", "b.e2", Dim)
    // unrolled greedy: sel1 is the per-query relevance argmax; each
    // later step anti-joins the accumulated selection, takes the max
    // sim to it, and picks the mmr argmax — generated per step from
    // the same constants as the Spark side
    val steps = (2 to MmrK).map { t =>
      s"""cand$t AS (SELECT sl.* FROM sl WHERE NOT EXISTS (
         |  SELECT 1 FROM selall${t - 1} s
         |  WHERE s.q_vec_id = sl.q_vec_id AND s.vec_id = sl.vec_id)),
         |ms$t AS (SELECT c.q_vec_id, c.vec_id, c.rel_e6,
         |    COALESCE(MAX(s.sim_e6), 0) AS msim_e6
         |  FROM cand$t c LEFT JOIN (
         |    SELECT sims.q_vec_id, sims.c1, sims.sim_e6 FROM sims
         |    JOIN selall${t - 1} sa ON sims.q_vec_id = sa.q_vec_id AND sims.c2 = sa.vec_id) s
         |    ON s.q_vec_id = c.q_vec_id AND s.c1 = c.vec_id
         |  GROUP BY c.q_vec_id, c.vec_id, c.rel_e6),
         |sel$t AS (SELECT q_vec_id, vec_id, rel_e6, msim_e6,
         |    rel_e6 * $MmrRelW - msim_e6 * $MmrDivW AS mmr_score, CAST($t AS BIGINT) AS step
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
         |      ORDER BY rel_e6 * $MmrRelW - msim_e6 * $MmrDivW DESC, vec_id) AS rn
         |    FROM ms$t) WHERE rn = 1),
         |selall$t AS (SELECT * FROM selall${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_vec_id, embedding AS q_emb, ${normSql("embedding", Dim)} AS q_norm
       |  FROM embeddings WHERE vec_id < $b),
       |c AS (SELECT vec_id, embedding, ${normSql("embedding", Dim)} AS c_norm
       |  FROM embeddings WHERE vec_id >= $b),
       |sl AS (SELECT q_vec_id, vec_id, rel_e6 FROM (
       |    SELECT q_vec_id, vec_id, ${e6Sql(s"($dotQC) / (q_norm * c_norm)")} AS rel_e6,
       |      ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |        ORDER BY ${e6Sql(s"($dotQC) / (q_norm * c_norm)")} DESC, vec_id) AS rnk
       |    FROM c, q) WHERE rnk <= $MmrShortlist),
       |we AS (SELECT sl.q_vec_id, sl.vec_id, sl.rel_e6, e.embedding,
       |    ${normSql("e.embedding", Dim)} AS nrm
       |  FROM sl JOIN embeddings e ON sl.vec_id = e.vec_id),
       |sims AS (SELECT a.q_vec_id, a.vec_id AS c1, b.vec_id AS c2,
       |    ${e6Sql(s"($dot12) / (a.n1 * b.n2)")} AS sim_e6
       |  FROM (SELECT q_vec_id, vec_id, embedding AS e1, nrm AS n1 FROM we) a
       |  JOIN (SELECT q_vec_id, vec_id, embedding AS e2, nrm AS n2 FROM we) b
       |    ON a.q_vec_id = b.q_vec_id AND a.vec_id <> b.vec_id),
       |sel1 AS (SELECT q_vec_id, vec_id, rel_e6, CAST(0 AS BIGINT) AS msim_e6,
       |    rel_e6 * $MmrRelW AS mmr_score, CAST(1 AS BIGINT) AS step
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY rel_e6 DESC, vec_id) AS rn FROM sl) WHERE rn = 1),
       |selall1 AS (SELECT * FROM sel1),
       |$steps
       |SELECT q_vec_id, step, vec_id, rel_e6, msim_e6, mmr_score
       |FROM selall$MmrK
       |ORDER BY q_vec_id, step""".stripMargin
  }

  // ---- q186: contrastive hard-negative mining ----

  val TripletMarginE6 = 100000L // 0.1 in cosine units

  /** q186: training-pair mining for embedding-model fine-tuning — for
    * every anchor, the closest SAME-label peer (the easy positive) and
    * the closest DIFFERENT-label peer (the hard negative) among its
    * LSH candidates, plus the triplet-margin verdict
    * `neg_cos >= pos_cos - 0.1` that marks the semi-hard region
    * triplet-loss training actually learns from (Schroff et al.,
    * FaceNet CVPR'15). Production miners shortlist by ANN exactly like
    * this — the global argmax is neither needed nor wanted (the
    * hardest negatives beyond the ANN horizon are too easy to matter).
    *
    * Scale shape: candidates are the shared q25 band self-join; labels
    * ride the n*k candidate table through vec_id-keyed joins; the two
    * per-anchor argmaxes run through bounded heaps (k=1). Anchors
    * whose bands found no positive or no negative drop out — the
    * miner's contract is pairs it can actually form. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    // same bucket-occupancy cap as the kNN-edge family — the 64x
    // ladder measured this call site uncapped at 43s/x16 (quadratic
    // bucket occupancy), the one cosinePairsLsh user the first cap
    // pass missed; never binds at the gate SFs
    val pairs = Dedup.stage(Similarity.cosinePairsLsh(emb, -2.0,
      bucketCap = Some(KnnBucketCap)))
    val both = pairs.select(col("vec_id_a").as("anchor"), col("vec_id_b").as("peer"), col("cos_e6"))
      .union(pairs.select(col("vec_id_b").as("anchor"), col("vec_id_a").as("peer"), col("cos_e6")))
      .join(labels.select(col("vec_id").as("anchor"), col("label").as("a_label")), Seq("anchor"))
      .join(labels.select(col("vec_id").as("peer"), col("label").as("p_label")), Seq("peer"))
    def best(df: DataFrame, idName: String, cosName: String): DataFrame =
      Plans.topKPerKeyRanked(df, Seq(df("anchor")),
        Seq((df("cos_e6"), true), (df("peer"), false)), 1, "r")
        .select(col("anchor"), col("peer").as(idName), col("cos_e6").as(cosName))
    val pos = best(both.filter(col("a_label") === col("p_label")), "pos_id", "pos_cos_e6")
    val neg = best(both.filter(col("a_label") =!= col("p_label")), "neg_id", "neg_cos_e6")
    pos.join(neg, Seq("anchor"))
      .join(labels.select(col("vec_id").as("anchor"), col("label")), Seq("anchor"))
      .select(col("anchor").as("vec_id"), col("label"),
        col("pos_id"), col("pos_cos_e6"), col("neg_id"), col("neg_cos_e6"),
        (col("pos_cos_e6") - col("neg_cos_e6")).as("margin_e6"),
        (col("neg_cos_e6") >= col("pos_cos_e6") - TripletMarginE6).as("violates_margin"))
      .orderBy(col("vec_id"))
  }

  val hardNegativesSql: String = {
    val dotAB = dotSql("a.emb_a", "b.emb_b", Dim)
    val bandSelects = (0 until Similarity.NeardupBands).map { b =>
      s"SELECT vec_id, $b AS band_id, ${Similarity.neardupBandSql("embedding", b)} AS band_val FROM base"
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT vec_id, embedding, ${normSql("embedding", Dim)} AS nrm FROM embeddings),
       |labels AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |banded0 AS (
       |$bandSelects),
       |banded AS (SELECT vec_id, band_id, band_val FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS occ
       |    FROM banded0)
       |  WHERE occ <= $KnnBucketCap),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
       |pairs AS (SELECT vec_id_a, vec_id_b,
       |    ${e6Sql(s"($dotAB) / (a.norm_a * b.norm_b)")} AS cos_e6
       |  FROM cand
       |  JOIN (SELECT vec_id AS vec_id_a, embedding AS emb_a, nrm AS norm_a FROM base) a USING (vec_id_a)
       |  JOIN (SELECT vec_id AS vec_id_b, embedding AS emb_b, nrm AS norm_b FROM base) b USING (vec_id_b)),
       |both_dir AS (SELECT vec_id_a AS anchor, vec_id_b AS peer, cos_e6 FROM pairs
       |  UNION ALL SELECT vec_id_b AS anchor, vec_id_a AS peer, cos_e6 FROM pairs),
       |lab AS (SELECT bd.anchor, bd.peer, bd.cos_e6, la.label AS a_label, lp.label AS p_label
       |  FROM both_dir bd
       |  JOIN labels la ON bd.anchor = la.vec_id
       |  JOIN labels lp ON bd.peer = lp.vec_id),
       |pos AS (SELECT anchor, peer AS pos_id, cos_e6 AS pos_cos_e6 FROM (
       |    SELECT anchor, peer, cos_e6,
       |      ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cos_e6 DESC, peer) AS r
       |    FROM lab WHERE a_label = p_label) WHERE r = 1),
       |neg AS (SELECT anchor, peer AS neg_id, cos_e6 AS neg_cos_e6 FROM (
       |    SELECT anchor, peer, cos_e6,
       |      ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cos_e6 DESC, peer) AS r
       |    FROM lab WHERE a_label <> p_label) WHERE r = 1)
       |SELECT pos.anchor AS vec_id, l.label,
       |  pos.pos_id, pos.pos_cos_e6, neg.neg_id, neg.neg_cos_e6,
       |  pos.pos_cos_e6 - neg.neg_cos_e6 AS margin_e6,
       |  neg.neg_cos_e6 >= pos.pos_cos_e6 - $TripletMarginE6 AS violates_margin
       |FROM pos JOIN neg ON pos.anchor = neg.anchor
       |JOIN labels l ON pos.anchor = l.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  // ---- q189: triangle count / clustering coefficient ----

  /** q189: triangles and local clustering coefficients of the
    * (undirected) k-NN graph — the manifold-structure audit: a high
    * coefficient says neighborhoods are locally flat (neighbors of
    * neighbors are neighbors — embeddings lie on a manifold), a low
    * one says the metric is noise; and the triangle distribution is
    * the standard input to graph-index navigability analysis.
    *
    * Scale shape: the classic degree-ordered orientation (Schank &
    * Wagner's forward algorithm): each undirected edge points from its
    * (degree, id)-smaller endpoint to the larger, so every triangle is
    * counted exactly once at its smallest corner and — the part that
    * matters at 100 TB — a high-degree hub has its edges oriented
    * AWAY, bounding every adjacency list the wedge join touches by
    * O(sqrt(edges)) instead of the hub degree. Wedge build and closure
    * are two self-joins on vertex keys; per-corner counts explode each
    * triangle to its three corners. */
  def knnTriangles(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val edges = knnEdges(s, dir)
    val und = Dedup.stage(edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val deg = Dedup.stage(und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // orient a<->b toward the (deg, id)-larger endpoint
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = Dedup.stage(withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("dv")))
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    val tris = Dedup.stage(wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y")))
    val perNode = tris.select(col("u").as("node"))
      .union(tris.select(col("x").as("node")))
      .union(tris.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val globals = tris.agg(count(lit(1)).as("total_triangles"))
      .crossJoin(deg.agg(sum(expr("deg * (deg - 1) div 2")).as("total_wedges")))
      .withColumn("transitivity_e6", expr(
        "cast(round((3.0 * total_triangles / cast(total_wedges as double)) * 1000000.0) as bigint)"))
    emb.select(col("vec_id").as("node"))
      .join(deg, Seq("node"), "left")
      .join(perNode, Seq("node"), "left")
      .select(col("node").as("vec_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc_e6",
        when(col("degree") >= 2,
          expr("triangles * 2000000 div (degree * (degree - 1))")).otherwise(lit(0L)))
      .crossJoin(broadcast(globals))
      .select(col("vec_id"), col("degree"), col("triangles"), col("lcc_e6"),
        col("total_triangles"), col("total_wedges"), col("transitivity_e6"))
      .orderBy(col("vec_id"))
  }

  val knnTrianglesSql: String =
    s"""WITH $knnEdgesCtes,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
       |deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
       |  GROUP BY node),
       |oriented AS MATERIALIZED (SELECT u, v, dv FROM (
       |    SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
       |           CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
       |    FROM und
       |    JOIN (SELECT node AS a, deg AS da FROM deg) USING (a)
       |    JOIN (SELECT node AS b, deg AS db FROM deg) USING (b))
       |  JOIN (SELECT node AS v, deg AS dv FROM deg) USING (v)),
       |wedges AS (SELECT w1.u, w1.v AS x, w2.v AS y
       |  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u
       |  WHERE w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v)),
       |tris AS MATERIALIZED (SELECT w.u, w.x, w.y
       |  FROM wedges w JOIN oriented o ON o.u = w.x AND o.v = w.y),
       |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
       |    SELECT u AS node FROM tris UNION ALL SELECT x AS node FROM tris
       |    UNION ALL SELECT y AS node FROM tris)
       |  GROUP BY node),
       |g AS (SELECT total_triangles, total_wedges,
       |    CAST(ROUND((3.0 * total_triangles / CAST(total_wedges AS DOUBLE)) * 1000000.0) AS BIGINT) AS transitivity_e6
       |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tris)
       |  CROSS JOIN (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS total_wedges FROM deg))
       |SELECT e.vec_id,
       |  COALESCE(deg.deg, 0) AS degree,
       |  COALESCE(pn.triangles, 0) AS triangles,
       |  CASE WHEN COALESCE(deg.deg, 0) >= 2
       |    THEN COALESCE(pn.triangles, 0) * 2000000 // (deg.deg * (deg.deg - 1))
       |    ELSE 0 END AS lcc_e6,
       |  g.total_triangles, g.total_wedges, g.transitivity_e6
       |FROM (SELECT vec_id FROM embeddings) e
       |LEFT JOIN deg ON e.vec_id = deg.node
       |LEFT JOIN pn ON e.vec_id = pn.node
       |CROSS JOIN g
       |ORDER BY e.vec_id""".stripMargin

  // ---- q192: 2-core peeling of the k-NN graph ----

  val CoreK = 2
  val PeelRounds = 3

  /** q192: k-core decomposition (k=2, synchronized peeling) of the
    * undirected k-NN graph — the dense-region membership signal: a
    * node outside the 2-core hangs off the similarity structure by a
    * tendril (its neighborhood never closes), while 2-core members sit
    * in genuinely dense semantic regions (the SemDeDup-adjacent
    * "paraphrase mass"). Emits each node's original degree, the peel
    * round that removed it (0 = survived — coreness depth as a
    * signal), and its residual degree inside the core.
    *
    * Scale shape: the third iterative-graph genre next to PageRank
    * (q138) and min-label components (q67) — synchronized PEELING:
    * each of the `PeelRounds` fixed rounds is one degree hash-agg +
    * two vec_id-keyed anti-joins on the shrinking edge set, staged per
    * round (the q67 lineage recipe). Rounds are FIXED on both engines
    * (the fixpoint arrives in 2-3 rounds here; later rounds are
    * no-ops) so the oracle unrolls the identical schedule. */
  def knnKcore(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val und0 = Dedup.stage(knnEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val deg0 = und0.select(col("a").as("node")).union(und0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg0"))
    var edges = und0
    // peeling needs an explicit ALIVE set: a node whose last edge
    // vanishes because its neighbor dropped would otherwise never
    // appear in a degree table again and would silently "survive"
    var alive = Dedup.stage(deg0.select(col("node")))
    var removed = s.emptyDataFrame
    var removedInit = false
    for (round <- 1 to PeelRounds) {
      val deg = edges.select(col("a").as("node")).union(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val drop = alive.join(deg, Seq("node"), "left")
        .filter(coalesce(col("d"), lit(0L)) < CoreK)
        .select(col("node"), lit(round.toLong).as("removed_round"))
      edges = Dedup.stage(edges
        .join(drop.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(drop.select(col("node").as("b")), Seq("b"), "left_anti"))
      alive = Dedup.stage(alive.join(drop, Seq("node"), "left_anti"))
      removed = if (!removedInit) { removedInit = true; Dedup.stage(drop) }
        else Dedup.stage(removed.unionByName(drop))
    }
    val coreDeg = edges.select(col("a").as("node")).union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
    emb.select(col("vec_id").as("node"))
      .join(deg0, Seq("node"), "left")
      .join(removed, Seq("node"), "left")
      .join(coreDeg, Seq("node"), "left")
      .select(col("node").as("vec_id"),
        coalesce(col("deg0"), lit(0L)).as("degree"),
        coalesce(col("removed_round"),
          when(col("deg0").isNull, 1L).otherwise(0L)).as("removed_round"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"),
        (coalesce(col("removed_round"), lit(0L)) === 0L && col("deg0").isNotNull)
          .as("in_core"))
      .orderBy(col("vec_id"))
  }

  val knnKcoreSql: String = {
    val rounds = (1 to PeelRounds).map { r =>
      s"""deg$r AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
         |    SELECT a AS node FROM e${r - 1} UNION ALL SELECT b AS node FROM e${r - 1})
         |  GROUP BY node),
         |drop$r AS (SELECT al.node, CAST($r AS BIGINT) AS removed_round
         |  FROM alive${r - 1} al LEFT JOIN deg$r dg ON al.node = dg.node
         |  WHERE COALESCE(dg.d, 0) < $CoreK),
         |alive$r AS MATERIALIZED (SELECT al.node FROM alive${r - 1} al
         |  WHERE NOT EXISTS (SELECT 1 FROM drop$r x WHERE x.node = al.node)),
         |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
         |  WHERE NOT EXISTS (SELECT 1 FROM drop$r x WHERE x.node = e.a)
         |    AND NOT EXISTS (SELECT 1 FROM drop$r y WHERE y.node = e.b))""".stripMargin
    }.mkString(",\n")
    val allDrops = (1 to PeelRounds)
      .map(r => s"SELECT * FROM drop$r").mkString("\nUNION ALL\n")
    s"""WITH $knnEdgesCtes,
       |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
       |deg0t AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg0 FROM (
       |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
       |  GROUP BY node),
       |alive0 AS (SELECT node FROM deg0t),
       |$rounds,
       |removed AS (
       |$allDrops),
       |coredeg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
       |    SELECT a AS node FROM e$PeelRounds UNION ALL SELECT b AS node FROM e$PeelRounds)
       |  GROUP BY node)
       |SELECT v.vec_id,
       |  COALESCE(deg0t.deg0, 0) AS degree,
       |  COALESCE(removed.removed_round,
       |    CASE WHEN deg0t.node IS NULL THEN 1 ELSE 0 END) AS removed_round,
       |  COALESCE(coredeg.core_deg, 0) AS core_deg,
       |  COALESCE(removed.removed_round, 0) = 0 AND deg0t.node IS NOT NULL AS in_core
       |FROM (SELECT vec_id FROM embeddings) v
       |LEFT JOIN deg0t ON v.vec_id = deg0t.node
       |LEFT JOIN removed ON v.vec_id = removed.node
       |LEFT JOIN coredeg ON v.vec_id = coredeg.node
       |ORDER BY v.vec_id""".stripMargin
  }

  // ---- q193: semi-supervised label propagation + accuracy eval ----

  val SeedMod = 3
  val PropRounds = 2
  // labels are 0..9; pack = cnt*16 + (15 - label) makes one integer
  // max pick (count desc, label asc)
  val LabelPackBase = 16L

  /** q193: label propagation over the k-NN graph — the model-free
    * semi-supervised labeler data-curation pipelines use to stretch a
    * small labeled set across a corpus (Zhu & Ghahramani 2002): seeds
    * (vec_id % 3 == 0) keep their true label; each synchronized round,
    * every unlabeled node adopts the majority label among its LABELED
    * neighbors (ties → smallest label; isolated from labels → stays
    * unlabeled). Two rounds, then the eval every such labeler ships
    * with: per-node verdicts against the held-back true labels plus
    * corpus accuracy and coverage — measuring how far the q188
    * cluster structure actually supports label transfer. (On this
    * corpus q188 measures ARI ~ 0 — the labels carry no geometric
    * signal — so accuracy correctly sits at the 10% chance floor;
    * REPORTING that before anyone trusts propagated labels is the
    * eval's whole job.)
    *
    * Scale shape: per round one neighbor join (edge-table-sized, keyed
    * by vec_id) + an anti-join against the labeled set + a (node,
    * label) hash agg whose argmax is a packed-long MAX (a struct max
    * would fall to SortAggregate — the q147/q182 trick); rounds
    * staged. The eval is one doc-keyed join + a 1-row broadcast. */
  def labelProp(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val truth = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val und = Dedup.stage(knnEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val nb = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
    var lab = Dedup.stage(truth.filter(pmod(col("vec_id"), lit(SeedMod)) === 0)
      .select(col("vec_id").as("node"), col("label").as("plab"), lit(0L).as("pred_round")))
    for (round <- 1 to PropRounds) {
      val votes = nb
        .join(lab.select(col("node").as("nbr"), col("plab")), Seq("nbr"))
        .join(lab.select(col("node")), Seq("node"), "left_anti")
        .groupBy(col("node"), col("plab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(col("cnt") * LabelPackBase + (lit(LabelPackBase - 1) - col("plab"))).as("pack"))
        .select(col("node"),
          (lit(LabelPackBase - 1) - pmod(col("pack"), lit(LabelPackBase))).as("plab"),
          lit(round.toLong).as("pred_round"))
      lab = Dedup.stage(lab.unionByName(votes))
    }
    val out = truth.select(col("vec_id"), col("label"))
      .join(lab.select(col("node").as("vec_id"), col("plab"), col("pred_round")),
        Seq("vec_id"), "left")
      .withColumn("is_seed", pmod(col("vec_id"), lit(SeedMod)) === 0)
      .withColumn("correct",
        when(col("is_seed") || col("plab").isNull, lit(null).cast("boolean"))
          .otherwise(col("plab") === col("label")))
    val globals = out.agg(
      sum(when(col("correct").isNotNull, 1L).otherwise(0L)).as("n_pred"),
      sum(when(col("correct") === true, 1L).otherwise(0L)).as("n_correct"),
      sum(when(!col("is_seed"), 1L).otherwise(0L)).as("n_unlabeled"))
      .withColumn("acc_e6",
        when(col("n_pred") > 0, expr("n_correct * 1000000 div n_pred")).otherwise(0L))
      .withColumn("coverage_e6",
        when(col("n_unlabeled") > 0, expr("n_pred * 1000000 div n_unlabeled")).otherwise(0L))
    out.crossJoin(broadcast(globals))
      .select(col("vec_id"), col("is_seed"), col("label"),
        col("plab").as("pred_label"), col("pred_round"), col("correct"),
        col("n_pred"), col("n_correct"), col("acc_e6"), col("coverage_e6"))
      .orderBy(col("vec_id"))
  }

  val labelPropSql: String = {
    val B = LabelPackBase
    val rounds = (1 to PropRounds).map { r =>
      s"""votes$r AS (SELECT node,
         |    CAST(${B - 1} AS BIGINT) - (MAX(cnt * $B + (${B - 1} - plab)) % $B) AS plab,
         |    CAST($r AS BIGINT) AS pred_round
         |  FROM (SELECT nb.node, l.plab, CAST(COUNT(*) AS BIGINT) AS cnt
         |    FROM nb JOIN lab${r - 1} l ON nb.nbr = l.node
         |    WHERE NOT EXISTS (SELECT 1 FROM lab${r - 1} x WHERE x.node = nb.node)
         |    GROUP BY nb.node, l.plab)
         |  GROUP BY node),
         |lab$r AS MATERIALIZED (SELECT * FROM lab${r - 1} UNION ALL SELECT * FROM votes$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnEdgesCtes,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
       |nb AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b AS node, a AS nbr FROM und),
       |truth AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |lab0 AS (SELECT vec_id AS node, label AS plab, CAST(0 AS BIGINT) AS pred_round
       |  FROM truth WHERE vec_id % $SeedMod = 0),
       |$rounds,
       |outt AS (SELECT t.vec_id, t.vec_id % $SeedMod = 0 AS is_seed, t.label,
       |    l.plab AS pred_label, l.pred_round,
       |    CASE WHEN t.vec_id % $SeedMod = 0 OR l.plab IS NULL THEN NULL
       |         ELSE l.plab = t.label END AS correct
       |  FROM truth t LEFT JOIN lab$PropRounds l ON t.vec_id = l.node),
       |g AS (SELECT n_pred, n_correct,
       |    CASE WHEN n_pred > 0 THEN n_correct * 1000000 // n_pred ELSE 0 END AS acc_e6,
       |    CASE WHEN n_unlabeled > 0 THEN n_pred * 1000000 // n_unlabeled ELSE 0 END AS coverage_e6
       |  FROM (SELECT
       |      CAST(SUM(CASE WHEN correct IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       |      CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |      CAST(SUM(CASE WHEN NOT is_seed THEN 1 ELSE 0 END) AS BIGINT) AS n_unlabeled
       |    FROM outt))
       |SELECT vec_id, is_seed, label, pred_label, pred_round, correct,
       |  g.n_pred, g.n_correct, g.acc_e6, g.coverage_e6
       |FROM outt CROSS JOIN g
       |ORDER BY vec_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q183_knn_graph" -> (knnGraph _),
    "q184_mmr_rerank" -> (mmrRerank _),
    "q186_hard_negatives" -> (hardNegatives _),
    "q189_knn_triangles" -> (knnTriangles _),
    "q192_knn_kcore" -> (knnKcore _),
    "q193_label_prop" -> (labelProp _))

  val oracles: Map[String, String] = Map(
    "q183_knn_graph" -> knnGraphSql,
    "q184_mmr_rerank" -> mmrRerankSql,
    "q186_hard_negatives" -> hardNegativesSql,
    "q189_knn_triangles" -> knnTrianglesSql,
    "q192_knn_kcore" -> knnKcoreSql,
    "q193_label_prop" -> labelPropSql)
}
