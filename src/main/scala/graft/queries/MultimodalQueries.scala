package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Dedup

/** Layer F of SURVEY.md §2 (oracle-checkable part): binary-column
  * metadata extraction. The text payload is cast to `binary` and all
  * metadata (byte length, digest, deterministic fake decode dims) is
  * computed from it with native expressions — the column-level side of
  * the multimodal plumbing (the batched mapPartitions decode stub is
  * spec-gated in graft.multimodal). */
object MultimodalQueries extends QueryFamily {

  /** q28: binary payload metadata + deterministic fake decode. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .select(
        col("doc_id"),
        col("byte_len"),
        md5(col("text")).as("content_md5"),
        (col("byte_len") % 64 + 16).as("width"),
        (col("byte_len") * 7 % 64 + 16).as("height"),
        (col("byte_len") % 7 + 1).as("n_frames"),
        when(col("byte_len") % 3 === 0, "png")
          .when(col("byte_len") % 3 === 1, "jpg")
          .otherwise("webp").as("fmt"))
      .orderBy(col("doc_id"))

  val binaryMetaSql: String =
    """WITH b AS (SELECT doc_id, text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
      |  FROM documents)
      |SELECT doc_id, byte_len,
      |  md5(text) AS content_md5,
      |  byte_len % 64 + 16 AS width,
      |  byte_len * 7 % 64 + 16 AS height,
      |  byte_len % 7 + 1 AS n_frames,
      |  CASE WHEN byte_len % 3 = 0 THEN 'png'
      |       WHEN byte_len % 3 = 1 THEN 'jpg'
      |       ELSE 'webp' END AS fmt
      |FROM b ORDER BY doc_id""".stripMargin

  val SampleK = 4
  val FitBox = 224

  /** q97: the video path as pure column math — every asset emits
    * `min(k, n_frames)` frame rows at the uniform stride
    * `floor(i * n_frames / take)` (MultimodalBatch.sampleFrames'
    * sampler), each with the aspect-preserving fit into a 224x224 box
    * (resizeTo's integer formula) and a deterministic per-frame
    * brightness stub. The one→many frame explosion stays map-side
    * (sequence + explode, no shuffle, no UDF) — at 100 TB the frame
    * stream is embarrassingly parallel off the asset scan. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("byte_len", length(col("text").cast("binary")).cast("long"))
      .select(col("doc_id"), col("byte_len"),
        (col("byte_len") % 64 + 16).as("width"),
        (col("byte_len") * 7 % 64 + 16).as("height"),
        (col("byte_len") % 7 + 1).as("n_frames"))
      .withColumn("take", least(lit(SampleK.toLong), col("n_frames")))
    val scaleNum = least(lit(FitBox) * col("height"), lit(FitBox) * col("width"))
    val scaleDen = col("width") * col("height")
    base
      .withColumn("i", explode(sequence(lit(0L), col("take") - 1)))
      .select(col("doc_id"), col("n_frames"),
        floor(col("i") * col("n_frames") / col("take")).as("frame_idx"),
        greatest(lit(1L), floor(col("width") * scaleNum / scaleDen)).as("out_w"),
        greatest(lit(1L), floor(col("height") * scaleNum / scaleDen)).as("out_h"))
      .withColumn("brightness_milli",
        (col("doc_id") * 31 + col("frame_idx") * 131) % 1000)
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val frameSampleSql: String =
    s"""WITH b AS (SELECT doc_id,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
       |  FROM documents),
       |meta AS (SELECT doc_id, byte_len,
       |    byte_len % 64 + 16 AS width,
       |    byte_len * 7 % 64 + 16 AS height,
       |    byte_len % 7 + 1 AS n_frames,
       |    LEAST($SampleK, byte_len % 7 + 1) AS take
       |  FROM b),
       |fr AS (SELECT doc_id, n_frames, width, height, take,
       |    unnest(range(0, take)) AS i
       |  FROM meta)
       |SELECT doc_id, n_frames,
       |  (i * n_frames) // take AS frame_idx,
       |  GREATEST(1, (width * LEAST($FitBox * height, $FitBox * width)) // (width * height)) AS out_w,
       |  GREATEST(1, (height * LEAST($FitBox * height, $FitBox * width)) // (width * height)) AS out_h,
       |  (doc_id * 31 + (i * n_frames) // take * 131) % 1000 AS brightness_milli
       |FROM fr ORDER BY doc_id, frame_idx""".stripMargin

  val PatchPx = 16
  val PatchBatchSize = 16
  val PatchShards = 8
  val PatchShardSeed = "pb1"

  /** q155: aspect-bucketed PATCH batching for image assets — the
    * vision-loader counterpart of q145's length batching (the
    * NaViT-style native-resolution recipe: batch images of similar
    * aspect so padding to the batch-max patch count wastes little).
    * Each asset's fake decode dims (q28's deterministic width/height)
    * become a 16px patch grid; assets group by integer aspect class
    * `(4*width) div height`, deal into hash shards (the loader grain —
    * a skewed aspect class spreads over shards instead of one task),
    * order by (n_patches, doc_id) and cut batches of 16. Per batch:
    * images, max/sum patch counts, padded cost and the e6
    * padding-waste share. Shuffle only on (aspect class, shard);
    * windows bounded by the shard grain. */
  def patchBatches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .withColumn("byte_len", length(col("text").cast("binary")).cast("long"))
      .select(col("doc_id"),
        (col("byte_len") % 64 + 16).as("width"),
        (col("byte_len") * 7 % 64 + 16).as("height"))
      .withColumn("n_patches",
        expr(s"((width + ${PatchPx - 1}) div $PatchPx) * ((height + ${PatchPx - 1}) div $PatchPx)"))
      .withColumn("aspect_bucket", expr("(width * 4) div height"))
      .withColumn("shard",
        (graft.functions.Hashing.polyHash(concat(col("doc_id").cast("string"),
          lit(s":$PatchShardSeed"))) % PatchShards).cast("long"))
    val w = Window.partitionBy(col("aspect_bucket"), col("shard"))
      .orderBy(col("n_patches"), col("doc_id"))
    base
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("batch_idx", expr(s"(rk - 1) div $PatchBatchSize"))
      .groupBy(col("aspect_bucket"), col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_imgs"),
        max(col("n_patches")).as("max_patches"),
        sum(col("n_patches")).as("sum_patches"))
      .select(col("aspect_bucket"), col("shard"), col("batch_idx"),
        col("n_imgs"), col("max_patches"), col("sum_patches"),
        (col("max_patches") * col("n_imgs")).as("padded_patches"),
        round((lit(1.0) - col("sum_patches").cast("double") /
          (col("max_patches") * col("n_imgs")).cast("double")) * lit(1000000.0))
          .cast("long").as("pad_waste_e6"))
      .orderBy(col("aspect_bucket"), col("shard"), col("batch_idx"))
  }

  val patchBatchesSql: String = {
    val h = graft.functions.Hashing.polyHashSql(s"CAST(doc_id AS VARCHAR) || ':$PatchShardSeed'")
    s"""WITH b AS (SELECT doc_id,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
       |  FROM documents),
       |dims AS (SELECT doc_id,
       |    byte_len % 64 + 16 AS width,
       |    byte_len * 7 % 64 + 16 AS height
       |  FROM b),
       |g AS (SELECT doc_id,
       |    ((width + ${PatchPx - 1}) // $PatchPx) * ((height + ${PatchPx - 1}) // $PatchPx) AS n_patches,
       |    (width * 4) // height AS aspect_bucket,
       |    ($h) % $PatchShards AS shard
       |  FROM dims),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY aspect_bucket, shard
       |    ORDER BY n_patches, doc_id) AS rk FROM g),
       |agg AS (SELECT aspect_bucket, shard, (rk - 1) // $PatchBatchSize AS batch_idx,
       |    CAST(COUNT(*) AS BIGINT) AS n_imgs,
       |    CAST(MAX(n_patches) AS BIGINT) AS max_patches,
       |    CAST(SUM(n_patches) AS BIGINT) AS sum_patches
       |  FROM r GROUP BY aspect_bucket, shard, (rk - 1) // $PatchBatchSize)
       |SELECT aspect_bucket, shard, batch_idx, n_imgs, max_patches, sum_patches,
       |  max_patches * n_imgs AS padded_patches,
       |  CAST(ROUND((1.0 - CAST(sum_patches AS DOUBLE) / CAST(max_patches * n_imgs AS DOUBLE)) * 1000000.0) AS BIGINT) AS pad_waste_e6
       |FROM agg ORDER BY aspect_bucket, shard, batch_idx""".stripMargin
  }

  val MinPhashChars = 16L
  val PhashBucketCap = 64L

  /** q165: near-duplicate ASSET detection via perceptual-hash banding —
    * the multimodal counterpart of q23's MinHash-LSH: each payload gets
    * a 16-slice perceptual hash (native `SlicePhash` expression — a
    * decode stub, but with real pHash's locality: a local edit flips
    * few bits), assets band by (power-of-two size bin, phash), and the
    * candidate join probes the exact hash plus all 16 hamming-1
    * variants, so every pair within hamming distance 1 in the same size
    * bin surfaces with its exact distance.
    *
    * Scale shape: the hash is one map-side pass per asset (no explode,
    * no shuffle before the band agg); the probe join fans each asset
    * to 17 band keys, and TARGET buckets above `PhashBucketCap` are
    * dropped before the join (the df-cap hub guard every dedup family
    * member here uses) so no bucket can go quadratic. Pairs emit once:
    * a hamming-1 pair matches exactly one probe, `doc_a < doc_b`
    * orients it. */
  def phashNeardup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.slicePhash
    val hashes = Tables.documents(s, dir)
      .filter(col("n_chars") >= MinPhashChars)
      .select(col("doc_id"),
        length(bin(col("n_chars"))).cast("long").as("len_bin"),
        slicePhash(col("text")).as("phash"))
    val okBuckets = hashes.groupBy(col("len_bin"), col("phash"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= PhashBucketCap)
      .select(col("len_bin"), col("phash"))
    val capped = hashes.join(okBuckets, Seq("len_bin", "phash"))
    val probes = capped
      .select(col("doc_id").as("doc_a"), col("len_bin"), col("phash").as("ph_a"),
        explode(expr(
          "concat(array(phash), transform(sequence(0, 15), j -> phash ^ shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))))"))
          .as("probe"))
    probes
      .join(capped.select(col("doc_id").as("doc_b"), col("len_bin"),
          col("phash").as("probe"), col("phash").as("ph_b")),
        Seq("len_bin", "probe"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("len_bin"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val phashNeardupSql: String =
    s"""WITH cps AS (SELECT doc_id, n_chars,
       |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS cp
       |  FROM documents WHERE n_chars >= $MinPhashChars),
       |el AS (SELECT doc_id, ((i - 1) * 16) // len(cp) AS slice, cp[i] AS v
       |  FROM (SELECT doc_id, cp, generate_subscripts(cp, 1) AS i FROM cps)
       |  WHERE len(cp) > 0),
       |sl AS (SELECT doc_id, slice, CAST(SUM(v) AS BIGINT) AS s
       |  FROM el GROUP BY doc_id, slice),
       |tw AS (SELECT doc_id, slice, s,
       |    CAST(SUM(s) OVER (PARTITION BY doc_id) AS BIGINT) AS total FROM sl),
       |ph AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN s * 16 > total THEN (CAST(1 AS BIGINT) << slice) ELSE 0 END) AS BIGINT) AS phash
       |  FROM tw GROUP BY doc_id),
       |h AS (SELECT c.doc_id,
       |    CAST(length(bin(c.n_chars)) AS BIGINT) AS len_bin, ph.phash
       |  FROM cps c JOIN ph ON c.doc_id = ph.doc_id),
       |ok AS (SELECT len_bin, phash FROM
       |    (SELECT len_bin, phash, COUNT(*) AS bn FROM h GROUP BY len_bin, phash)
       |  WHERE bn <= $PhashBucketCap),
       |hc AS (SELECT h.doc_id, h.len_bin, h.phash FROM h JOIN ok USING (len_bin, phash)),
       |pr AS (SELECT doc_id AS doc_a, len_bin, phash AS ph_a,
       |    CASE WHEN j = 16 THEN phash
       |         ELSE xor(phash, CAST(1 AS BIGINT) << j) END AS probe
       |  FROM hc CROSS JOIN (SELECT unnest(range(0, 17)) AS j))
       |SELECT pr.doc_a, b.doc_id AS doc_b, pr.len_bin,
       |  CAST(bit_count(xor(pr.ph_a, b.phash)) AS BIGINT) AS hamming
       |FROM pr JOIN hc b ON pr.len_bin = b.len_bin AND pr.probe = b.phash
       |  AND pr.doc_a < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q196: windowed-energy activity segmentation (the VAD shape) ----

  val VadWindow = 32L
  val VadCenter = 100L
  val VadEnergyThr = 20000L
  private val FoldSql =
    "lower(strip_accents(translate(text, '-‐‑‒–—―­', '       ')))"

  /** q196: voice-activity-detection-SHAPED segmentation over an
    * audio-like byte stream — the audio leg of the multimodal
    * plumbing: samples (payload bytes; the codec decode is the
    * sanctioned stub, so byte values stand in for PCM), fixed
    * 32-sample windows with exact integer energy Σ(s−100)², an
    * active/silent verdict per window, and the RUN structure every VAD
    * emits: segment count, longest active segment (earliest wins) and
    * the active ratio. Real VAD swaps the energy formula for a model;
    * every plan shape — window agg, per-asset run detection — is the
    * production one.
    *
    * Scale shape: sample rows are map-side position math off one scan;
    * window energies are ONE (asset, window) hash agg
    * (partial-agg-friendly); runs use lag + cumulative-sum windows
    * partitioned BY ASSET over window index (bounded — the q182
    * grain); longest-segment argmax is the packed-long trick. */
  def audioEnergy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.TextFunctions.fold(col("text")).as("t"))
      .withColumn("len", length(col("t")).cast("long"))
      .filter(col("len") > 0)
      .withColumn("cs", split(col("t"), "(?!^)(?=.)"))
    val win = base
      .select(col("doc_id"), col("len"),
        explode(sequence(lit(1), col("len").cast("int"))).as("i"), col("cs"))
      .select(col("doc_id"),
        expr(s"(i - 1) div $VadWindow").as("w"),
        (ascii(element_at(col("cs"), col("i"))).cast("long") - VadCenter).as("d"))
      .groupBy(col("doc_id"), col("w"))
      .agg(sum(col("d") * col("d")).as("energy"), count(lit(1)).as("n_samples"))
      .withColumn("active", col("energy") >= VadEnergyThr)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    val runs = Dedup.stage(win
      .withColumn("new_run",
        when(lag(col("active"), 1).over(byDoc) === col("active"), 0L).otherwise(1L))
      .withColumn("run_id", sum(col("new_run")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("run_id"), col("active"))
      .agg(count(lit(1)).as("rlen"), min(col("w")).as("rstart")))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(sum(col("rlen")).as("n_windows"),
        sum(when(col("active"), col("rlen")).otherwise(0L)).as("n_active"),
        sum(when(col("active"), 1L).otherwise(0L)).as("n_segments"),
        max(when(col("active"), col("rlen") * 1048576L - col("rstart"))).as("best_key"))
    perDoc
      .join(runs.filter(col("active"))
        .select(col("doc_id"),
          (col("rlen") * 1048576L - col("rstart")).as("best_key"),
          col("rlen").as("longest_seg"), col("rstart").as("longest_start")),
        Seq("doc_id", "best_key"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_active"),
        col("n_segments"),
        coalesce(col("longest_seg"), lit(0L)).as("longest_seg"),
        col("longest_start"),
        expr("n_active * 1000000 div n_windows").as("active_e6"))
      .orderBy(col("doc_id"))
  }

  val audioEnergySql: String =
    s"""WITH d AS (SELECT doc_id, $FoldSql AS t FROM documents),
       |base AS (SELECT doc_id, t, CAST(length(t) AS BIGINT) AS len
       |  FROM d WHERE length(t) > 0),
       |win AS (SELECT doc_id, (i - 1) // $VadWindow AS w,
       |    CAST(SUM((ascii(substr(t, CAST(i AS INT), 1)) - $VadCenter)
       |      * (ascii(substr(t, CAST(i AS INT), 1)) - $VadCenter)) AS BIGINT) AS energy,
       |    COUNT(*) AS n_samples
       |  FROM base CROSS JOIN UNNEST(range(1, CAST(len AS INT) + 1)) AS u(i)
       |  GROUP BY doc_id, 2),
       |act AS (SELECT doc_id, w, energy >= $VadEnergyThr AS active FROM win),
       |nr AS (SELECT doc_id, w, active,
       |    CASE WHEN LAG(active) OVER (PARTITION BY doc_id ORDER BY w) = active
       |      THEN 0 ELSE 1 END AS new_run FROM act),
       |rid AS (SELECT doc_id, w, active,
       |    SUM(new_run) OVER (PARTITION BY doc_id ORDER BY w
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM nr),
       |runs AS (SELECT doc_id, run_id, active,
       |    CAST(COUNT(*) AS BIGINT) AS rlen, CAST(MIN(w) AS BIGINT) AS rstart
       |  FROM rid GROUP BY doc_id, run_id, active),
       |pd AS (SELECT doc_id,
       |    CAST(SUM(rlen) AS BIGINT) AS n_windows,
       |    CAST(SUM(CASE WHEN active THEN rlen ELSE 0 END) AS BIGINT) AS n_active,
       |    CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
       |    CAST(MAX(CASE WHEN active THEN rlen * 1048576 - rstart END) AS BIGINT) AS best_key
       |  FROM runs GROUP BY doc_id)
       |SELECT pd.doc_id, pd.n_windows, pd.n_active, pd.n_segments,
       |  COALESCE(r.rlen, 0) AS longest_seg, r.rstart AS longest_start,
       |  pd.n_active * 1000000 // pd.n_windows AS active_e6
       |FROM pd LEFT JOIN runs r
       |  ON pd.doc_id = r.doc_id AND r.active
       |    AND r.rlen * 1048576 - r.rstart = pd.best_key
       |ORDER BY pd.doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q28_binary_meta" -> (binaryMeta _),
    "q97_frame_sample" -> (frameSample _),
    "q155_patch_batches" -> (patchBatches _),
    "q165_phash_neardup" -> (phashNeardup _),
    "q196_audio_energy" -> (audioEnergy _))
  val oracles: Map[String, String] = Map(
    "q28_binary_meta" -> binaryMetaSql,
    "q97_frame_sample" -> frameSampleSql,
    "q155_patch_batches" -> patchBatchesSql,
    "q165_phash_neardup" -> phashNeardupSql,
    "q196_audio_energy" -> audioEnergySql)
}
