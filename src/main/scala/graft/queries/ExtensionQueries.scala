package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.functions.Aggregators
import graft.functions.Similarity.toDouble
import graft.multimodal.Multimodal

/** UDF/UDAF surface (B19) and multimodal plumbing queries. */
object ExtensionQueries {

  /** B19 registered Scala UDF: parse the numeric id out of a source tag
    * ("src17" → 17). Registered through `spark.udf.register` — the
    * reference-surface UDF registration path — then invoked with call_udf.
    * (A UDF is the RIGHT tool only for logic the expression library can't
    * say; this one exists to verify the registration surface and is
    * deliberately trivial.)
    */
  def q47UdfSourceId(spark: SparkSession, dir: String): DataFrame = {
    spark.udf.register("graft_source_id", (s: String) => {
      val digits = s.filter(_.isDigit)
      if (digits.isEmpty) -1 else digits.toInt
    })
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("source"),
        call_udf("graft_source_id", col("source")).as("source_id"))
      .orderBy(col("doc_id"))
  }

  val q47Oracle: String =
    """SELECT doc_id, source,
      |  CAST(COALESCE(NULLIF(regexp_replace(source, '[^0-9]', '', 'g'), ''), '-1') AS INTEGER) AS source_id
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** B19 typed Aggregator: per-label embedding centroid via the public
    * Aggregator API (partial/merge/final — scales like a built-in agg).
    * Output is exploded to one (label, pos, value) row per dimension —
    * scalar rows stay hashable/sortable for row-wise comparators where an
    * array column would not.
    */
  def q48UdafVecAvg(spark: SparkSession, dir: String): DataFrame = {
    val vecAvg = udaf(Aggregators.VecAvg)
    Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(vecAvg(toDouble(col("embedding"))).as("raw"))
      .select(col("label"), posexplode(col("raw")).as(Seq("pos", "x")))
      .select(
        col("label"),
        (col("pos") + 1).cast(IntegerType).as("pos"),
        // + 0.0 normalizes IEEE signed zero: the two engines sum in
        // different orders, so a zero mean can land as -0.0 on one side
        // and +0.0 on the other (surfaced at sf0.1) — adding +0.0 maps
        // both to +0.0 and changes nothing else
        (round(col("x"), 4) + 0.0).as("centroid_val"))
      .orderBy(col("label"), col("pos"))
  }

  val q48Oracle: String =
    """SELECT label, CAST(pos AS INTEGER) AS pos, ROUND(AVG(x), 4) + 0.0 AS centroid_val FROM (
      |  SELECT label,
      |    unnest(CAST(embedding AS DOUBLE[])) AS x,
      |    unnest(range(1, len(embedding) + 1)) AS pos
      |  FROM embeddings)
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** Multimodal metadata catalog: binary payload + length + sha256. */
  def q49MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withMeta(Multimodal.mediaTable(Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  val q49Oracle: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  sha256(text) AS sha
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Multimodal batch feature extraction through typed mapPartitions with a
    * REAL decode: the payloads are genuine 24-bpp BMP files and the
    * features come from parsing their actual bytes — magic validation,
    * little-endian header offsets, stride-aware pixel walk (see
    * graft.multimodal.Multimodal.decodeBmp). The oracle independently
    * replays the generator's formulas (dims from doc_id; brightness = mean
    * of (doc_id + j) % 256 over the w·h·3 pixel bytes), so a parser that
    * read the wrong offsets, mixed up the dimension fields, or included
    * the row padding would hash-mismatch.
    */
  def q50MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.bmpMediaTable(Tables.documents(spark, dir))
    Multimodal.extractFeatures(media).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_frames"), round(col("brightness"), 6).as("brightness"))
      .orderBy(col("doc_id"))
  }

  val q50Oracle: String =
    """SELECT doc_id, 'image' AS media_type,
      |  CAST(1 + doc_id % 32 AS INTEGER) AS width,
      |  CAST(1 + doc_id % 24 AS INTEGER) AS height,
      |  CAST(1 AS INTEGER) AS n_frames,
      |  ROUND(CAST(list_sum(list_transform(range(0, (1 + doc_id % 32) * (1 + doc_id % 24) * 3),
      |          j -> (doc_id + j) % 256)) AS DOUBLE)
      |        / ((1 + doc_id % 32) * (1 + doc_id % 24) * 3), 6) AS brightness
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Multimodal AUDIO feature extraction with a REAL decode: payloads are
    * genuine RIFF/WAVE PCM files and the features come from walking their
    * actual chunk bytes (graft.multimodal.Multimodal.decodeWav). The
    * oracle independently replays the generator's formulas — rate /
    * channels / frame count from doc_id, duration from frames over rate,
    * mean |amplitude| over the (id + 7k) % 201 − 100 interleaved samples —
    * so a parser that misread a header offset, used the wrong block
    * alignment, or walked samples big-endian would hash-mismatch.
    */
  def q86AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.wavMediaTable(Tables.documents(spark, dir))
    Multimodal.extractAudioFeatures(media).toDF()
      .select(col("doc_id"), col("media_type"), col("sample_rate"),
        col("n_channels"), col("bits_per_sample"), col("n_frames"),
        round(col("duration_ms"), 6).as("duration_ms"),
        round(col("mean_amp"), 6).as("mean_amp"))
      .orderBy(col("doc_id"))
  }

  val q86Oracle: String =
    """SELECT doc_id, 'audio' AS media_type,
      |  [8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1] AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
      |  CAST(16 AS INTEGER) AS bits_per_sample,
      |  CAST(100 + doc_id % 400 AS INTEGER) AS n_frames,
      |  ROUND(((100 + doc_id % 400) * 1000.0)
      |        / [8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1], 6) AS duration_ms,
      |  ROUND(CAST(list_sum(list_transform(
      |          range(0, (100 + doc_id % 400) * (1 + doc_id % 2)),
      |          k -> abs((doc_id + 7 * k) % 201 - 100))) AS DOUBLE)
      |        / ((100 + doc_id % 400) * (1 + doc_id % 2)), 6) AS mean_amp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Multimodal image RESIZE with a REAL pixel resample: every payload is
    * a genuine BMP and [[Multimodal.resizeBmpNN]] nearest-neighbor-samples
    * its actual stride-aligned bytes into an 8×8 RGB thumbnail — the
    * normalization pass before any vision feature extractor. The oracle
    * replays the full chain in SQL from the generator's formulas: target
    * pixel k → source coordinates (⌊tx·w/8⌋, ⌊ty·h/8⌋) → bottom-up BGR
    * byte index → (doc_id + j) mod 256 — so a resize that sampled the
    * wrong row direction, channel order, or rounding would hash-mismatch
    * on the thumbnail md5. thumb_mean is one exact division (Σ/192).
    *
    * Scale shape: typed map over the media table — projection-only like
    * all decode paths; thumbnails are fixed 192-byte payloads regardless
    * of source size, the property that makes downstream vision batches
    * uniform.
    */
  /** CROSS-MODAL caption–image alignment (q190) — the LAION-style filter:
    * ONE plan decodes every document's image AND tokenizes its caption,
    * embeds both sides, and gates on their cosine. No other query in the
    * suite crosses modalities; this is the join every image–text corpus
    * builder runs before training.
    *
    * Image embedding: the REAL decode path (q140's [[Multimodal
    * .resizeBmpNN]] over genuine BMP bytes) → 8×8 thumbnail → integer
    * gray per pixel ((r+g+b) div 3, the aHash collapse) → 8-dim vector of
    * per-ROW gray sums. Text embedding: 8-dim letter-count vector over
    * the raw caption (counts of e t a o i n s r via length-difference —
    * a projection, no explode). Production swaps both embedders for CLIP
    * towers; every join, threshold, and aggregate stays as built (the
    * multimodal stub contract: plumbing real and gated, embedder
    * replaceable).
    *
    * Exactness: both vectors are integers, so dot/norms are exact BIGINTs
    * and the τ = 0.95 gate is the cross-multiplied integer predicate
    * 400·dot² ≥ 361·‖a‖²·‖b‖² (the q162 discipline — no float boundary).
    * The products are evaluated in DECIMAL(38,0) (HUGEINT in the oracle):
    * at ~10k-char captions dot²·400 crosses 2^63, and BIGINT would wrap
    * silently where the gate claims exactness. The reported cosine is
    * rounded to 6 for display only.
    *
    * Scale shape: decode is a typed map (projection-only, no exchange);
    * the text side is a projection on the same scan; the modality join is
    * doc_id-keyed — high-cardinality, skew-free; output sort is the only
    * other exchange. 100 TB of images stream through without any
    * shuffle proportional to pixel bytes.
    */
  def q190CrossModalAlignment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val img = Multimodal.bmpMediaTable(docs)
      .map(m => Multimodal.resizeBmpNN(m, 8, 8)).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        expr("transform(split(thumb_csv, ','), x -> CAST(x AS INT))").as("px"))
      .select(col("doc_id"), col("width"), col("height"),
        expr("transform(sequence(0, 7), r -> aggregate(sequence(0, 7), 0L, " +
          "(a, c) -> a + (element_at(px, (r*8+c)*3 + 1) " +
          "+ element_at(px, (r*8+c)*3 + 2) " +
          "+ element_at(px, (r*8+c)*3 + 3)) div 3))").as("iv"))
    val letters = Seq("e", "t", "a", "o", "i", "n", "s", "r")
    val txt = docs.select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(col("text")))
        .cast(IntegerType).as("n_tokens"),
      array(letters.map(ch =>
        (length(col("text")) -
          length(regexp_replace(col("text"), ch, ""))).cast(LongType)): _*)
        .as("tv"))
    img.join(txt, "doc_id")
      .withColumn("dot",
        expr("aggregate(zip_with(iv, tv, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
      .withColumn("na",
        expr("aggregate(iv, 0L, (a, x) -> a + x * x)"))
      .withColumn("nb",
        expr("aggregate(tv, 0L, (a, x) -> a + x * x)"))
      .select(col("doc_id"), col("width"), col("height"), col("n_tokens"),
        col("dot"), col("na"), col("nb"),
        round(when(col("na") * col("nb") === 0, lit(0.0))
          .otherwise(col("dot").cast(DoubleType) /
            (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType)))), 6)
          .as("cos_r6"),
        // the cross-multiplied gate runs in DECIMAL(38,0): long captions
        // push dot²·400 past 2^63, where BIGINT arithmetic would wrap
        // silently in non-ANSI Spark while the oracle errors (the q144
        // discipline — promote, don't overflow). Products here stay far
        // below 10^38, so the decimal compare is exact.
        (col("n_tokens") >= 10 && col("dot") > 0 &&
          col("dot").cast(DecimalType(38, 0)) * col("dot") * 400 >=
            col("na").cast(DecimalType(38, 0)) * col("nb") * 361)
          .cast(IntegerType).as("keep_flag"))
      .orderBy(col("doc_id"))
  }

  val q190Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id, text, CAST(1 + doc_id % 32 AS INTEGER) AS w,
      |    CAST(1 + doc_id % 24 AS INTEGER) AS h
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, text, w, h,
      |    list_transform(range(0, 192), k ->
      |      (doc_id
      |        + (h - 1 - ((k // 24) * h // 8)) * 3 * w
      |        + 3 * (((k % 24) // 3) * w // 8)
      |        + (2 - k % 3)) % 256) AS px
      |  FROM geom),
      |v AS (
      |  SELECT doc_id, w, h,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |    list_transform(range(0, 8), r -> list_sum(list_transform(range(0, 8),
      |      c -> (px[(r*8+c)*3 + 1] + px[(r*8+c)*3 + 2] + px[(r*8+c)*3 + 3]) // 3))) AS iv,
      |    [length(text) - length(replace(text, 'e', '')),
      |     length(text) - length(replace(text, 't', '')),
      |     length(text) - length(replace(text, 'a', '')),
      |     length(text) - length(replace(text, 'o', '')),
      |     length(text) - length(replace(text, 'i', '')),
      |     length(text) - length(replace(text, 'n', '')),
      |     length(text) - length(replace(text, 's', '')),
      |     length(text) - length(replace(text, 'r', ''))] AS tv
      |  FROM t),
      |s AS (
      |  SELECT doc_id, w, h, n_tokens,
      |    CAST(list_sum(list_transform(range(1, 9), i -> iv[i] * tv[i])) AS BIGINT) AS dot,
      |    CAST(list_sum(list_transform(range(1, 9), i -> iv[i] * iv[i])) AS BIGINT) AS na,
      |    CAST(list_sum(list_transform(range(1, 9), i -> tv[i] * tv[i])) AS BIGINT) AS nb
      |  FROM v)
      |SELECT doc_id, w AS width, h AS height, CAST(n_tokens AS INTEGER) AS n_tokens,
      |  dot, na, nb,
      |  ROUND(CASE WHEN na * nb = 0 THEN 0.0
      |        ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END, 6) AS cos_r6,
      |  CAST(CASE WHEN n_tokens >= 10 AND dot > 0
      |         AND 400 * CAST(dot AS HUGEINT) * dot >= 361 * CAST(na AS HUGEINT) * nb
      |       THEN 1 ELSE 0 END AS INTEGER) AS keep_flag
      |FROM s ORDER BY doc_id""".stripMargin

  def q140ImageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.bmpMediaTable(Tables.documents(spark, dir))
    media.map(m => Multimodal.resizeBmpNN(m, 8, 8)).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        md5(col("thumb_csv")).as("thumb_md5"),
        (col("thumb_sum").cast(DoubleType) / 192.0).as("thumb_mean"))
      .orderBy(col("doc_id"))
  }

  val q140Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 32 AS INTEGER) AS w,
      |    CAST(1 + doc_id % 24 AS INTEGER) AS h
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, w, h,
      |    list_transform(range(0, 192), k ->
      |      (doc_id
      |        + (h - 1 - ((k // 24) * h // 8)) * 3 * w
      |        + 3 * (((k % 24) // 3) * w // 8)
      |        + (2 - k % 3)) % 256) AS vals
      |  FROM geom)
      |SELECT doc_id, w AS width, h AS height,
      |  md5(array_to_string(vals, ',')) AS thumb_md5,
      |  CAST(list_sum(vals) AS DOUBLE) / 192.0 AS thumb_mean
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** Audio RESAMPLE with a REAL sample walk: every payload is a genuine
    * s16le WAV and [[Multimodal.resampleWavNN]] zero-order-hold-resamples
    * its actual data-chunk bytes to a uniform 8 kHz — the rate
    * normalization before any audio feature extractor (the corpus carries
    * 8/16/22.05/44.1 kHz files; downstream batches want ONE rate). The
    * oracle replays the chain from the generator formulas: target frame
    * t → source frame ⌊t·rate/8000⌋ → interleaved sample index → value
    * (doc_id + 7k) mod 201 − 100 — so wrong rounding, channel
    * interleaving, or frame-count arithmetic all hash-mismatch on the
    * sample md5. Mean is one exact division.
    *
    * Scale shape: typed map over the media table, projection-only —
    * output frames per row are bounded by duration × 8 kHz, uniform
    * across the corpus regardless of source rate.
    */
  def q145AudioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.wavMediaTable(Tables.documents(spark, dir))
    media.map(m => Multimodal.resampleWavNN(m, 8000)).toDF()
      .select(col("doc_id"), col("src_rate"), col("n_channels"),
        col("n_frames_src"), col("n_frames_out"),
        md5(col("samples_csv")).as("samples_md5"),
        (col("sample_sum").cast(DoubleType)
          / (col("n_frames_out") * col("n_channels"))).as("sample_mean"))
      .orderBy(col("doc_id"))
  }

  val q145Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id,
      |    [8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1] AS rate,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |    CAST(100 + doc_id % 400 AS INTEGER) AS nf
      |  FROM documents),
      |g2 AS (SELECT doc_id, rate, ch, nf,
      |         CAST(nf * 8000 // rate AS INTEGER) AS t_out FROM geom),
      |s AS (
      |  SELECT doc_id, rate, ch, nf, t_out,
      |    list_transform(range(0, t_out * ch), k ->
      |      (doc_id + 7 * (((k // ch) * rate // 8000) * ch + k % ch)) % 201 - 100) AS vals
      |  FROM g2)
      |SELECT doc_id, rate AS src_rate, ch AS n_channels,
      |  nf AS n_frames_src, t_out AS n_frames_out,
      |  md5(array_to_string(vals, ',')) AS samples_md5,
      |  CAST(list_sum(vals) AS DOUBLE) / (t_out * ch) AS sample_mean
      |FROM s
      |ORDER BY doc_id""".stripMargin

  /** Video TEMPORAL resample with a REAL frame walk (q158): every payload
    * is a genuine AVI and [[Multimodal.resampleAviNN]] selects, for each
    * 10 fps target instant, the source frame active at that time —
    * ⌊t·100000/usPerFrame⌋ — and pixel-walks its actual DIB bytes into
    * exact per-channel sums. Completes the multimodal resample trio
    * (q140 image, q145 audio): all three normalization passes are
    * projection-only typed maps over the media scan. The oracle replays
    * frame selection AND the channel sums in closed form from the
    * generator formulas (pixel (x, y, f) = (cb+x, cg+2y, cr+5f) — no
    * byte wraps at these magnitudes), so wrong timing arithmetic, frame
    * indexing, stride walk, or channel order all hash-mismatch.
    */
  def q158VideoResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.aviMediaTable(Tables.documents(spark, dir))
    media.map(m => Multimodal.resampleAviNN(m, 100000)).toDF()
      .select(col("doc_id"), col("us_per_frame"),
        col("n_frames_src"), col("n_frames_out"),
        md5(col("frames_csv")).as("frames_md5"))
      .orderBy(col("doc_id"))
  }

  val q158Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id,
      |    CAST(7 + 4 * (doc_id % 11) AS INTEGER) AS w,
      |    CAST(6 + 4 * (doc_id % 7) AS INTEGER) AS h,
      |    CAST(3 + doc_id % 6 AS INTEGER) AS nf,
      |    [66666, 41666, 33333][CAST(doc_id % 3 AS INTEGER) + 1] AS us,
      |    doc_id % 100 AS cb, doc_id % 50 AS cg, doc_id % 20 AS cr
      |  FROM documents),
      |g2 AS (SELECT *, CAST(nf * us // 100000 AS INTEGER) AS t_out FROM geom),
      |s AS (
      |  SELECT doc_id, us, nf, t_out,
      |    list_transform(range(0, t_out), t ->
      |      (t * 100000 // us) || ':' ||
      |      (h * (w * cb + w * (w - 1) // 2)) || ':' ||
      |      (w * (h * cg + h * (h - 1))) || ':' ||
      |      (w * h * (cr + 5 * (t * 100000 // us)))) AS parts
      |  FROM g2)
      |SELECT doc_id, us AS us_per_frame, nf AS n_frames_src,
      |  t_out AS n_frames_out,
      |  md5(array_to_string(parts, ',')) AS frames_md5
      |FROM s
      |ORDER BY doc_id""".stripMargin

  /** Frame sampling: per-frame byte offsets via explode over a generated
    * index range.
    */
  def q51FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaTable(Tables.documents(spark, dir))
      .as[Multimodal.MediaRow]
    val features = Multimodal.extractFeatures(media).toDF()
    val meta = Multimodal.withMeta(Multimodal.mediaTable(Tables.documents(spark, dir)))
    Multimodal.sampleFrames(features, meta)
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val q51Oracle: String =
    """SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |  frame_idx * (n_bytes // n_frames) AS byte_off
      |FROM (
      |  SELECT doc_id,
      |    octet_length(encode(text)) AS n_bytes,
      |    1 + octet_length(encode(text)) % 16 AS n_frames,
      |    unnest(range(0, 1 + octet_length(encode(text)) % 16)) AS frame_idx
      |  FROM documents)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Shared oracle CTE: replay of the AVI generator's geometry and the
    * exact per-channel pixel sums of its deterministic DIB frames
    * (B = cb+x, G = cg+2y, R = cr+5f — separable, wrap-free, so the sums
    * close over arithmetic series; padding bytes are zero).
    */
  private val aviOracleSums: String =
    """geom AS (
      |  SELECT doc_id,
      |    7 + 4 * (doc_id % 11) AS wv,
      |    6 + 4 * (doc_id % 7) AS hv,
      |    3 + doc_id % 6 AS nf,
      |    ((3 * (7 + 4 * (doc_id % 11)) + 3) // 4) * 4 AS stridev,
      |    doc_id % 100 AS cb, doc_id % 50 AS cg, doc_id % 20 AS cr,
      |    [66666,41666,33333][CAST(doc_id % 3 AS INTEGER) + 1] AS uspf
      |  FROM documents),
      |sums AS (
      |  SELECT *,
      |    nf * hv * (wv * cb + wv * (wv - 1) // 2) AS sum_b,
      |    nf * wv * (hv * cg + hv * (hv - 1)) AS sum_g,
      |    wv * hv * (nf * cr + 5 * (nf * (nf - 1) // 2)) AS sum_r
      |  FROM geom)""".stripMargin

  /** Multimodal VIDEO decode — REAL at container AND pixel level:
    * payloads are genuine RIFF/AVI files (hdrl/avih/strl headers + movi
    * chunks of uncompressed 24-bpp DIB bitmaps) and every feature comes
    * from walking their actual bytes (graft.multimodal.Multimodal
    * .decodeAvi) — dimensions and µs/frame from the parsed avih, the
    * frame count CROSS-CHECKED between the header and the movi walk,
    * mean frame byte from the raw chunk bytes. The oracle independently
    * replays the generator's formulas, so a parser that misread an
    * offset, skipped a LIST wrong, or miscounted frames hash-mismatches.
    * (Per-channel PIXEL means are q131's gate.)
    */
  def q113VideoMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.aviMediaTable(Tables.documents(spark, dir))
    Multimodal.extractVideoFeatures(media).toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_frames"),
        round(col("fps"), 6).as("fps"),
        round(col("duration_ms"), 6).as("duration_ms"),
        round(col("mean_frame_byte"), 6).as("mean_frame_byte"))
      .orderBy(col("doc_id"))
  }

  val q113Oracle: String =
    s"""WITH $aviOracleSums
       |SELECT doc_id, 'video' AS media_type,
       |  CAST(wv AS INTEGER) AS width,
       |  CAST(hv AS INTEGER) AS height,
       |  CAST(nf AS INTEGER) AS n_frames,
       |  ROUND(1000000.0 / uspf, 6) AS fps,
       |  ROUND(nf * uspf / 1000.0, 6) AS duration_ms,
       |  ROUND(CAST(sum_b + sum_g + sum_r AS DOUBLE) / (stridev * hv * nf), 6)
       |    AS mean_frame_byte
       |FROM sums
       |ORDER BY doc_id""".stripMargin

  /** VIDEO FRAME PIXEL decode — the round-5 "video pixel stub" is gone:
    * decodeAvi walks each movi chunk as a real uncompressed 24-bpp DIB
    * (4-byte-aligned stride, bottom-up rows, BGR order) and accumulates
    * exact per-channel sums; this gate compares the resulting channel
    * means against an oracle that replays the generated bitmaps'
    * arithmetic in closed form. A decoder that mixed up channels, missed
    * the stride padding, or walked partial frames hash-mismatches.
    */
  def q131VideoPixels(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.aviMediaTable(Tables.documents(spark, dir))
    Multimodal.extractVideoFeatures(media).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy(col("doc_id"))
  }

  val q131Oracle: String =
    s"""WITH $aviOracleSums
       |SELECT doc_id,
       |  CAST(wv AS INTEGER) AS width,
       |  CAST(hv AS INTEGER) AS height,
       |  CAST(nf AS INTEGER) AS n_frames,
       |  ROUND(CAST(sum_r AS DOUBLE) / (wv * hv * nf), 6) AS mean_r,
       |  ROUND(CAST(sum_g AS DOUBLE) / (wv * hv * nf), 6) AS mean_g,
       |  ROUND(CAST(sum_b AS DOUBLE) / (wv * hv * nf), 6) AS mean_b
       |FROM sums
       |ORDER BY doc_id""".stripMargin

  /** IMAGE NEAR-DUPLICATE detection (q166) — perceptual average-hash over
    * the REAL decoded pixels: every BMP payload decodes → 8×8 NN
    * thumbnail → integer-gray mean-threshold → 64-bit aHash
    * ([[Multimodal.aHashBmp]]), and near-duplicate image pairs are mined
    * with the SimHash discipline (q37) applied to pixels: 4 bands × 16
    * bits generate candidates via band-key equi-joins, a 64-position fold
    * confirms exact Hamming ≤ 3. Banding is LOSSLESS at this threshold —
    * ≤ 3 differing bits cannot touch all 4 bands (pigeonhole), so the
    * output EQUALS brute-force all-pairs (MultimodalSpec proves set
    * equality) while the join volume stays bucket-bounded.
    *
    * Images with a side < 8 px are excluded: below the thumbnail size the
    * hash degenerates to a flat signature and every tiny image "matches"
    * every other — the min-resolution gate any production perceptual-hash
    * pipeline applies.
    *
    * Scale shape: hashing is a projection-only typed map (the multimodal
    * decode posture); candidates come only from (band, key) equi-joins —
    * never all-pairs; the confirm joins are keyed on doc id and compute
    * Hamming as codegen'd `bit_count(xor)` over two 32-bit halves of the
    * signature (`conv(bits, 2, 10)` per half) — NOT a 64-iteration
    * higher-order fold, which is interpreted per candidate row and
    * dominated this query's wall-clock at half a million candidates. The
    * oracle replays pixel formula → thumbnail → gray → bits → bands →
    * Hamming entirely in SQL.
    */
  def q166ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = Multimodal.bmpMediaTable(Tables.documents(spark, dir))
      .map(Multimodal.aHashBmp).toDF()
      .filter(col("width") >= 8 && col("height") >= 8)
      .select(col("doc_id"), col("bits"),
        expr("CAST(conv(substring(bits, 1, 32), 2, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(bits, 33, 32), 2, 10) AS BIGINT)").as("h2"))
    val banded = hashes
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 3), j -> struct(j AS band, substring(bits, j*16 + 1, 16) AS key))"))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded
      .join(banded.select(col("doc_id").as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_id") < col("id_b"))
      .select(col("doc_id").as("id_a"), col("id_b"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("id_a"),
        col("h1").as("a1"), col("h2").as("a2")), "id_a")
      .join(hashes.select(col("doc_id").as("id_b"),
        col("h1").as("b1"), col("h2").as("b2")), "id_b")
      .withColumn("hamming",
        expr("CAST(bit_count(a1 ^ b1) + bit_count(a2 ^ b2) AS INT)"))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q166Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 32 AS INTEGER) AS w,
      |    CAST(1 + doc_id % 24 AS INTEGER) AS h
      |  FROM documents
      |  WHERE doc_id % 32 >= 7 AND doc_id % 24 >= 7),
      |t AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 192), k ->
      |      (doc_id
      |        + (h - 1 - ((k // 24) * h // 8)) * 3 * w
      |        + 3 * (((k % 24) // 3) * w // 8)
      |        + (2 - k % 3)) % 256) AS vals
      |  FROM geom),
      |g AS (
      |  SELECT doc_id, list_transform(range(0, 64), k ->
      |    (vals[3*k + 1] + vals[3*k + 2] + vals[3*k + 3]) // 3) AS gr
      |  FROM t),
      |bits AS (
      |  SELECT doc_id, array_to_string(list_transform(gr, x ->
      |    CASE WHEN x > list_sum(gr) // 64 THEN 1 ELSE 0 END), '') AS b
      |  FROM g),
      |banded AS (
      |  SELECT doc_id, band, substr(b, band * 16 + 1, 16) AS key
      |  FROM bits, UNNEST([0, 1, 2, 3]) AS u(band)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM banded x
      |  JOIN banded y ON x.band = y.band AND x.key = y.key
      |    AND x.doc_id < y.doc_id),
      |hm AS (
      |  SELECT id_a, id_b,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CASE WHEN substr(a.b, i, 1) = substr(c.b, i, 1)
      |           THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
      |  FROM cand
      |  JOIN bits a ON a.doc_id = id_a
      |  JOIN bits c ON c.doc_id = id_b)
      |SELECT id_a, id_b, hamming FROM hm
      |WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** AUDIO NEAR-DUPLICATE detection (q167) — energy-envelope fingerprints
    * over the REAL resampled samples, completing the cross-modality
    * near-dup trio (text q36/q161, image q166, audio here): every WAV
    * payload resamples to 8 kHz and hashes its loudness envelope into 64
    * mean-threshold bits ([[Multimodal.aHashWav]] — rate-invariant by
    * construction, cross-multiplied so unequal window sizes stay
    * integer-exact); pairs are mined with the same 4×16 banding (lossless
    * for the Hamming ≤ 2 confirm — ≤ 2 flipped bits cannot touch all 4
    * bands) and a 64-position fold confirms the exact distance.
    *
    * Scale shape: identical to q166 — projection-only typed-map hashing,
    * (band, key) equi-join candidates, id-keyed confirm joins with the
    * same codegen'd two-half `bit_count(xor)` Hamming (no interpreted
    * fold in the hot path). The oracle replays resample → per-frame
    * energy → window bits → bands → Hamming from the generator formulas
    * entirely in SQL.
    */
  def q167AudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = Multimodal.wavMediaTable(Tables.documents(spark, dir))
      .map(Multimodal.aHashWav).toDF()
      .select(col("doc_id"), col("bits"),
        expr("CAST(conv(substring(bits, 1, 32), 2, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(bits, 33, 32), 2, 10) AS BIGINT)").as("h2"))
    val banded = hashes
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 3), j -> struct(j AS band, substring(bits, j*16 + 1, 16) AS key))"))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded
      .join(banded.select(col("doc_id").as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_id") < col("id_b"))
      .select(col("doc_id").as("id_a"), col("id_b"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("id_a"),
        col("h1").as("a1"), col("h2").as("a2")), "id_a")
      .join(hashes.select(col("doc_id").as("id_b"),
        col("h1").as("b1"), col("h2").as("b2")), "id_b")
      .withColumn("hamming",
        expr("CAST(bit_count(a1 ^ b1) + bit_count(a2 ^ b2) AS INT)"))
      .filter(col("hamming") <= 2)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q167Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id,
      |    [8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1] AS rate,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |    CAST(100 + doc_id % 400 AS INTEGER) AS nf
      |  FROM documents),
      |g2 AS (SELECT doc_id, rate, ch,
      |         CAST(nf * 8000 // rate AS INTEGER) AS n FROM geom),
      |s AS (
      |  SELECT doc_id, ch, n,
      |    list_transform(range(0, n * ch), k ->
      |      (doc_id + 7 * (((k // ch) * rate // 8000) * ch + k % ch)) % 201 - 100) AS vals
      |  FROM g2),
      |fe AS (
      |  SELECT doc_id, n,
      |    list_transform(range(0, n), f ->
      |      list_sum(list_transform(range(0, ch), c ->
      |        abs(vals[f * ch + c + 1])))) AS fe
      |  FROM s),
      |bits AS (
      |  SELECT doc_id, array_to_string(list_transform(range(0, 64), w ->
      |    CASE WHEN COALESCE(list_sum(fe[w * n // 64 + 1 : (w + 1) * n // 64]), 0)
      |              * n > list_sum(fe) * ((w + 1) * n // 64 - w * n // 64)
      |         THEN 1 ELSE 0 END), '') AS b
      |  FROM fe),
      |banded AS (
      |  SELECT doc_id, band, substr(b, band * 16 + 1, 16) AS key
      |  FROM bits, UNNEST([0, 1, 2, 3]) AS u(band)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM banded x
      |  JOIN banded y ON x.band = y.band AND x.key = y.key
      |    AND x.doc_id < y.doc_id),
      |hm AS (
      |  SELECT id_a, id_b,
      |    CAST(list_sum(list_transform(range(1, 65), i ->
      |      CASE WHEN substr(a.b, i, 1) = substr(c.b, i, 1)
      |           THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
      |  FROM cand
      |  JOIN bits a ON a.doc_id = id_a
      |  JOIN bits c ON c.doc_id = id_b)
      |SELECT id_a, id_b, hamming FROM hm
      |WHERE hamming <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** VOICE-ACTIVITY SEGMENTATION over REAL WAV bytes (q209) — the speech
    * curation primitive (silence trimming, utterance inventory, speech-
    * fraction thresholds) run entirely in-engine: decode the RIFF chunk
    * walk, canonical 8 kHz ZOH resample (q145/q167's front end — rate
    * invariance means the same audio at 8 or 44.1 kHz segments alike),
    * 2 ms energy windows, active = above exact digital silence, segments
    * = maximal active runs. Payloads come from the speech-shaped fixture
    * ([[graft.multimodal.Multimodal.wavVadBytes]]): every third
    * 160-source-frame block is true digital silence, so the expected
    * segmentation is known structure, not noise.
    *
    * Scale shape: the whole operator is one typed map over the media scan
    * (projection-only; sample bytes never shuffle) + the output sort. The
    * oracle replays generator → gate → resample mapping → window energies
    * → run lengths in SQL, so decode offsets, the resample index math,
    * and the island bookkeeping are all hash-gated.
    */
  def q209AudioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.wavVadMediaTable(Tables.documents(spark, dir))
    media.map(Multimodal.vadSegments).toDF()
      .select(col("doc_id"), col("src_rate"), col("n_frames_vad"),
        col("n_active"), col("n_segments"), col("longest_run"),
        col("speech_ppm"))
      .orderBy(col("doc_id"))
  }

  val q209Oracle: String =
    """WITH geom AS (
      |  SELECT doc_id,
      |    [8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1] AS rate,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |    CAST(100 + doc_id % 400 AS INTEGER) AS nf
      |  FROM documents),
      |g2 AS (SELECT doc_id, rate, ch,
      |         CAST(nf * 8000 // rate AS INTEGER) AS t_out FROM geom),
      |fe AS (
      |  SELECT doc_id, rate, t_out, CAST(t_out // 16 AS INTEGER) AS nvf,
      |    f,
      |    list_sum(list_transform(range(f * 16 * ch, (f + 1) * 16 * ch), k ->
      |      CASE WHEN (((k // ch) * rate // 8000) // 160) % 3 = 0 THEN 0
      |           ELSE abs((doc_id + 7 * (((k // ch) * rate // 8000) * ch
      |                                   + k % ch)) % 201 - 100)
      |      END)) AS energy
      |  FROM g2, UNNEST(range(0, t_out // 16)) AS t(f)),
      |fl AS (
      |  SELECT doc_id, rate, nvf, f,
      |    CASE WHEN energy >= 1 THEN 1 ELSE 0 END AS act
      |  FROM fe),
      |br AS (
      |  SELECT doc_id, rate, nvf, f, act,
      |    CASE WHEN act = 0
      |           OR lag(act) OVER (PARTITION BY doc_id ORDER BY f) IS NULL
      |           OR lag(act) OVER (PARTITION BY doc_id ORDER BY f) = 0
      |         THEN 1 ELSE 0 END AS brk
      |  FROM fl),
      |rn AS (
      |  SELECT doc_id, rate, nvf, f, act,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY f
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM br),
      |runs AS (
      |  SELECT doc_id, rate, nvf, run_id, act,
      |    CAST(COUNT(*) AS INTEGER) AS run_len
      |  FROM rn GROUP BY doc_id, rate, nvf, run_id, act)
      |SELECT doc_id,
      |  CAST(rate AS INTEGER) AS src_rate,
      |  nvf AS n_frames_vad,
      |  CAST(COALESCE(SUM(CASE WHEN act = 1 THEN run_len END), 0) AS INTEGER)
      |    AS n_active,
      |  CAST(COALESCE(SUM(CASE WHEN act = 1 THEN 1 END), 0) AS INTEGER)
      |    AS n_segments,
      |  CAST(COALESCE(MAX(CASE WHEN act = 1 THEN run_len END), 0) AS INTEGER)
      |    AS longest_run,
      |  CAST(CAST(COALESCE(SUM(CASE WHEN act = 1 THEN run_len END), 0)
      |      AS HUGEINT) * 1000000 // nvf AS BIGINT) AS speech_ppm
      |FROM runs
      |GROUP BY doc_id, rate, nvf
      |ORDER BY doc_id""".stripMargin

  /** Scene-cut statistics from per-frame byte sums: adjacent-frame
    * absolute diffs, their totals, and cuts = diffs exceeding 3× the
    * clip's mean diff (cross-multiplied — d·n_pairs > 3·total_diff, no
    * division). Factored over a (doc_id, fsums) frame so the spec can
    * prove the detector fires on synthetic jump sequences the steady
    * fixture cannot contain.
    */
  private[graft] def sceneCutStats(df: DataFrame): DataFrame =
    df.withColumn("diffs", expr(
        """zip_with(slice(fsums, 2, size(fsums) - 1),
          |  slice(fsums, 1, size(fsums) - 1), (a, b) -> abs(a - b))"""
          .stripMargin))
      .withColumn("n_pairs", size(col("diffs")).cast(LongType))
      .withColumn("total_diff", expr("aggregate(diffs, 0L, (a, x) -> a + x)"))
      .withColumn("max_diff",
        expr("CASE WHEN size(diffs) = 0 THEN NULL ELSE array_max(diffs) END"))
      .withColumn("n_cuts", expr(
        "CAST(size(filter(diffs, d -> d * n_pairs > 3 * total_diff)) AS BIGINT)"))
      .select(col("doc_id"), col("n_pairs"), col("total_diff"),
        col("max_diff"), col("n_cuts"))

  /** VIDEO SCENE-CUT SCREEN (q243) — the shot-boundary primitive every
    * video-curation pipeline runs before frame sampling: per-frame byte
    * sums from the REAL AVI movi walk ([[Multimodal.videoFrameSums]]),
    * adjacent-frame absolute diffs, and a cut wherever a diff exceeds
    * 3× the clip mean. The fixture's generator brightens frames
    * LINEARLY (red +5/frame), so every clip's diffs are constant and
    * the expected output is "zero cuts, perfectly steady" — verified
    * exactly: the oracle replays the closed-form per-frame sums
    * (q113's arithmetic-series discipline) and must agree on every
    * total. Detection on actual jumps is the spec's planted-sequence
    * job.
    *
    * Scale shape: typed mapPartitions projection (bytes never
    * shuffle), then per-row array ops; output is one row per video.
    */
  def q243SceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.aviMediaTable(Tables.documents(spark, dir))
    val sums = media.mapPartitions(_.map(m =>
        (m.doc_id, Multimodal.videoFrameSums(m))))
      .toDF("doc_id", "fsums")
    sceneCutStats(sums).orderBy(col("doc_id"))
  }

  val q243Oracle: String =
    s"""WITH $aviOracleSums,
       |pf AS (
       |  SELECT doc_id, nf, wv, hv,
       |    -- adjacent-frame diff is constant: red climbs 5/frame over
       |    -- wv*hv pixels, blue/green are static
       |    5 * wv * hv AS d
       |  FROM sums)
       |SELECT doc_id,
       |  CAST(nf - 1 AS BIGINT) AS n_pairs,
       |  CAST((nf - 1) * d AS BIGINT) AS total_diff,
       |  CAST(d AS BIGINT) AS max_diff,
       |  CAST(0 AS BIGINT) AS n_cuts
       |FROM pf
       |ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q243_scene_cuts", q243SceneCuts, q243Oracle),
    QuerySpec("q209_audio_vad", q209AudioVad, q209Oracle),
    QuerySpec("q167_audio_neardup", q167AudioNearDup, q167Oracle),
    QuerySpec("q166_image_neardup", q166ImageNearDup, q166Oracle),
    QuerySpec("q113_video_meta", q113VideoMeta, q113Oracle),
    QuerySpec("q131_video_pixels", q131VideoPixels, q131Oracle),
    QuerySpec("q47_udf_source_id", q47UdfSourceId, q47Oracle),
    QuerySpec("q48_udaf_vecavg", q48UdafVecAvg, q48Oracle),
    QuerySpec("q49_multimodal_meta", q49MultimodalMeta, q49Oracle),
    QuerySpec("q50_multimodal_features", q50MultimodalFeatures, q50Oracle),
    QuerySpec("q51_frame_sample", q51FrameSample, q51Oracle),
    QuerySpec("q190_crossmodal_alignment", q190CrossModalAlignment, q190Oracle),
    QuerySpec("q140_image_resize", q140ImageResize, q140Oracle),
    QuerySpec("q145_audio_resample", q145AudioResample, q145Oracle),
    QuerySpec("q158_video_resample", q158VideoResample, q158Oracle),
    QuerySpec("q86_audio_features", q86AudioFeatures, q86Oracle))
}
