package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OracleParity.x6
import graft.streaming.Streaming
import graft.Ckpt._

/** Round-12 multimodal/streaming additions: the aspect-ratio bucketing a
  * vision-training pipeline shards batches by, and the message-bus source
  * formula pinned cross-engine through the windowed operator. */
object Modal4 {

  // --------------------------------------------------------- m_aspect_bucket

  /** The canonical training buckets: (name, w_ratio, h_ratio). */
  private val AspectBuckets = Seq(
    ("square_1_1", 1L, 1L), ("landscape_4_3", 4L, 3L), ("portrait_3_4", 3L, 4L),
    ("wide_16_9", 16L, 9L), ("tall_9_16", 9L, 16L))

  /** m_aspect_bucket: ASPECT-RATIO BUCKETING — the batch-sharding knob of
    * every vision/multimodal training pipeline (variable-aspect images
    * batch efficiently only when grouped into a few canonical aspect
    * buckets and resized within the bucket; bucketing is what m_letterbox
    * and m_resize compose with). Synthetic per-image dimensions derive
    * from doc_id (the m_resize_px convention); each image maps to the
    * nearest of 5 canonical buckets by EXACT INTEGER cross-multiplication
    * — |w·hr − h·wr| scaled to a common denominator, argmin with a
    * deterministic bucket-order tiebreak — so no float ratio ever
    * compares. Per bucket: population, true min/max ratios as one pinned
    * division each.
    *
    * Scale shape: a narrow per-image map (the argmin folds over a
    * 5-element literal array) + one ≤5-row rollup. On a real corpus the
    * (w, h) come from m_png_meta's header walk — no decode needed. */
  def mAspectBucket(s: SparkSession, dir: String): DataFrame = {
    val w = (lit(256L) + (col("doc_id") % 13) * 96L).as("w")
    val h = (lit(256L) + ((col("doc_id") % 7) * 128L)).as("h")
    // per bucket i: score_i = |w·hr_i − h·wr_i| · (K / (wr_i·hr_i)) — the
    // common-denominator scaling that makes cross-bucket scores comparable
    // (K = 16·9·4·3 covers every wr·hr product exactly)
    val K = 16L * 9L * 4L * 3L
    val scoreExprs = AspectBuckets.map { case (name, wr, hr) =>
      (name, s"abs(w * $hr - h * $wr) * ${K / (wr * hr)}")
    }
    val best = scoreExprs.map { case (name, e) => s"struct($e AS s, '$name' AS b)" }
      .mkString("array_min(array(", ", ", "))")
    Tables.documents(s, dir)
      .select(col("doc_id"), w, h)
      .withColumn("bucket", expr(s"$best.b"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_images"),
        min(col("w")).as("min_w"), max(col("w")).as("max_w"),
        min(col("w").cast("double") / col("h").cast("double")).as("min_ratio"),
        max(col("w").cast("double") / col("h").cast("double")).as("max_ratio"))
      .orderBy(col("bucket"))
  }

  val mAspectBucketSql: String = {
    val K = 16L * 9L * 4L * 3L
    val structs = AspectBuckets.map { case (name, wr, hr) =>
      s"{'s': abs(w * $hr - h * $wr) * ${K / (wr * hr)}, 'b': '$name'}"
    }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    256 + (doc_id % 13) * 96 AS w, 256 + (doc_id % 7) * 128 AS h
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, w, h, list_min([$structs]).b AS bucket
       |  FROM d)
       |SELECT bucket, COUNT(*) AS n_images,
       |  CAST(MIN(w) AS BIGINT) AS min_w, CAST(MAX(w) AS BIGINT) AS max_w,
       |  MIN(CAST(w AS DOUBLE) / CAST(h AS DOUBLE)) AS min_ratio,
       |  MAX(CAST(w AS DOUBLE) / CAST(h AS DOUBLE)) AS max_ratio
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------- st_bus_hourly

  private val BusRows = 5000L

  /** st_bus_hourly: the MESSAGE-BUS SOURCE under the oracle gate — the
    * kappa-backfill (batch) face of the `graftbus` DataSourceV2 topic
    * runs through the SAME hourlyAgg as st_hourly, and DuckDB replays the
    * topic's generating formula independently (generate_series → the
    * identical user/type/event-time/value derivation). This pins the
    * source's row formula, null placement, and offset-range completeness
    * cross-engine; StreamBusSourceSpec pins the streaming face
    * (rate-limited micro-batches, exactly-once) against this same batch
    * answer.
    *
    * Scale shape: the source plans 4 offset-range partitions (a real bus
    * maps partitions 1:1); the windowed rollup is the st_hourly shape. */
  def stBusHourly(s: SparkSession, dir: String): DataFrame =
    Streaming.hourlyAgg(
      s.read.format("graftbus").option("rows", BusRows).load(), // ts = epoch nanos
      withWatermark = false)
      .orderBy(col("hour_start_us"), col("event_type"))

  val stBusHourlySql: String =
    s"""WITH topic AS (
       |  SELECT i % 97 AS user_id,
       |    ['view', 'click', 'purchase', 'signup', 'refund'][CAST(i % 5 AS INT) + 1] AS event_type,
       |    1735689600000000 + i * 90000000 AS ts_us,
       |    CASE WHEN i % 11 = 0 THEN NULL ELSE CAST(i % 1000 AS DOUBLE) / 100.0 END AS value
       |  FROM (SELECT unnest(range($BusRows)) AS i))
       |SELECT (ts_us // 3600000000) * 3600000000 AS hour_start_us, event_type,
       |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM topic GROUP BY 1, 2 ORDER BY hour_start_us, event_type""".stripMargin

  // ------------------------------------------------------------ m_wav_meta

  /** m_wav_meta: RIFF/WAVE HEADER METADATA — the m_png_meta sibling for
    * audio: real WAV containers (JDK-written, rate/length varying by
    * formula) walked by a real chunk iterator (Audio.wavMeta — fmt and
    * data chunks, even-padding per the RIFF spec) with NO sample decode.
    * This is the metadata pass a media pipeline runs over petabytes of
    * audio (sample-rate census, duration accounting, format routing)
    * where touching PCM data would be the whole job; the oracle replays
    * the generator formulas (rate = 8000·(1 + id%3), n = 400 + (id%5)·200
    * mono 16-bit → data_bytes = 2n, duration = 1000n // rate), so a
    * parser off-by-one in any header offset breaks the hash.
    *
    * Scale shape: one narrow mapPartitions pass, 6 integers per blob
    * leave the executor. */
  def mWavMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val metas = Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 2)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (400 + (id % 5) * 200).toInt
        val rate = 8000f * (1 + id % 3)
        val samples = Array.tabulate(n)(i =>
          (((id * 131L + i.toLong) % 2001L - 1000L) * 8L).toShort)
        val wav = graft.multimodal.Audio.wavBytes(samples, rate)
        val m = graft.multimodal.Audio.wavMeta(wav)
          .getOrElse(sys.error(s"unparseable WAV container for doc $id"))
        (id, m.audio_format.toLong, m.channels.toLong, m.sample_rate,
          m.bits.toLong, m.data_bytes)
      }).toDF("doc_id", "audio_format", "channels", "sample_rate", "bits", "data_bytes")
    metas.select(col("doc_id"), col("audio_format"), col("channels"),
        col("sample_rate"), col("bits"), col("data_bytes"),
        expr("(data_bytes div 2) * 1000 div sample_rate").as("duration_ms"))
      .orderBy(col("doc_id"))
  }

  val mWavMetaSql: String =
    """SELECT doc_id, CAST(1 AS BIGINT) AS audio_format, CAST(1 AS BIGINT) AS channels,
      |  CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
      |  CAST(16 AS BIGINT) AS bits,
      |  CAST((400 + (doc_id % 5) * 200) * 2 AS BIGINT) AS data_bytes,
      |  CAST((400 + (doc_id % 5) * 200) * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT) AS duration_ms
      |FROM documents WHERE doc_id % 4 = 2 ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- m_jpeg_meta

  /** m_jpeg_meta: JPEG/JFIF SEGMENT METADATA — the m_png_meta/m_wav_meta
    * sibling for the remaining major still-image container: real JPEGs
    * (JDK ImageIO-written grayscale, dimensions varying by formula)
    * walked by a real marker-aligned segment iterator
    * (multimodal/Jpeg.meta — APP0/JFIF fields, SOFn frame header,
    * entropy-scan skip with stuffed-byte/RSTn awareness, EOI check) with
    * NO entropy decode. The oracle replays the generator formulas
    * (w = 8 + id%9, h = 8 + (id÷9)%7, grayscale ⇒ 1 component) plus the
    * JFIF constants the JDK writer pins (version 1.02, aspect-ratio
    * density unit 0, 1×1), so a parser off-by-one in any offset breaks
    * the hash.
    *
    * Scale shape: one narrow mapPartitions pass (the multimodal decode
    * seam), 11 small values per blob leave the executor. */
  def mJpegMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 1)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 7).toInt
          md.reset()
          val hx = md.digest(id.toString.getBytes("UTF-8"))
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          var j = 0
          while (j < w * h) {
            val v = (hx(j % 16) & 0xff)
            img.getRaster.setSample(j % w, j / w, 0, v)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          val m = graft.multimodal.Jpeg.meta(bos.toByteArray)
            .getOrElse(sys.error(s"unparseable JPEG container for doc $id"))
          (id, m.width.toLong, m.height.toLong, m.components.toLong,
            m.bits.toLong, m.sofCode == 0xc0, m.jfifMajor.toLong,
            m.jfifMinor.toLong, m.densityUnit.toLong, m.xDensity.toLong,
            m.yDensity.toLong, m.hasEoi)
        }
      }.toDF("doc_id", "width", "height", "n_components", "bits",
        "baseline", "jfif_major", "jfif_minor", "density_unit",
        "x_density", "y_density", "has_eoi")
      .orderBy(col("doc_id"))
  }

  val mJpegMetaSql: String =
    """SELECT doc_id,
      |  CAST(8 + doc_id % 9 AS BIGINT) AS width,
      |  CAST(8 + (doc_id // 9) % 7 AS BIGINT) AS height,
      |  CAST(1 AS BIGINT) AS n_components, CAST(8 AS BIGINT) AS bits,
      |  TRUE AS baseline,
      |  CAST(1 AS BIGINT) AS jfif_major, CAST(2 AS BIGINT) AS jfif_minor,
      |  CAST(0 AS BIGINT) AS density_unit,
      |  CAST(1 AS BIGINT) AS x_density, CAST(1 AS BIGINT) AS y_density,
      |  TRUE AS has_eoi
      |FROM documents WHERE doc_id % 4 = 1 ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- m_exif_meta

  /** m_exif_meta: EXIF TIFF-IFD METADATA — the structured layer above
    * m_jpeg_meta's segment census: real JDK-written JPEGs carrying a
    * spec-conforming APP1/Exif block (built by multimodal/Exif.build —
    * the m_png_meta injector pattern; the JDK has no EXIF writer) walked
    * back by a real endian-aware TIFF directory parser (Exif.meta: II
    * AND MM byte orders — alternating by doc id so both paths run every
    * round — typed entries with the inline-vs-offset rule, RATIONAL and
    * ASCII payloads at offsets, the Exif sub-IFD pointer hop).
    * `dims_match` re-parses the SPLICED container with Jpeg.meta and
    * compares the SOF truth against the metadata CLAIM — the
    * orientation/dimension audit a vision pipeline runs before trusting
    * any EXIF field, and the proof the splice keeps the JPEG parseable.
    *
    * Scale shape: one narrow mapPartitions pass (the multimodal decode
    * seam), 10 small values per blob leave the executor. */
  def mExifMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 3)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + (id / 9) % 7).toInt
          md.reset()
          val hx = md.digest(id.toString.getBytes("UTF-8"))
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          var j = 0
          while (j < w * h) {
            img.getRaster.setSample(j % w, j / w, 0, hx(j % 16) & 0xff)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          val dt = f"2026:08:${1 + id % 28}%02d ${id % 24}%02d:00:00"
          val app1 = graft.multimodal.Exif.build(
            little = id % 2 == 0, orientation = (1 + id % 8).toInt,
            xresNum = 72 + id % 5, xresDen = 1 + id % 3,
            dateTime = dt, pixelW = w.toLong, pixelH = h.toLong)
          val spliced = graft.multimodal.Exif.spliceApp1(bos.toByteArray, app1)
          val e = graft.multimodal.Exif.meta(spliced)
            .getOrElse(sys.error(s"unparseable EXIF block for doc $id"))
          val sof = graft.multimodal.Jpeg.meta(spliced)
            .getOrElse(sys.error(s"splice broke the JPEG container for doc $id"))
          (id, e.byteOrder, e.orientation.toLong, e.xresNum, e.xresDen,
            e.dateTime, e.pixelW, e.pixelH, e.ifd0Entries.toLong,
            e.pixelW == sof.width.toLong && e.pixelH == sof.height.toLong)
        }
      }.toDF("doc_id", "byte_order", "orientation", "xres_num", "xres_den",
        "date_time", "pixel_w", "pixel_h", "n_ifd0", "dims_match")
      .orderBy(col("doc_id"))
  }

  val mExifMetaSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
      |  CAST(72 + doc_id % 5 AS BIGINT) AS xres_num,
      |  CAST(1 + doc_id % 3 AS BIGINT) AS xres_den,
      |  '2026:08:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
      |    || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
      |    || ':00:00' AS date_time,
      |  CAST(8 + doc_id % 9 AS BIGINT) AS pixel_w,
      |  CAST(8 + (doc_id // 9) % 7 AS BIGINT) AS pixel_h,
      |  CAST(4 AS BIGINT) AS n_ifd0,
      |  TRUE AS dims_match
      |FROM documents WHERE doc_id % 4 = 3 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ st_quantile

  /** st_quantile's pinned bin layout: [0, 512) value units in 64 equal
    * buckets (w = 8·10⁶ micros) — covers the event value range with the
    * clamp as the out-of-contract catch. */
  val StQLo = 0L
  val StQW = 8000000L
  val StQBuckets = 64

  /** st_quantile: STREAMING QUANTILE SKETCH readout — per-hour p50/p95
    * per event type answered from Streaming.hourlySketch's O(B)-counter
    * window state (batch-applied here; StreamingSpec drives the same
    * transform under a watermark on a real stream). The streaming twist
    * on q_sketch_quantile: the bin layout is PINNED up front (no bounds
    * pass exists in a stream — the metric-contract form), so per-hour
    * state is 64 integer counters per type, mergeable across any span.
    * Rank selection and interpolation mirror q_sketch_quantile's pinned
    * chain; the per-(hour, type) answer window is ≤B bucket-ordered rows
    * (the BandedRank-bounded class) at ANY corpus scale.
    *
    * Scale shape: one streaming-compatible (hour, type, bucket) count
    * rollup over the fact; everything after runs on sketch rows. */
  def stQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = graft.streaming.Streaming.hourlySketch(
      Tables.events(s, dir), withWatermark = false, StQLo, StQW, StQBuckets)
      .cpLazy // consumed 2x: totals + the cum window
    val tot = sk.groupBy(col("hour_start_us"), col("event_type"))
      .agg(sum(col("cnt")).as("n"))
    val cum = sk.withColumn("cum",
      sum(col("cnt")).over(
        Window.partitionBy(col("hour_start_us"), col("event_type"))
          .orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ps = s.range(1).select(explode(array(lit(50), lit(95))).as("p"))
    val est = ((lit(StQLo) + col("bucket") * lit(StQW)).cast("double") +
      (col("r") - (col("cum") - col("cnt"))).cast("double") /
        col("cnt").cast("double") * lit(StQW.toDouble)) / lit(1000000.0)
    cum.join(tot, Seq("hour_start_us", "event_type"))
      .crossJoin(broadcast(ps))
      .withColumn("r", expr("(p * n + 99) div 100")) // ceil(p·n/100), exact
      .filter(col("cum") - col("cnt") < col("r") && col("r") <= col("cum"))
      .withColumn("est", est)
      .groupBy(col("hour_start_us"), col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("p") === 50, col("est"))).as("est_p50"),
        max(when(col("p") === 95, col("est"))).as("est_p95"))
      .orderBy(col("hour_start_us"), col("event_type"))
  }

  val stQuantileSql: String =
    s"""WITH ev AS (
       |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us,
       |    event_type,
       |    GREATEST($StQLo, LEAST(
       |      CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT),
       |      ${StQLo + StQW * StQBuckets - 1})) AS x6c
       |  FROM events WHERE value IS NOT NULL),
       |sk AS (
       |  SELECT hour_start_us, event_type, (x6c - $StQLo) // $StQW AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM ev GROUP BY 1, 2, 3),
       |c AS (
       |  SELECT hour_start_us, event_type, bucket, cnt,
       |    CAST(SUM(cnt) OVER (PARTITION BY hour_start_us, event_type
       |      ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM sk),
       |t AS (SELECT hour_start_us, event_type, CAST(SUM(cnt) AS BIGINT) AS n
       |      FROM sk GROUP BY 1, 2),
       |sel AS (
       |  SELECT c.hour_start_us, c.event_type, t.n, p.p,
       |    (p.p * t.n + 99) // 100 AS r, c.bucket, c.cnt, c.cum
       |  FROM c JOIN t ON c.hour_start_us = t.hour_start_us
       |    AND c.event_type = t.event_type
       |  CROSS JOIN (SELECT unnest([50, 95]) AS p) p
       |  WHERE c.cum - c.cnt < (p.p * t.n + 99) // 100
       |    AND (p.p * t.n + 99) // 100 <= c.cum)
       |SELECT hour_start_us, event_type, MAX(n) AS n,
       |  MAX(CASE WHEN p = 50 THEN
       |    (CAST($StQLo + bucket * $StQW AS DOUBLE)
       |      + CAST(r - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE) * ${StQW.toDouble})
       |      / 1000000.0 END) AS est_p50,
       |  MAX(CASE WHEN p = 95 THEN
       |    (CAST($StQLo + bucket * $StQW AS DOUBLE)
       |      + CAST(r - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE) * ${StQW.toDouble})
       |      / 1000000.0 END) AS est_p95
       |FROM sel GROUP BY hour_start_us, event_type
       |ORDER BY hour_start_us, event_type""".stripMargin

  // ------------------------------------------------------------ m_id3_meta

  /** m_id3_meta: ID3v2.3 TAG METADATA — the audio-tag sibling of
    * m_exif_meta: spec-conforming v2.3 tags (built by multimodal/Id3 —
    * the injector pattern) prepended to opaque audio payloads and walked
    * back by a real frame iterator (syncsafe header size, 4-byte frame
    * ids, plain big-endian v2.3 frame sizes, the encoding byte on text
    * frames, padding stop, every offset bounds-checked against both the
    * buffer AND the declared tag size). The title/artist/album/duration
    * census an audio pipeline runs before routing anything to a decoder;
    * the oracle replays the generator formulas INCLUDING the byte-exact
    * tag size (header + 5 frames + padding — any framing off-by-one
    * breaks the hash).
    *
    * Scale shape: one narrow mapPartitions pass, 9 small values per blob
    * leave the executor. */
  def mId3Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val tag = graft.multimodal.Id3.build(
            title = s"Track $id", artist = s"artist_${id % 17}",
            album = s"album_${id % 7}", track = 1 + id % 12,
            lenMs = 30000 + (id % 7) * 1000)
          md.reset()
          val payload = md.digest(id.toString.getBytes("UTF-8")) // opaque audio
          val m = graft.multimodal.Id3.meta(tag ++ payload)
            .getOrElse(sys.error(s"unparseable ID3 tag for doc $id"))
          (id, m.version.toLong, m.tagBytes, m.nFrames.toLong,
            m.title, m.artist, m.album, m.track, m.lenMs)
        }
      }.toDF("doc_id", "version", "tag_bytes", "n_frames",
        "title", "artist", "album", "track", "len_ms")
      .orderBy(col("doc_id"))
  }

  val mId3MetaSql: String =
    """SELECT doc_id, CAST(3 AS BIGINT) AS version,
      |  -- 10 header + 16 padding + 5 frames x (10 hdr + 1 enc) + texts
      |  CAST(10 + 16 + 55
      |    + length('Track ' || CAST(doc_id AS VARCHAR))
      |    + length('artist_' || CAST(doc_id % 17 AS VARCHAR))
      |    + length('album_' || CAST(doc_id % 7 AS VARCHAR))
      |    + length(CAST(1 + doc_id % 12 AS VARCHAR))
      |    + length(CAST(30000 + (doc_id % 7) * 1000 AS VARCHAR))
      |    AS BIGINT) AS tag_bytes,
      |  CAST(5 AS BIGINT) AS n_frames,
      |  'Track ' || CAST(doc_id AS VARCHAR) AS title,
      |  'artist_' || CAST(doc_id % 17 AS VARCHAR) AS artist,
      |  'album_' || CAST(doc_id % 7 AS VARCHAR) AS album,
      |  CAST(1 + doc_id % 12 AS BIGINT) AS track,
      |  CAST(30000 + (doc_id % 7) * 1000 AS BIGINT) AS len_ms
      |FROM documents WHERE doc_id % 4 = 0 ORDER BY doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("m_aspect_bucket", mAspectBucket _, mAspectBucketSql),
    Gate("m_wav_meta", mWavMeta _, mWavMetaSql),
    Gate("m_jpeg_meta", mJpegMeta _, mJpegMetaSql),
    Gate("m_exif_meta", mExifMeta _, mExifMetaSql),
    Gate("m_id3_meta", mId3Meta _, mId3MetaSql),
    Gate("st_bus_hourly", stBusHourly _, stBusHourlySql),
    Gate("st_quantile", stQuantile _, stQuantileSql),
  )
}
