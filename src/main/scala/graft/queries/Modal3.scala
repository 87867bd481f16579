package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal columns, batch 3 (SURVEY.md §2F): container METADATA
  * extraction (PNG chunk walking) and a pixel-domain histogram
  * equalization — both real-codec gates in the m_resize_px family:
  * synthesize a genuine container from an md5 formula, run the real
  * binary/decode path, and hash-check the result against the oracle's
  * formula replay. */
object Modal3 {

  // ------------------------------------------------------------ m_png_meta

  /** m_png_meta: TYPED METADATA EXTRACTION from a binary container — the
    * "image/audio/video as opaque binary + typed metadata" contract made
    * concrete: a real PNG chunk walker (length/type/data/CRC stream per
    * the PNG spec) extracts IHDR geometry (big-endian width/height, bit
    * depth) and tEXt key→value pairs, verifying every chunk's CRC32 as
    * it goes — the inventory pass a media lake runs on ingest, before
    * any pixel is decoded (footer/header-only, the parquet-manifest idea
    * applied to media containers).
    *
    * The gate synthesizes real PNGs via javax.imageio, INJECTS two tEXt
    * chunks (spec-correct CRC over type+data) after IHDR, then parses —
    * writer, injector, walker and CRC all under the oracle, which
    * replays the planted metadata by formula. The parse never inflates
    * IDAT: cost is O(header), not O(pixels).
    *
    * Scale shape: one narrow mapPartitions pass; one row per blob. */
  def mPngMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 3)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def be(b: Array[Byte], o: Int): Int =
          ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
            ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
        def textChunk(key: String, value: String): Array[Byte] = {
          val data = key.getBytes("ISO-8859-1") ++ Array(0.toByte) ++
            value.getBytes("ISO-8859-1")
          val crc = new java.util.zip.CRC32()
          crc.update("tEXt".getBytes("ISO-8859-1")); crc.update(data)
          val bb = java.nio.ByteBuffer.allocate(12 + data.length)
          bb.putInt(data.length).put("tEXt".getBytes("ISO-8859-1"))
            .put(data).putInt(crc.getValue.toInt)
          bb.array()
        }
        it.flatMap { id =>
          md.reset()
          val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val h1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < 64) {
            val v = if (((h1 >> (j % 32)) & 1L) == 1L) 200 else 40
            img.setRGB(j % 8, j / 8, (v << 16) | (v << 8) | v)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val base = bos.toByteArray
          // inject the two tEXt chunks right after IHDR (8-byte signature
          // + 25-byte IHDR chunk = offset 33)
          val inject = textChunk("title", s"doc-$id") ++
            textChunk("origin", s"src${id % 20}")
          val png = base.slice(0, 33) ++ inject ++ base.drop(33)
          // --- the operator under test: a generic PNG chunk walker ---
          var o = 8
          var w = -1; var h = -1; var depth = -1
          var title: String = null; var origin: String = null
          var crcOk = true; var done = false
          while (!done && o + 12 <= png.length) {
            val len = be(png, o)
            val typ = new String(png, o + 4, 4, "ISO-8859-1")
            val crc = new java.util.zip.CRC32()
            crc.update(png, o + 4, 4 + len)
            if (crc.getValue.toInt != be(png, o + 8 + len)) crcOk = false
            if (typ == "IHDR") { w = be(png, o + 8); h = be(png, o + 12); depth = png(o + 16) & 0xff }
            else if (typ == "tEXt") {
              val data = new String(png, o + 8, len, "ISO-8859-1")
              val nul = data.indexOf('\u0000')
              if (nul > 0) {
                val (k, v) = (data.substring(0, nul), data.substring(nul + 1))
                if (k == "title") title = v else if (k == "origin") origin = v
              }
            } else if (typ == "IEND") done = true
            o += 12 + len
          }
          Some((id, w.toLong, h.toLong, depth.toLong, title, origin, crcOk))
        }
      }.toDF("doc_id", "width", "height", "bit_depth", "meta_title", "meta_origin", "crc_ok")
      .orderBy(col("doc_id"))
  }

  val mPngMetaSql: String =
    """SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      |  CAST(8 AS BIGINT) AS bit_depth,
      |  'doc-' || CAST(doc_id AS VARCHAR) AS meta_title,
      |  'src' || CAST(doc_id % 20 AS VARCHAR) AS meta_origin,
      |  TRUE AS crc_ok
      |FROM documents WHERE doc_id % 4 = 3 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- m_hist_eq

  /** Pixel nibble j ∈ [0, 64) of image `id`: the hex digits of md5(id)
    * then md5(id + "b") — the synthetic 8×8 raster the image gates draw
    * (their oracles replay the same formula). */
  private def nibbles(md: java.security.MessageDigest, id: Long): Int => Int = {
    md.reset()
    val hexA = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    md.reset()
    val hexB = md.digest(s"${id}b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    j => if (j < 32) Integer.parseInt(hexA.substring(j, j + 1), 16)
      else Integer.parseInt(hexB.substring(j - 32, j - 31), 16)
  }

  /** m_hist_eq: HISTOGRAM EQUALIZATION in the pixel domain — the contrast
    * normalization step before perceptual hashing / feature extraction
    * (two exposures of one scene equalize to near-identical rasters; raw
    * pixels don't): real 8×8 grayscale PNGs whose 64 pixels are md5
    * NIBBLES ×17 (16 gray levels spanning 0..255), decoded via
    * javax.imageio, remapped by the classic integer CDF rule
    * eq(v) = (cdf(v)·255) div 64 with cdf(v) = #pixels ≤ v — exact
    * integer arithmetic, no float rounding to diverge on. The oracle
    * replays the nibble formula AND the CDF remap in SQL, so writer,
    * codec and kernel are all hash-checked (the m_resize_px discipline).
    *
    * Scale shape: one narrow mapPartitions pass; per-image state is the
    * 64-pixel raster; one digest row per image leaves the executor. */
  def mHistEq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          val nib = nibbles(md, id)
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < 64) {
            val v = nib(j) * 17
            img.setRGB(j % 8, j / 8, (v << 16) | (v << 8) | v)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val dec = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          if (dec == null) None
          else {
            val px = Array.tabulate(64)(k => dec.getRGB(k % 8, k / 8) & 0xff)
            def cdf(v: Int): Int = px.count(_ <= v)
            val eq = px.map(v => (cdf(v) * 255) / 64)
            Some((id, eq.map(_.toLong).sum, eq.min.toLong, eq.max.toLong,
              eq.distinct.length.toLong))
          }
        }
      }.toDF("doc_id", "eq_sum", "eq_min", "eq_max", "n_levels")
      .orderBy(col("doc_id"))
  }

  val mHistEqSql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
      |px AS (
      |  SELECT doc_id, j,
      |    CASE WHEN j < 32
      |      THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), j + 1, 1))::BIGINT * 17
      |      ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'b'), j - 31, 1))::BIGINT * 17
      |    END AS v
      |  FROM ids, (SELECT unnest(range(64)) AS j) js),
      |eq AS (
      |  SELECT doc_id,
      |    (COUNT(*) OVER (PARTITION BY doc_id ORDER BY v
      |       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 255) // 64 AS e
      |  FROM px)
      |SELECT doc_id, CAST(SUM(e) AS BIGINT) AS eq_sum, MIN(e) AS eq_min, MAX(e) AS eq_max,
      |  COUNT(DISTINCT e) AS n_levels
      |FROM eq GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- m_gif_frames

  /** m_gif_frames: ANIMATED-GIF frame extraction — a real multi-frame
    * container (the m_frame_sample/MJPEG sibling through an actual
    * animation format): per document, 1 + doc_id % 3 grayscale 8×8
    * frames (two gray levels — palette-exact through GIF's indexed
    * color) write through the JDK's GIF SEQUENCE writer, then the
    * operator under test re-opens the container, counts frames via the
    * reader index and decodes each frame to an exact luma sum. Writer,
    * palette quantizer, LZW codec and reader are all under the oracle,
    * which replays per-frame luma as 40·64 + 160·popcount(md5 bits) —
    * codegen'd bit_count on both engines.
    *
    * Scale shape: one narrow mapPartitions pass; per-blob state is one
    * frame; one row per video leaves the executor. */
  def mGifFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 2)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // explicit 256-entry gray palette: TYPE_BYTE_INDEXED stores the
        // sample VALUE, GIF carries the palette verbatim, and decode's
        // getRGB returns the palette color — no sRGB⇄linear colorspace
        // conversion anywhere (TYPE_BYTE_GRAY's setRGB/getRGB would apply
        // one and break the oracle's exact 40/200 replay)
        val grays = Array.tabulate(256)(_.toByte)
        val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
        def frame(id: Long, f: Int): java.awt.image.BufferedImage = {
          md.reset()
          val hex = md.digest(s"$id:$f".getBytes("UTF-8")).map("%02x".format(_)).mkString
          val h1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
          val h2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
          val raster = img.getRaster
          var j = 0
          while (j < 64) {
            val bit = if (j < 32) (h1 >> j) & 1L else (h2 >> (j - 32)) & 1L
            raster.setSample(j % 8, j / 8, 0, if (bit == 1L) 200 else 40)
            j += 1
          }
          img
        }
        it.flatMap { id =>
          val nf = (1 + id % 3).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          (0 until nf).foreach { f =>
            writer.writeToSequence(new javax.imageio.IIOImage(frame(id, f), null, null), null)
          }
          writer.endWriteSequence(); ios.close(); writer.dispose()
          // --- the operator under test: re-open and decode the container ---
          val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          var total = 0L; var first = 0L
          var i = 0
          while (i < n) {
            val dec = reader.read(i)
            var sum = 0L; var j = 0
            while (j < 64) { sum += (dec.getRGB(j % 8, j / 8) & 0xff); j += 1 }
            if (i == 0) first = sum
            total += sum
            i += 1
          }
          reader.dispose(); iis.close()
          Some((id, n.toLong, first, total))
        }
      }.toDF("doc_id", "n_frames", "frame0_luma", "luma_total")
      .orderBy(col("doc_id"))
  }

  val mGifFramesSql: String =
    """WITH ids AS (SELECT doc_id, 1 + doc_id % 3 AS nf
      |             FROM documents WHERE doc_id % 4 = 2),
      |fr AS (
      |  SELECT doc_id, nf, f,
      |    40 * 64 + 160 * (
      |      bit_count(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)), 1, 8))::BIGINT)
      |    + bit_count(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)), 9, 8))::BIGINT)) AS luma
      |  FROM ids, (SELECT unnest(range(3)) AS f) fs WHERE f < nf)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(MIN(CASE WHEN f = 0 THEN luma END) AS BIGINT) AS frame0_luma,
      |  CAST(SUM(luma) AS BIGINT) AS luma_total
      |FROM fr GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ m_patchify

  /** m_patchify: ViT-style PATCH EXTRACTION — the preprocessing every
    * vision-language training pipeline runs before the vision encoder
    * (image → non-overlapping patches → per-patch features): real 8×8
    * grayscale PNGs (nibble-formula pixels, the m_hist_eq raster) decode
    * via javax.imageio and split into sixteen 2×2 patches, each reduced
    * to its exact integer sum and integer-division mean. Writer, codec
    * and the row-major patch indexing (patch = (y div 2)·4 + x div 2)
    * are all under the oracle's formula replay — an off-by-one in the
    * patch walk breaks the hash.
    *
    * Scale shape: one narrow mapPartitions pass; 16 fixed rows per
    * image. */
  def mPatchify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 1)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          val nib = nibbles(md, id)
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < 64) {
            val v = nib(j) * 17
            img.setRGB(j % 8, j / 8, (v << 16) | (v << 8) | v)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val dec = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          if (dec == null) Iterator.empty
          else {
            val sums = Array.fill(16)(0L)
            var k = 0
            while (k < 64) {
              val (x, y) = (k % 8, k / 8)
              sums((y / 2) * 4 + x / 2) += (dec.getRGB(x, y) & 0xff).toLong
              k += 1
            }
            sums.iterator.zipWithIndex.map { case (ps, idx) =>
              (id, idx.toLong, ps, ps / 4)
            }
          }
        }
      }.toDF("doc_id", "patch_idx", "patch_sum", "patch_mean")
      .orderBy(col("doc_id"), col("patch_idx"))
  }

  val mPatchifySql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1),
      |px AS (
      |  SELECT doc_id,
      |    ((j // 8) // 2) * 4 + (j % 8) // 2 AS patch_idx,
      |    CASE WHEN j < 32
      |      THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), j + 1, 1))::BIGINT * 17
      |      ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'b'), j - 31, 1))::BIGINT * 17
      |    END AS v
      |  FROM ids, (SELECT unnest(range(64)) AS j) js)
      |SELECT doc_id, CAST(patch_idx AS BIGINT) AS patch_idx,
      |  CAST(SUM(v) AS BIGINT) AS patch_sum, CAST(SUM(v) // 4 AS BIGINT) AS patch_mean
      |FROM px GROUP BY doc_id, patch_idx
      |ORDER BY doc_id, patch_idx""".stripMargin

  // --------------------------------------------------------- m_codec_matrix

  /** m_codec_matrix: CODEC-INVARIANCE audit — the same raster pushed
    * through THREE real containers (PNG and BMP as 24-bit RGB, GIF
    * through the indexed gray palette) must decode to the identical
    * pixel digest: the cross-codec regression net a media pipeline runs
    * when a JDK/library upgrade lands (a quantizer or colorspace change
    * in any one path breaks equality instantly — exactly how the
    * TYPE_BYTE_GRAY trap in m_gif_frames was caught). The oracle replays
    * the nibble formula once; all three sums and the equality verdict
    * hash against it.
    *
    * Scale shape: one narrow mapPartitions pass; one row per image. */
  def mCodecMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 3)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val grays = Array.tabulate(256)(_.toByte)
        val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
        def digest(bytes: Array[Byte]): Long = {
          val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (dec == null) -1L
          else {
            var sum = 0L; var j = 0
            while (j < 64) { sum += (dec.getRGB(j % 8, j / 8) & 0xff); j += 1 }
            sum
          }
        }
        it.flatMap { id =>
          val nib = nibbles(md, id)
          def raster(imgType: Int, icmOpt: Option[java.awt.image.IndexColorModel]) = {
            val img = icmOpt match {
              case Some(cm) => new java.awt.image.BufferedImage(8, 8, imgType, cm)
              case None     => new java.awt.image.BufferedImage(8, 8, imgType)
            }
            var j = 0
            while (j < 64) {
              val v = nib(j) * 17
              if (icmOpt.isDefined) img.getRaster.setSample(j % 8, j / 8, 0, v)
              else img.setRGB(j % 8, j / 8, (v << 16) | (v << 8) | v)
              j += 1
            }
            img
          }
          def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
          }
          val rgb = java.awt.image.BufferedImage.TYPE_INT_RGB
          val idx = java.awt.image.BufferedImage.TYPE_BYTE_INDEXED
          val pngSum = digest(enc(raster(rgb, None), "png"))
          val bmpSum = digest(enc(raster(rgb, None), "bmp"))
          val gifSum = digest(enc(raster(idx, Some(icm)), "gif"))
          Some((id, pngSum, bmpSum, gifSum,
            pngSum == bmpSum && bmpSum == gifSum))
        }
      }.toDF("doc_id", "png_sum", "bmp_sum", "gif_sum", "all_equal")
      .orderBy(col("doc_id"))
  }

  val mCodecMatrixSql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
      |px AS (
      |  SELECT doc_id,
      |    CASE WHEN j < 32
      |      THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), j + 1, 1))::BIGINT * 17
      |      ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'b'), j - 31, 1))::BIGINT * 17
      |    END AS v
      |  FROM ids, (SELECT unnest(range(64)) AS j) js)
      |SELECT doc_id, CAST(SUM(v) AS BIGINT) AS png_sum, CAST(SUM(v) AS BIGINT) AS bmp_sum,
      |  CAST(SUM(v) AS BIGINT) AS gif_sum,
      |  TRUE AS all_equal
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ m_srt_parse

  /** m_srt_parse: SUBTITLE (SRT) parsing — the video-text alignment step a
    * multimodal training pipeline runs to pair captions with frame spans:
    * a spec-shaped SRT document (cue index, HH:MM:SS,mmm --> HH:MM:SS,mmm
    * timing line, text, blank-line separators) is SYNTHESIZED IN-QUERY
    * from a formula, then the OPERATOR — a generic cue splitter +
    * timestamp regex that would parse any real SRT — recovers cue index,
    * start/end milliseconds and text. The oracle constructs the expected
    * rows directly from the formula (the e_mask independent-formulation
    * cross-check), so a parser off-by-one in the timestamp arithmetic
    * breaks the hash.
    *
    * Scale shape: pure narrow string maps (synthesize, split, regex) —
    * no shuffle before the presentation sort. */
  def mSrtParse(s: SparkSession, dir: String): DataFrame = {
    def tsSql(x: String) =
      s"concat(lpad(cast(($x) div 3600000 AS string), 2, '0'), ':', " +
        s"lpad(cast((($x) div 60000) % 60 AS string), 2, '0'), ':', " +
        s"lpad(cast((($x) div 1000) % 60 AS string), 2, '0'), ',', " +
        s"lpad(cast(($x) % 1000 AS string), 3, '0'))"
    val start = "cast(i AS bigint) * 2000 + (doc_id % 7) * 10"
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .withColumn("n_cues", lit(1) + (col("doc_id") % 3).cast("int"))
    // synthesize the SRT text: cue i at start = i*2000 + (doc_id%7)*10 ms
    val srt = docs.withColumn("srt", expr(
      s"""concat_ws('\\n\\n', transform(sequence(0, n_cues - 1), i ->
         |  concat(cast(i + 1 AS string), '\\n',
         |    ${tsSql(start)}, ' --> ',
         |    ${tsSql(s"$start + 1500")}, '\\n',
         |    'cue ', cast(doc_id AS string), '-', cast(i AS string))))""".stripMargin))
    // --- the operator under test: a generic SRT cue parser ---
    val cueRe = "(?s)^(\\d+)\\n(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) --> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})\\n(.*)$"
    srt.select(col("doc_id"), explode(split(col("srt"), "\n\n")).as("cue"))
      .select(col("doc_id"),
        regexp_extract(col("cue"), cueRe, 1).cast("long").as("cue_idx"),
        (regexp_extract(col("cue"), cueRe, 2).cast("long") * 3600000L +
          regexp_extract(col("cue"), cueRe, 3).cast("long") * 60000L +
          regexp_extract(col("cue"), cueRe, 4).cast("long") * 1000L +
          regexp_extract(col("cue"), cueRe, 5).cast("long")).as("start_ms"),
        (regexp_extract(col("cue"), cueRe, 6).cast("long") * 3600000L +
          regexp_extract(col("cue"), cueRe, 7).cast("long") * 60000L +
          regexp_extract(col("cue"), cueRe, 8).cast("long") * 1000L +
          regexp_extract(col("cue"), cueRe, 9).cast("long")).as("end_ms"),
        regexp_extract(col("cue"), cueRe, 10).as("text"))
      .withColumn("dur_ms", col("end_ms") - col("start_ms"))
      .orderBy(col("doc_id"), col("cue_idx"))
  }

  val mSrtParseSql: String =
    """WITH ids AS (SELECT doc_id, 1 + doc_id % 3 AS n_cues
      |             FROM documents WHERE doc_id % 4 = 0),
      |cues AS (SELECT doc_id, i FROM ids, (SELECT unnest(range(3)) AS i) xs WHERE i < n_cues)
      |SELECT doc_id, CAST(i + 1 AS BIGINT) AS cue_idx,
      |  CAST(i * 2000 + (doc_id % 7) * 10 AS BIGINT) AS start_ms,
      |  CAST(i * 2000 + (doc_id % 7) * 10 + 1500 AS BIGINT) AS end_ms,
      |  'cue ' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS text,
      |  CAST(1500 AS BIGINT) AS dur_ms
      |FROM cues ORDER BY doc_id, cue_idx""".stripMargin

  // ------------------------------------------------------------ m_clipping

  /** m_clipping: AUDIO CLIPPING detection — the first QC gate an audio
    * corpus runs (clipped recordings poison both acoustic fingerprints
    * and ASR training; gain staging bugs show up here first): per clip
    * the count of samples at the int16 rails (|v| ≥ 32700), the clip
    * rate and a >1 % verdict, measured AFTER a real WAV write→decode
    * roundtrip so the container and codec are under the oracle too.
    * Clipped clips are PLANTED (doc_id % 23 takes gain 20, saturating at
    * ±32767; everyone else gain 8, max ±16 000) so both verdicts fire
    * every run; the oracle replays the formula with LEAST/GREATEST
    * clamps.
    *
    * Scale shape: one narrow synth→WAV→decode→count pass; one row per
    * clip. */
  def mClipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 1)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (1200 + (id % 3) * 400).toInt
        val gain = if (id % 23 == 0) 20L else 8L
        val samples = Array.tabulate(n) { i =>
          val base = (id * 7919L + i.toLong * 131L) % 4001L - 2000L
          math.max(math.min(base * gain, 32767L), -32767L).toShort
        }
        val wav = graft.multimodal.Audio.wavBytes(samples)
        val dec = graft.multimodal.Audio.pcmSamples(wav)
        val nClip = dec.count(v => math.abs(v.toInt) >= 32700).toLong
        (id, dec.length.toLong, nClip)
      })
      .toDF("doc_id", "n_samples", "n_clipped")
      .withColumn("clip_rate",
        col("n_clipped").cast("double") / col("n_samples").cast("double"))
      .withColumn("is_clipped", col("n_clipped") * 100 > col("n_samples"))
      .orderBy(col("doc_id"))
  }

  val mClippingSql: String =
    """WITH ids AS (SELECT doc_id, 1200 + (doc_id % 3) * 400 AS n,
      |               CASE WHEN doc_id % 23 = 0 THEN 20 ELSE 8 END AS gain
      |             FROM documents WHERE doc_id % 4 = 1),
      |v AS (SELECT doc_id, n,
      |        GREATEST(LEAST(((doc_id * 7919 + unnest(range(n)) * 131) % 4001 - 2000) * gain,
      |                 32767), -32767) AS v
      |      FROM ids),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_samples,
      |    CAST(SUM(CASE WHEN abs(v) >= 32700 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |  FROM v GROUP BY doc_id)
      |SELECT doc_id, n_samples, n_clipped,
      |  CAST(n_clipped AS DOUBLE) / CAST(n_samples AS DOUBLE) AS clip_rate,
      |  n_clipped * 100 > n_samples AS is_clipped
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- st_cep

  /** st_cep: COMPLEX-EVENT-PROCESSING first-match detection — the
    * Flink-CEP staple SELECT click -> purchase WITHIN 30min: each click
    * matches (and is consumed by) the FIRST purchase strictly after it
    * inside the window; purchases may close many clicks; unmatched
    * clicks expire silently. This is the batch face of
    * Streaming.cepBatch/cepStream — ONE shared in-order matcher whose
    * only carried state is the pending-click set, which is exactly what
    * bounds the streaming state to O(clicks-per-window) per user
    * (StreamingSpec proves the watermarked stream emits a subset of this
    * answer). The oracle replays the same semantics relationally:
    * first-purchase-after via a per-click row_number — provably equal
    * because first-match CEP with click-consumption IS "first B after
    * each A within T" when only Bs consume.
    *
    * Scale shape: ONE user-keyed shuffle; per-group work linear in the
    * user's event count with an O(window) working set. */
  def stCep(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.cepBatch(s, Tables.events(s, dir))
      .toDF().orderBy(col("a_id"))

  val stCepSql: String =
    """WITH c AS (
      |  SELECT event_id AS a_id, user_id, epoch_us(ts) AS a_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT event_id AS b_id, user_id, epoch_us(ts) AS b_us
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT c.user_id, c.a_id, p.b_id, p.b_us - c.a_us AS latency_us,
      |    ROW_NUMBER() OVER (PARTITION BY c.a_id ORDER BY p.b_us, p.b_id) AS rn
      |  FROM c JOIN p ON p.user_id = c.user_id
      |    AND p.b_us > c.a_us AND p.b_us < c.a_us + 1800000000)
      |SELECT user_id, a_id, b_id, latency_us FROM j WHERE rn = 1
      |ORDER BY a_id""".stripMargin

  // ------------------------------------------------------ m_subtitle_align

  /** Frame duration for the cut-time axis: frame_idx → ms. */
  private val AlignFrameMs = 200L

  /** m_subtitle_align: CAPTION/SCENE-CUT ALIGNMENT QC — the multimodal
    * join a video-curation pipeline runs before training on (clip,
    * caption) pairs: a subtitle cue that SPANS a scene cut usually
    * describes two different shots, the classic bad-pair signal
    * (caption-resync bugs also show up here first). Composes the two
    * derived modal frames — m_srt_parse's cue intervals and
    * m_scene_cut's histogram-L1 cuts on the 200 ms frame axis — through
    * an interval join, strictly inside the cue (a cut AT a boundary is
    * a clean transition).
    *
    * Parity: both inputs are already oracle-pinned derivations; times
    * and counts are exact integers; no floats anywhere.
    *
    * Scale shape: ONE doc-keyed join between two doc-bounded frames
    * (cues ≤3/doc, cuts ≤frames/doc), then a doc rollup — at 100 TB
    * this stays a co-partitioned same-key join, never a cross. */
  def mSubtitleAlign(s: SparkSession, dir: String): DataFrame = {
    val cues = mSrtParse(s, dir)
      .select(col("doc_id"), col("cue_idx"), col("start_ms"), col("end_ms"))
    val cuts = Modal.mSceneCut(s, dir)
      .filter(col("is_cut"))
      .select(col("doc_id"), (col("frame_idx") * lit(AlignFrameMs)).as("cut_ms"))
    val spanning = cues.join(cuts,
        Seq("doc_id"), "left")
      .withColumn("spans",
        col("cut_ms").isNotNull &&
          col("cut_ms") > col("start_ms") && col("cut_ms") < col("end_ms"))
      .groupBy(col("doc_id"), col("cue_idx"))
      .agg(sum(when(col("spans"), 1L).otherwise(0L)).as("n_cuts_inside"))
    spanning.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cues"),
        sum(col("n_cuts_inside")).as("n_cut_hits"),
        sum(when(col("n_cuts_inside") > 0, 1L).otherwise(0L)).as("n_spanning_cues"))
      .orderBy(col("doc_id"))
  }

  val mSubtitleAlignSql: String =
    s"""WITH cues AS ($mSrtParseSql),
       |allcuts AS (${graft.queries.Modal.mSceneCutSql}),
       |cuts AS (SELECT doc_id, frame_idx * $AlignFrameMs AS cut_ms
       |         FROM allcuts WHERE is_cut),
       |per_cue AS (
       |  SELECT c.doc_id, c.cue_idx,
       |    SUM(CASE WHEN k.cut_ms IS NOT NULL AND k.cut_ms > c.start_ms
       |             AND k.cut_ms < c.end_ms THEN 1 ELSE 0 END) AS n_cuts_inside
       |  FROM cues c LEFT JOIN cuts k ON k.doc_id = c.doc_id
       |  GROUP BY c.doc_id, c.cue_idx)
       |SELECT doc_id, COUNT(*) AS n_cues, CAST(SUM(n_cuts_inside) AS BIGINT) AS n_cut_hits,
       |  CAST(SUM(CASE WHEN n_cuts_inside > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_cues
       |FROM per_cue GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- st_holt

  /** st_holt: the ONLINE FORECASTER — Holt level+trend state per event
    * type over the hourly count series, the streaming twin of q_holt
    * (monthly revenue): a capacity/alerting stack keeps exactly this
    * (level, trend) pair per metric and updates it as each watermark
    * closes an hour. The batch face folds the full hourly series through
    * the SAME integer fold q_holt uses (counts are already exact
    * integers — no micro scaling needed); Streaming.holtStep is the
    * Scala twin of that fold, and StreamingSpec proves (a) twin == SQL
    * fold and (b) the carry property — folding a watermark-closed prefix
    * from a REAL stream and then the remainder equals folding everything
    * at once, which is what makes the online update correct.
    *
    * Scale shape: one (type, hour) count, one type-keyed bounded series
    * collect, per-row fold; state per metric is TWO integers. */
  def stHolt(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      .groupBy(col("event_type"), expr("ts_us div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(hour, n))), z -> z.n)").as("revs"))
      .filter(size(col("revs")) >= 2)
      .withColumn("st", expr(graft.queries.Events.holtFold))
      .select(col("event_type"), size(col("revs")).cast("long").as("n_hours"),
        col("st.level").as("level"), col("st.trend").as("trend"),
        (col("st.level") + col("st.trend")).as("f1"))
      .orderBy(col("event_type"))

  val stHoltSql: String = {
    import graft.queries.Events.{holtLevelM, holtTrendM}
    s"""WITH RECURSIVE hourly AS (
       |  SELECT event_type AS ty, epoch_us(ts) // 3600000000 AS hour, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |ser AS (
       |  SELECT ty, n, ROW_NUMBER() OVER (PARTITION BY ty ORDER BY hour) AS idx
       |  FROM hourly),
       |nn AS (SELECT ty, MAX(idx) AS n FROM ser GROUP BY ty),
       |st AS (
       |  SELECT s1.ty, CAST(1 AS BIGINT) AS idx, s1.n AS level, s2.n - s1.n AS trend
       |  FROM ser s1 JOIN ser s2 ON s2.ty = s1.ty AND s2.idx = 2
       |  WHERE s1.idx = 1
       |  UNION ALL
       |  SELECT s.ty, s.idx + 1,
       |    ${holtLevelM("v.n", "s.level", "s.trend", "//")},
       |    ${holtTrendM("v.n", "s.level", "s.trend", "//")}
       |  FROM st s JOIN ser v ON v.ty = s.ty AND v.idx = s.idx + 1)
       |SELECT st.ty AS event_type, nn.n AS n_hours, st.level, st.trend,
       |  st.level + st.trend AS f1
       |FROM st JOIN nn ON nn.ty = st.ty AND st.idx = nn.n
       |WHERE nn.n >= 2
       |ORDER BY event_type""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("st_holt", stHolt _, stHoltSql),
    Gate("m_subtitle_align", mSubtitleAlign _, mSubtitleAlignSql),
    Gate("m_clipping", mClipping _, mClippingSql),
    Gate("m_codec_matrix", mCodecMatrix _, mCodecMatrixSql),
    Gate("m_srt_parse", mSrtParse _, mSrtParseSql),
    Gate("m_png_meta", mPngMeta _, mPngMetaSql),
    Gate("m_hist_eq", mHistEq _, mHistEqSql),
    Gate("m_gif_frames", mGifFrames _, mGifFramesSql),
    Gate("m_patchify", mPatchify _, mPatchifySql),
    Gate("st_cep", stCep _, stCepSql),
  )
}
