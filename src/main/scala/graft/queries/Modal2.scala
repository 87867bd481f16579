package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Round-11 multimodal additions (SURVEY.md §2F): letterbox/border
  * detection, per-channel color statistics, and channel-separated stereo
  * audio features. All three follow the m_resize_px / m_audio contract —
  * a deterministic synthetic corpus goes through a REAL container writer
  * and the REAL JDK codec, and the DuckDB oracle replays the generating
  * formula, so writer + codec + feature math are all hash-checked. */
object Modal2 {

  // ----------------------------------------------------------- m_letterbox

  /** m_letterbox: LETTERBOX / uniform-border detection — the video/image
    * curation step that crops black bars before any visual model sees the
    * frame (borders poison both perceptual hashes and feature stats):
    * synthetic 8×8 grayscale PNGs carry a planted hb-row uniform border
    * top AND bottom (hb = doc_id/4 mod 3, value 12) around md5-bit
    * interior rows (30/220); detection decodes the PNG and reports
    * top/bottom runs of single-valued rows — top_border = first
    * non-uniform row index (8 if none), bottom_border = rows below the
    * last non-uniform one — plus the surviving crop height. The rule is
    * pure pixel arithmetic, replayed row-for-row by the oracle from the
    * generating formula, so an off-by-one in decode or detection breaks
    * the hash.
    *
    * Scale shape: one narrow mapPartitions decode pass; output is one row
    * per image. */
  def mLetterbox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 1)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          md.reset()
          val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val h1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
          val h2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
          def bit(j: Int): Boolean =
            if (j < 32) ((h1 >> j) & 1L) == 1L else ((h2 >> (j - 32)) & 1L) == 1L
          val hb = ((id / 4) % 3).toInt
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < 64) {
            val y = j / 8
            val v = if (y < hb || y >= 8 - hb) 12 else if (bit(j)) 220 else 30
            img.setRGB(j % 8, y, (v << 16) | (v << 8) | v)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val decoded = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          if (decoded == null) None
          else {
            def lum(x: Int, y: Int): Int = decoded.getRGB(x, y) & 0xff
            def uniform(y: Int): Boolean = (1 until 8).forall(x => lum(x, y) == lum(0, y))
            val nonUniform = (0 until 8).filterNot(uniform)
            val (tb, bb) =
              if (nonUniform.isEmpty) (8L, 0L)
              else (nonUniform.min.toLong, (7 - nonUniform.max).toLong)
            Some((id, tb, bb, 8L - tb - bb))
          }
        }
      }.toDF("doc_id", "top_border", "bottom_border", "crop_h")
      .orderBy(col("doc_id"))
  }

  val mLetterboxSql: String =
    """WITH ids AS (SELECT doc_id, (doc_id // 4) % 3 AS hb
      |             FROM documents WHERE doc_id % 4 = 1),
      |bits AS (SELECT doc_id, hb,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h1,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT AS h2
      |  FROM ids),
      |lum AS (SELECT doc_id, j // 8 AS y, j % 8 AS x,
      |    CASE WHEN (j // 8) < hb OR (j // 8) >= 8 - hb THEN 12
      |         WHEN (CASE WHEN j < 32 THEN (h1 >> j) & 1
      |                    ELSE (h2 >> (j - 32)) & 1 END) = 1 THEN 220
      |         ELSE 30 END AS v
      |  FROM bits, (SELECT unnest(range(64)) AS j) js),
      |rows_u AS (SELECT doc_id, y, COUNT(DISTINCT v) AS nv FROM lum GROUP BY 1, 2),
      |nu AS (SELECT doc_id, MIN(y) AS mn, MAX(y) AS mx
      |       FROM rows_u WHERE nv > 1 GROUP BY doc_id)
      |SELECT i.doc_id,
      |  CAST(COALESCE(nu.mn, 8) AS BIGINT) AS top_border,
      |  CAST(CASE WHEN nu.mn IS NULL THEN 0 ELSE 7 - nu.mx END AS BIGINT) AS bottom_border,
      |  CAST(8 - COALESCE(nu.mn, 8)
      |     - CASE WHEN nu.mn IS NULL THEN 0 ELSE 7 - nu.mx END AS BIGINT) AS crop_h
      |FROM ids i LEFT JOIN nu ON nu.doc_id = i.doc_id
      |ORDER BY i.doc_id""".stripMargin

  // ----------------------------------------------------------- m_rgb_stats

  /** m_rgb_stats: per-channel COLOR STATISTICS from real decoded rasters —
    * the color-cast / duplicate-screenshot signal image curation keeps
    * beside perceptual hashes (a corpus whose red mass drifts has a
    * rendering change upstream): synthetic 4×4 RGB PNGs (channel nibbles
    * from disjoint md5 hex windows, ×17 to span 0..255), decoded via
    * javax.imageio, reduced to exact integer channel sums and the
    * dominant channel (r ≥ g ≥ b tie order). Container writer, codec and
    * channel unpack are all under the oracle, which replays the nibble
    * formula.
    *
    * Scale shape: one narrow mapPartitions decode pass; one row per
    * image. */
  def mRgbStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 2)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { id =>
          md.reset()
          val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
          def nib(p: Int): Int = Integer.parseInt(hex.substring(p, p + 1), 16)
          val img = new java.awt.image.BufferedImage(4, 4,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < 16) {
            val r = nib(j) * 17
            val g = nib(j + 16) * 17
            val b = (nib(j) ^ nib(j + 16)) * 17
            img.setRGB(j % 4, j / 4, (r << 16) | (g << 8) | b)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val decoded = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          if (decoded == null) None
          else {
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < 4) {
              var x = 0
              while (x < 4) {
                val rgb = decoded.getRGB(x, y)
                sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            val dom = if (sr >= sg && sr >= sb) "r" else if (sg >= sb) "g" else "b"
            Some((id, sr, sg, sb, dom))
          }
        }
      }.toDF("doc_id", "sum_r", "sum_g", "sum_b", "dominant")
      .orderBy(col("doc_id"))
  }

  val mRgbStatsSql: String =
    """WITH ids AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
      |             FROM documents WHERE doc_id % 4 = 2),
      |px AS (SELECT doc_id,
      |    ('0x' || substr(hx, j + 1, 1))::BIGINT * 17 AS r,
      |    ('0x' || substr(hx, j + 17, 1))::BIGINT * 17 AS g,
      |    xor(('0x' || substr(hx, j + 1, 1))::BIGINT,
      |        ('0x' || substr(hx, j + 17, 1))::BIGINT) * 17 AS b
      |  FROM ids, (SELECT unnest(range(16)) AS j) js),
      |sums AS (SELECT doc_id, SUM(r) AS sum_r, SUM(g) AS sum_g, SUM(b) AS sum_b
      |         FROM px GROUP BY doc_id)
      |SELECT doc_id, CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
      |  CAST(sum_b AS BIGINT) AS sum_b,
      |  CASE WHEN sum_r >= sum_g AND sum_r >= sum_b THEN 'r'
      |       WHEN sum_g >= sum_b THEN 'g' ELSE 'b' END AS dominant
      |FROM sums ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- m_stereo

  /** m_stereo: CHANNEL-SEPARATED stereo audio features — the channel-
    * balance / dead-channel monitor an audio ingest keeps (a podcast
    * corpus where one channel went silent mid-crawl is a real failure
    * mode): deterministic independent L/R integer signals → a REAL
    * stereo WAV container (L/R interleaved frames, JDK writer) → the
    * channel-AWARE decoder (Audio.pcmChannels — no downmix) → per
    * channel the exact integer |sample| mass and pinned RMS, plus the
    * L/R balance ratio as one pinned division. Both the interleaved
    * frame layout and the channel split are under the oracle, which
    * replays the two sample formulas.
    *
    * Scale shape: synth→WAV→decode→reduce in one narrow mapPartitions
    * pass; one row per clip — nothing sample-sized leaves executors. */
  def mStereo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 3)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val n = (1000 + (id % 4) * 500).toInt
        val left = Array.tabulate(n)(i =>
          (((id * 7919L + i.toLong * 131L) % 4001L - 2000L) * 16L).toShort)
        val right = Array.tabulate(n)(i =>
          (((id * 104729L + i.toLong * 257L) % 4001L - 2000L) * 8L).toShort)
        val wav = graft.multimodal.Audio.wavStereoBytes(left, right)
        val chans = graft.multimodal.Audio.pcmChannels(wav)
        if (chans.length != 2) None
        else {
          def mass(a: Array[Short]): Long = { var s0 = 0L; a.foreach(v => s0 += math.abs(v.toLong)); s0 }
          def sq(a: Array[Short]): Long = { var s0 = 0L; a.foreach(v => s0 += v.toLong * v.toLong); s0 }
          val (ml, mr) = (mass(chans(0)), mass(chans(1)))
          val (ql, qr) = (sq(chans(0)), sq(chans(1)))
          val nn = chans(0).length
          Some((id, nn.toLong, ml, mr,
            math.sqrt(ql.toDouble / nn) / 32768.0,
            math.sqrt(qr.toDouble / nn) / 32768.0,
            ml.toDouble / math.max(mr, 1L).toDouble))
        }
      }).toDF("doc_id", "n_samples", "abs_l", "abs_r", "rms_l", "rms_r", "balance")
      .orderBy(col("doc_id"))
  }

  val mStereoSql: String =
    """WITH ids AS (SELECT doc_id, 1000 + (doc_id % 4) * 500 AS n
      |             FROM documents WHERE doc_id % 4 = 3),
      |v AS (SELECT doc_id, n,
      |    ((doc_id * 7919 + unnest(range(n)) * 131) % 4001 - 2000) * 16 AS l,
      |    ((doc_id * 104729 + unnest(range(n)) * 257) % 4001 - 2000) * 8 AS r
      |  FROM ids),
      |agg AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
      |    SUM(abs(l)) AS abs_l, SUM(abs(r)) AS abs_r,
      |    SUM(l * l) AS ql, SUM(r * r) AS qr
      |  FROM v GROUP BY doc_id)
      |SELECT doc_id, n_samples, CAST(abs_l AS BIGINT) AS abs_l, CAST(abs_r AS BIGINT) AS abs_r,
      |  sqrt(CAST(ql AS DOUBLE) / n_samples) / 32768.0 AS rms_l,
      |  sqrt(CAST(qr AS DOUBLE) / n_samples) / 32768.0 AS rms_r,
      |  CAST(abs_l AS DOUBLE) / CAST(greatest(abs_r, 1) AS DOUBLE) AS balance
      |FROM agg ORDER BY doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("m_letterbox", mLetterbox _, mLetterboxSql),
    Gate("m_rgb_stats", mRgbStats _, mRgbStatsSql),
    Gate("m_stereo", mStereo _, mStereoSql),
  )
}
