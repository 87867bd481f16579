package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OracleParity.xsum
import graft.multimodal.Multimodal
import graft.streaming.Streaming
import graft.Ckpt._
import Similarity.cosSql

/** Multimodal + streaming query bindings (SURVEY.md §2F/§2G). */
object Modal {

  /** m_blob_stats: binary payloads + typed metadata, grouped stats. */
  def mBlobStats(s: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.asBlobs(Tables.documents(s, dir))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
    blobs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("n_bytes")).as("total_bytes"),
        countDistinct(md5(col("payload"))).as("n_distinct_payloads"))
      .orderBy(col("source"))
  }

  val mBlobStatsSql: String =
    """SELECT source, COUNT(*) AS n_blobs, CAST(SUM(octet_length(text::BLOB)) AS BIGINT) AS total_bytes,
      |  COUNT(DISTINCT md5(text)) AS n_distinct_payloads
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** m_frame_sample: per-partition batched frame decode (stubbed). The
    * oracle reproduces the frame math on the text (payloads are pure-ASCII
    * UTF-8, so byte offsets == char offsets — asserted in MultimodalSpec). */
  def mFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = Multimodal.asBlobs(Tables.documents(s, dir)).as[Multimodal.Blob]
    Multimodal.sampleFrames(blobs).toDF()
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_bytes").cast("long").as("frame_bytes"), col("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val mFrameSampleSql: String =
    """SELECT doc_id, fi AS frame_idx,
      |  least(64, length(text) - fi*64) AS frame_bytes,
      |  md5(substring(text, fi*64 + 1, least(64, length(text) - fi*64))) AS frame_md5
      |FROM (SELECT doc_id, text,
      |        unnest([i for i in range(0, (length(text)+63)//64) if i % 4 = 0]) AS fi
      |      FROM documents)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** m_resize: strided byte-domain downsample through the batched
    * per-partition transform (the resize plumbing; a pixel kernel swaps in
    * for the loop body). Oracle rebuilds the strided byte selection from
    * the ASCII text char-by-char. */
  def mResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // empty payloads are excluded on BOTH sides: the oracle's range-unnest
    // yields no rows for length 0 while the Scala path would emit one —
    // the filter pins identical semantics (and resizing nothing is no-op)
    val blobs = Multimodal.asBlobs(Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .filter(col("n_bytes") > 0)
      .as[Multimodal.Blob]
    Multimodal.resize(blobs, stride = 4).toDF()
      .orderBy(col("doc_id"))
  }

  val mResizeSql: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS orig_bytes,
      |  CAST((length(text) + 3) // 4 AS BIGINT) AS resized_bytes,
      |  md5(string_agg(c, '' ORDER BY i)) AS resized_md5
      |FROM (
      |  SELECT doc_id, text, i, substring(text, CAST(i * 4 + 1 AS INT), 1) AS c
      |  FROM (SELECT doc_id, text, unnest(range((length(text) + 3) // 4)) AS i
      |        FROM documents WHERE length(text) > 0))
      |GROUP BY doc_id, text ORDER BY doc_id""".stripMargin

  /** m_features_knn: multimodal × similarity composed END-TO-END — binary
    * payloads → REAL per-partition feature extraction (L1-normalized byte
    * histogram, no codec stub) → cosine top-3 neighbors via the k-bounded
    * KNN path. The oracle recomputes the histogram from character codes
    * (payloads are pure-ASCII UTF-8, so bytes == ords) and the cosine with
    * the same left-fold order. */
  def mFeaturesKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = Multimodal.asBlobs(Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .as[Multimodal.Blob]
    // corpus and query branches both consume the extraction — materialize
    // once (same reuse pattern as t_heavy_hitters' sketch row)
    val feats = Multimodal.byteHistogram(blobs).toDF().cpEager
    val queries = feats.filter(col("doc_id") % 100 === 0)
    graft.similarity.Knn.bruteForce(s, feats, queries, "doc_id", "features", k = 3)
      .orderBy(col("q_id"), col("rnk"))
  }

  val mFeaturesKnnSql: String =
    s"""WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents),
       |h AS (SELECT doc_id, ord(c) // 16 AS bin, COUNT(*) AS cnt FROM ch WHERE c <> '' GROUP BY 1, 2),
       |dense AS (
       |  SELECT d.doc_id, gs.bin, coalesce(h.cnt, 0) AS cnt, greatest(length(d.text), 1) AS n
       |  FROM documents d CROSS JOIN (SELECT unnest(range(16)) AS bin) gs
       |  LEFT JOIN h ON h.doc_id = d.doc_id AND h.bin = gs.bin),
       |feat AS (SELECT doc_id, list(CAST(cnt AS DOUBLE) / n ORDER BY bin) AS f
       |         FROM dense GROUP BY doc_id, n),
       |q AS (SELECT doc_id AS q_id, f AS qf FROM feat WHERE doc_id % 100 = 0),
       |scored AS (
       |  SELECT q_id, c.doc_id AS n_id, ${cosSql("qf", "c.f")} AS cos
       |  FROM q, feat c WHERE c.doc_id <> q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** m_audio: REAL audio decode → windowed DSP features, end-to-end with
    * an exact oracle — per document a deterministic PCM16 test signal
    * (s_i = ((doc_id·7919 + i·131) mod 4001 − 2000)·16, 1500 + 700·(doc_id
    * mod 5) samples) is containerized as a genuine WAV by the JDK audio
    * writer, decoded back through the SAME javax.sound stack every
    * production payload takes (header parse, PCM16 LE decode), and
    * reduced to per-1024-sample-window RMS + zero-crossing rate — the
    * speech/music/silence discriminators a curation pipeline filters on.
    * The oracle replays the features from the sample FORMULA, so any
    * drift in the container writer, the decoder, or the window math
    * breaks the hash. Scale shape: synthesis+decode+features are one
    * narrow mapPartitions pass (binary codecs are not expressions);
    * nothing shuffles until the presentation sort. */
  def mAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every 4th document carries audio (multimodal corpora are mixed);
    // the slice also bounds time under javax.sound's SPI registry, whose
    // provider lookup synchronizes globally across decoder threads
    val blobs = Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (1500 + (id % 5) * 700).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 7919L + i.toLong * 131L) % 4001L - 2000L) * 16L).toShort)
        val wav = graft.multimodal.Audio.wavBytes(samples)
        Multimodal.Blob(id, "audio/wav", wav.length.toLong, wav)
      })
    graft.multimodal.Audio.windowFeatures(blobs, samplesPerWindow = 1024).toDF()
      .select(col("doc_id"), col("window_idx").cast("long").as("window_idx"),
        col("n_samples").cast("long").as("n_samples"), col("rms"), col("zcr"))
      .orderBy(col("doc_id"), col("window_idx"))
  }

  /** Oracle: the sample formula unnested per doc, windowed by i/1024,
    * integer-exact sum of squares and lag-based sign-change counts, then
    * the same sqrt/division — every float op is the identical IEEE op on
    * the identical integers, so rms/zcr agree bitwise. */
  val mAudioSql: String =
    """WITH ids AS (SELECT doc_id, 1500 + (doc_id % 5) * 700 AS n
      |        FROM documents WHERE doc_id % 4 = 0),
      |v AS (SELECT doc_id, unnest(range(n)) AS i,
      |        ((doc_id * 7919 + unnest(range(n)) * 131) % 4001 - 2000) * 16 AS v
      |      FROM ids),
      |w AS (SELECT doc_id, i, v, i // 1024 AS wi,
      |        lag(v) OVER (PARTITION BY doc_id, i // 1024 ORDER BY i) AS pv
      |      FROM v)
      |SELECT doc_id, wi AS window_idx, COUNT(*) AS n_samples,
      |  sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) / 32768.0 AS rms,
      |  CASE WHEN COUNT(*) > 1
      |       THEN CAST(COUNT(*) FILTER (pv IS NOT NULL AND ((v < 0) <> (pv < 0))) AS DOUBLE)
      |            / (COUNT(*) - 1)
      |       ELSE 0.0 END AS zcr
      |FROM w GROUP BY doc_id, wi
      |ORDER BY doc_id, window_idx""".stripMargin

  /** m_audio_fp: AUDIO near-dup dedup by acoustic fingerprint — the
    * multimodal sibling of m_phash_neardup for the ear: re-mastered /
    * volume-normalized copies of one recording must collide while
    * distinct material separates. The corpus plants the exact scenario:
    * audio docs pair up (doc_id 8k with 8k+4) on the SAME base signal at
    * different gains (×16 vs ×15 sample scaling — a uniform remaster),
    * every pair must land in one fingerprint group. The whole path is
    * under the gate: WAV container write, javax.sound decode, integer
    * window energies, the energy-delta sign fold (Audio.fingerprints —
    * gain-invariant because energies scale by exactly s²), one keyed
    * collapse to groups. Scale shape: synthesis+decode+fingerprint are
    * one narrow mapPartitions pass; the only shuffle carries 16-byte
    * (doc, fp) rows — the dedup-signature budget, never audio. */
  def mAudioFp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val base = (id / 8L) * 8L
        val scale = if (id % 8L == 4L) 15L else 16L
        val n = (1500L + (base % 5L) * 700L).toInt
        val samples = Array.tabulate(n)(i =>
          (((base * 7919L + i.toLong * 131L) % 4001L - 2000L) * scale).toShort)
        val wav = graft.multimodal.Audio.wavBytes(samples)
        Multimodal.Blob(id, "audio/wav", wav.length.toLong, wav)
      })
    graft.multimodal.Audio.fingerprints(blobs, samplesPerWindow = 128).toDF()
      .groupBy(col("fp"), col("n_windows"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_docs") >= 2)
      .select(col("canonical_id"), col("fp"), col("n_windows"), col("n_docs"))
      .orderBy(col("canonical_id"))
  }

  /** Oracle: the paired-signal formula unnested, integer window energies,
    * lag-sign fold to the fingerprint word, same group collapse. */
  val mAudioFpSql: String =
    """WITH ids AS (
      |  SELECT doc_id, (doc_id // 8) * 8 AS b,
      |    CASE WHEN doc_id % 8 = 4 THEN 15 ELSE 16 END AS sc
      |  FROM documents WHERE doc_id % 4 = 0),
      |p AS (SELECT doc_id, b, sc, 1500 + (b % 5) * 700 AS n FROM ids),
      |v AS (SELECT doc_id, i // 128 AS wi,
      |        ((b * 7919 + i * 131) % 4001 - 2000) * sc AS v
      |      FROM (SELECT doc_id, b, sc, unnest(range(n)) AS i FROM p)),
      |e AS (SELECT doc_id, wi, SUM(v * v) AS e FROM v GROUP BY doc_id, wi),
      |d AS (SELECT doc_id, wi, e,
      |        lag(e) OVER (PARTITION BY doc_id ORDER BY wi) AS pe FROM e),
      |f AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_windows,
      |        CAST(COALESCE(SUM(CASE WHEN pe IS NOT NULL AND e > pe
      |          THEN (1::BIGINT << CAST(wi - 1 AS INT)) ELSE 0 END), 0) AS BIGINT) AS fp
      |      FROM d GROUP BY doc_id)
      |SELECT MIN(doc_id) AS canonical_id, fp, n_windows, COUNT(*) AS n_docs
      |FROM f GROUP BY fp, n_windows
      |HAVING COUNT(*) >= 2 ORDER BY canonical_id""".stripMargin

  /** m_vad: voice-activity segmentation over the synthetic audio corpus —
    * every 4th document carries a WAV whose windows alternate
    * deterministically between silence (exact zeros) and tone bursts
    * ((doc_id + window) mod 3 envelope), so the segmenter must find real
    * run boundaries. The whole path is under the gate: WAV container
    * write, JDK decode, integer-exact window features, RMS threshold,
    * gaps-and-islands run collapse. */
  def mVad(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (1500 + (id % 5) * 700).toInt
        val samples = Array.tabulate(n) { i =>
          if ((id + i / 1024) % 3 != 0)
            (((id * 7919L + i.toLong * 131L) % 4001L - 2000L) * 16L).toShort
          else 0.toShort
        }
        val wav = graft.multimodal.Audio.wavBytes(samples)
        Multimodal.Blob(id, "audio/wav", wav.length.toLong, wav)
      })
    graft.multimodal.Audio.vadSegments(blobs, samplesPerWindow = 1024, rmsThreshold = 0.1)
      .toDF().orderBy(col("doc_id"), col("seg_idx"))
  }

  /** Oracle: envelope formula unnested, windowed RMS with the identical
    * IEEE ops (so the 0.1 threshold compares identically), the same
    * two-row-number island collapse. */
  val mVadSql: String =
    """WITH ids AS (SELECT doc_id, 1500 + (doc_id % 5) * 700 AS n
      |        FROM documents WHERE doc_id % 4 = 0),
      |v AS (SELECT doc_id, i,
      |        CASE WHEN (doc_id + i // 1024) % 3 <> 0
      |             THEN ((doc_id * 7919 + i * 131) % 4001 - 2000) * 16
      |             ELSE 0 END AS v
      |      FROM (SELECT doc_id, unnest(range(n)) AS i FROM ids)),
      |w AS (SELECT doc_id, i // 1024 AS wi,
      |        sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) / 32768.0 AS rms
      |      FROM v GROUP BY doc_id, wi),
      |a AS (SELECT doc_id, wi, rms >= 0.1 AS active,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi)
      |        - ROW_NUMBER() OVER (PARTITION BY doc_id, rms >= 0.1 ORDER BY wi) AS grp
      |      FROM w),
      |s AS (SELECT doc_id, active, MIN(wi) AS win_from, MAX(wi) AS win_to,
      |        COUNT(*) AS n_windows
      |      FROM a GROUP BY doc_id, active, grp)
      |SELECT doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win_from) - 1 AS seg_idx,
      |  active, win_from, win_to, n_windows
      |FROM s ORDER BY doc_id, seg_idx""".stripMargin

  /** st_hourly: the streaming windowed aggregation, batch-applied (the same
    * transformation runs under a watermark in StreamingSpec). */
  def stHourly(s: SparkSession, dir: String): DataFrame =
    Streaming.hourlyAgg(Tables.events(s, dir), withWatermark = false)
      .orderBy(col("hour_start_us"), col("event_type"))

  val stHourlySql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us, event_type,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start_us, event_type""".stripMargin

  /** st_enrich: stream-static enrichment — events joined to a static user
    * dimension (derived deterministically here: segment = user_id % 4),
    * then the hourly windowed rollup per segment. Batch face of
    * Streaming.enrichedHourly; the streaming run (real stream + static
    * parquet dim, broadcast join, watermarked agg) is spec'd in
    * StreamingSpec. */
  def stEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), col("user_id") % 4))
    Streaming.enrichedHourly(ev, dim, withWatermark = false)
      .orderBy(col("hour_start_us"), col("segment"))
  }

  val stEnrichSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us,
      |  'seg_' || (user_id % 4) AS segment, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start_us, segment""".stripMargin

  /** st_anomaly: the STREAMING METRIC-ANOMALY monitor's batch face —
    * Streaming.anomalyFlags run over the odd-epoch-day slice against a
    * baseline built from the even days (the deterministic stand-in for
    * "history vs live": hour-of-day patterns repeat daily, so the parity
    * split is a fair baseline and needs no corpus-dependent constant).
    * Flags are the exact integer band rule — see the operator doc;
    * StreamingSpec proves the watermarked stream emits a subset of this
    * batch answer. Scale shape: one windowed count (the stream's only
    * state) + a &#124;types&#124;×24-row broadcast baseline. */
  def stAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us2", expr("(ts div 1000)"))
    val day = expr("ts_us2 div 86400000000")
    val baseline = ev.filter(day % 2 === 0)
      .select(col("event_type"), expr("(ts_us2 div 3600000000) % 24").as("hod"), day.as("d"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("base_tot"), countDistinct(col("d")).as("base_days"))
    Streaming.anomalyFlags(ev.filter(day % 2 === 1).drop("ts_us2"),
        baseline, withWatermark = false)
      .orderBy(col("hour_start_us"), col("event_type"))
  }

  val stAnomalySql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
      |base AS (
      |  SELECT event_type, (us // 3600000000) % 24 AS hod,
      |    COUNT(*) AS base_tot, COUNT(DISTINCT us // 86400000000) AS base_days
      |  FROM e WHERE (us // 86400000000) % 2 = 0 GROUP BY 1, 2),
      |live AS (
      |  SELECT event_type, (us // 3600000000) * 3600000000 AS hour_start_us, COUNT(*) AS n
      |  FROM e WHERE (us // 86400000000) % 2 = 1 GROUP BY 1, 2)
      |SELECT hour_start_us, l.event_type, n, base_tot, base_days,
      |  (n * base_days * 2 < base_tot OR n * base_days * 2 > base_tot * 3) AS is_anomaly
      |FROM live l JOIN base b
      |  ON l.event_type = b.event_type AND (l.hour_start_us // 3600000000) % 24 = b.hod
      |ORDER BY hour_start_us, l.event_type""".stripMargin

  private val TopK = 3

  /** st_topk: per-hour top-k event types — the trending-now shape. Batch
    * face of Streaming.hourlyTopK (the streaming path ranks each
    * watermark-closed window in foreachBatch; StreamingSpec proves parity). */
  def stTopk(s: SparkSession, dir: String): DataFrame =
    Streaming.hourlyTopK(
      Streaming.hourlyAgg(Tables.events(s, dir), withWatermark = false), TopK)
      .orderBy(col("hour_start_us"), col("rnk"))

  val stTopkSql: String =
    s"""WITH c AS (
       |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us,
       |    event_type, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT hour_start_us, event_type, n, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_start_us
       |    ORDER BY n DESC, event_type) AS rnk FROM c)
       |WHERE rnk <= $TopK ORDER BY hour_start_us, rnk""".stripMargin

  /** st_sliding: sliding-window aggregation (2 h windows advancing hourly)
    * — every event lands in two windows; the oracle materializes both
    * window starts per event and re-aggregates. Streaming parity in
    * StreamingSpec. */
  def stSliding(s: SparkSession, dir: String): DataFrame =
    Streaming.slidingAgg(Tables.events(s, dir), withWatermark = false)
      .orderBy(col("win_start_us"), col("event_type"))

  val stSlidingSql: String =
    """SELECT ws AS win_start_us, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM (SELECT event_type, value,
      |        unnest([(epoch_us(ts) // 3600000000 - 1) * 3600000000,
      |                (epoch_us(ts) // 3600000000) * 3600000000]) AS ws
      |      FROM events)
      |GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin

  /** st_stateful: typed sessionization (same per-group logic as the
    * flatMapGroupsWithState streaming path) — oracled by the window-based
    * SQL formulation, proving the two formulations agree. */
  def stStateful(s: SparkSession, dir: String): DataFrame =
    Streaming.sessionizeBatch(s, Tables.events(s, dir)).toDF()
      .orderBy(col("user_id"), col("session_idx"))

  /** st_session_window: Spark's NATIVE session_window operator (streaming-
    * capable gap sessionization) — oracled against the window-function
    * formulation, proving the two agree. */
  def stSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  /** The lag/sum formulation of the same sessions (gap semantics of
    * session_window: a session extends while consecutive gaps are < 30min —
    * note STRICT inequality, unlike q_sessionize's `> gap` split). */
  val stSessionWindowSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1
      |         WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), u AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM t
      |)
      |SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, COUNT(*) AS n_events
      |FROM u GROUP BY user_id, session_idx ORDER BY user_id, start_us""".stripMargin

  /** st_interval_join: the stream-stream interval join, batch-applied
    * (StreamingSpec runs it with watermarks on two real streams). */
  def stIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Streaming.purchaseClickJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      withWatermark = false)
      .orderBy(col("p_id"), col("c_id"))
  }

  val stIntervalJoinSql: String =
    """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS user_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
      | AND epoch_us(c.ts) <= epoch_us(p.ts)
      |ORDER BY p_id, c_id""".stripMargin

  /** st_outer_join: stream-stream LEFT OUTER interval join — the
    * attribution-with-nulls shape: every purchase appears, matched to its
    * preceding-hour clicks or with NULL click columns when none exist.
    * The subtle streaming semantics (an unmatched row may only emit once
    * the watermark proves its window closed) are pinned by
    * StreamingSpec's outer parity test; this gate checks the batch face
    * against the oracle's LEFT JOIN replay. Same watermark-bounded state
    * story as the inner join. */
  def stOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Streaming.purchaseClickJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      withWatermark = false, joinType = "left_outer")
      .orderBy(col("p_id"), col("c_id"))
  }

  val stOuterJoinSql: String =
    """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS user_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
      | AND epoch_us(c.ts) <= epoch_us(p.ts)
      |ORDER BY p_id, c_id""".stripMargin

  /** st_dedup: exact dedup of an at-least-once event feed — 10% of events
    * "redelivered" (unioned back in), then one-row-per-event_id dedup must
    * restore the original stream exactly. Batch face of
    * Streaming.dedupStream (watermarked state dedup, spec'd in
    * StreamingSpec); the oracle aggregates the ORIGINAL table, so equality
    * proves the dedup removed precisely the duplicates. */
  def stDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val atLeastOnce = ev.unionAll(ev.filter(col("event_id") % 10 === 0))
    Streaming.dedupBatch(atLeastOnce)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        xsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val stDedupSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  private val ShardBudget = 8192L

  /** m_shard: webdataset-style shard packing — blobs first-fit into
    * byte-budgeted shards per source, never split across shards (the tar-
    * shard contract; t_pack is the splitting, token-level counterpart).
    * Runs through Multimodal.shardAssign's flatMapSortedGroups fold; the
    * oracle replays the same recurrence as a per-source recursive CTE. */
  def mShard(s: SparkSession, dir: String): DataFrame = {
    // one scan: shardAssign only needs (group, doc_id, n_bytes) — joining
    // asBlobs back to documents for `source` would pay a second scan plus
    // a join carrying the payload column for nothing
    val blobs = Tables.documents(s, dir).select(col("source"), col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
    Multimodal.shardAssign(blobs, "source", ShardBudget).toDF()
      .orderBy(col("source"), col("doc_id"))
  }

  val mShardSql: String =
    s"""WITH RECURSIVE b AS (
       |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
       |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents),
       |pl AS (
       |  SELECT source, doc_id, n_bytes, rn, 0::BIGINT AS shard_idx, 0::BIGINT AS offset_bytes
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT b.source, b.doc_id, b.n_bytes, b.rn,
       |    CASE WHEN p.offset_bytes + p.n_bytes > 0
       |           AND p.offset_bytes + p.n_bytes + b.n_bytes > $ShardBudget
       |         THEN p.shard_idx + 1 ELSE p.shard_idx END,
       |    CASE WHEN p.offset_bytes + p.n_bytes > 0
       |           AND p.offset_bytes + p.n_bytes + b.n_bytes > $ShardBudget
       |         THEN 0 ELSE p.offset_bytes + p.n_bytes END
       |  FROM b JOIN pl p ON b.source = p.source AND b.rn = p.rn + 1)
       |SELECT source, doc_id, n_bytes, shard_idx, offset_bytes
       |FROM pl ORDER BY source, doc_id""".stripMargin

  /** Histogram-difference cut threshold: consecutive 64-byte frames of
    * the same "scene" differ by a few counts; a genuine content change
    * moves a large fraction of the 64 bytes across bins. */
  private val SceneCutDiff = 40L

  /** m_scene_cut: shot-boundary detection — the classic histogram-
    * difference detector over the consecutive-frame stream: per-frame
    * byte histograms (Multimodal.frameHistograms, the batched decode
    * seam), one lag window per video, and an integer L1 distance between
    * adjacent frames; a cut is a distance above threshold. Integer counts
    * end-to-end, so the gate is exact across engines. Scale shape: one
    * narrow mapPartitions pass emits 16-long count rows, the only shuffle
    * is the per-video window — at 100 TB the video id is the partition
    * key and per-group state is one previous histogram. */
  def mSceneCut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val blobs = Multimodal.asBlobs(Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .filter(col("n_bytes") > 0)
      .as[Multimodal.Blob]
    val fh = Multimodal.frameHistograms(blobs).toDF()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    fh.withColumn("prev", lag(col("counts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("hist_diff",
        expr("aggregate(zip_with(counts, prev, (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("hist_diff"), (col("hist_diff") > SceneCutDiff).as("is_cut"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Oracle: rebuild the per-frame histograms from character codes (ASCII
    * payloads: ord == byte, asserted in MultimodalSpec) and the same lag
    * + L1. */
  val mSceneCutSql: String =
    s"""WITH fr AS (
       |  SELECT doc_id, fi, substring(text, CAST(fi*64 + 1 AS INT), 64) AS f
       |  FROM (SELECT doc_id, text, unnest(range((length(text)+63)//64)) AS fi
       |        FROM documents WHERE length(text) > 0)),
       |ch AS (SELECT doc_id, fi, ord(c) // 16 AS bin
       |       FROM (SELECT doc_id, fi, unnest(string_split_regex(f, '')) AS c FROM fr)
       |       WHERE c <> ''),
       |h AS (SELECT doc_id, fi, bin, COUNT(*) AS cnt FROM ch GROUP BY 1, 2, 3),
       |dense AS (
       |  SELECT fr.doc_id, fr.fi, gs.bin, coalesce(h.cnt, 0) AS cnt
       |  FROM fr CROSS JOIN (SELECT unnest(range(16)) AS bin) gs
       |  LEFT JOIN h ON h.doc_id = fr.doc_id AND h.fi = fr.fi AND h.bin = gs.bin),
       |hist AS (SELECT doc_id, fi, list(cnt ORDER BY bin) AS counts FROM dense GROUP BY 1, 2),
       |lagd AS (SELECT doc_id, fi, counts,
       |           lag(counts) OVER (PARTITION BY doc_id ORDER BY fi) AS prev FROM hist)
       |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
       |  CAST(list_sum([abs(counts[i+1] - prev[i+1]) for i in range(0, 16)]) AS BIGINT) AS hist_diff,
       |  CAST(list_sum([abs(counts[i+1] - prev[i+1]) for i in range(0, 16)]) AS BIGINT) > $SceneCutDiff AS is_cut
       |FROM lagd WHERE prev IS NOT NULL
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** m_keyframe: keyframe extraction — the per-SCENE sampling artifact a
    * video-curation pipeline actually consumes (one representative frame
    * per shot, not one per second): frame 0 of each video plus every
    * frame that starts a new shot (the m_scene_cut boundary), each tagged
    * with its ordinal scene index. Rides the same per-video window as the
    * cut detection — scene numbering is a running keyframe count, so the
    * composition costs no extra shuffle. */
  def mKeyframe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val blobs = Multimodal.asBlobs(Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .filter(col("n_bytes") > 0)
      .as[Multimodal.Blob]
    val fh = Multimodal.frameHistograms(blobs).toDF()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fh.withColumn("prev", lag(col("counts"), 1).over(w))
      .withColumn("hist_diff", when(col("prev").isNotNull,
        expr("aggregate(zip_with(counts, prev, (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)")))
      .withColumn("is_key", col("prev").isNull || col("hist_diff") > SceneCutDiff)
      .withColumn("scene_idx",
        sum(when(col("is_key"), 1L).otherwise(0L)).over(run) - 1L)
      .filter(col("is_key"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("scene_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Oracle: the m_scene_cut CTE chain, keyframes = frame 0 + cut frames,
    * scene index = per-video keyframe ordinal. */
  val mKeyframeSql: String =
    s"""WITH fr AS (
       |  SELECT doc_id, fi, substring(text, CAST(fi*64 + 1 AS INT), 64) AS f
       |  FROM (SELECT doc_id, text, unnest(range((length(text)+63)//64)) AS fi
       |        FROM documents WHERE length(text) > 0)),
       |ch AS (SELECT doc_id, fi, ord(c) // 16 AS bin
       |       FROM (SELECT doc_id, fi, unnest(string_split_regex(f, '')) AS c FROM fr)
       |       WHERE c <> ''),
       |h AS (SELECT doc_id, fi, bin, COUNT(*) AS cnt FROM ch GROUP BY 1, 2, 3),
       |dense AS (
       |  SELECT fr.doc_id, fr.fi, gs.bin, coalesce(h.cnt, 0) AS cnt
       |  FROM fr CROSS JOIN (SELECT unnest(range(16)) AS bin) gs
       |  LEFT JOIN h ON h.doc_id = fr.doc_id AND h.fi = fr.fi AND h.bin = gs.bin),
       |hist AS (SELECT doc_id, fi, list(cnt ORDER BY bin) AS counts FROM dense GROUP BY 1, 2),
       |lagd AS (SELECT doc_id, fi, counts,
       |           lag(counts) OVER (PARTITION BY doc_id ORDER BY fi) AS prev FROM hist),
       |keyed AS (
       |  SELECT doc_id, fi,
       |    (prev IS NULL OR
       |     CAST(list_sum([abs(counts[i+1] - prev[i+1]) for i in range(0, 16)]) AS BIGINT) > $SceneCutDiff) AS is_key
       |  FROM lagd)
       |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS BIGINT) - 1 AS scene_idx
       |FROM keyed WHERE is_key
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** m_phash_neardup: IMAGE near-duplicate dedup end-to-end — the last
    * spec-only dedup modality promoted to a gate (the m_audio pattern:
    * container writer, codec and hash math all under the gate). Every 4th
    * document synthesizes a REAL PNG (JDK ImageIO writer): an 8×8
    * gray-block raster whose on/off cells are the md5 bits of its pair
    * group g = doc_id/8, with the group's second member (doc_id%8 == 4)
    * flipping two cells — a near-duplicate at Hamming 2. The engine
    * decodes through javax.imageio, computes the 64-bit average-hash
    * (Multimodal.averageHash: luma, integer mean, threshold bits) and
    * retrieves pairs through the SAME SimHash pigeonhole machinery as
    * text (SimHashDedup.pairsFromSignatures). The oracle replays the
    * raster formula, the aHash arithmetic (gray luma = v exactly:
    * (299+587+114)v/1000) and a brute-force rep retrieval (equal to the
    * pigeonhole banding, which is complete for Hamming ≤ 3).
    *
    * Scale shape: synthesis+decode+hash are one narrow mapPartitions
    * pass; retrieval is the banding equality join — linear per bucket,
    * hamming-0 cliques collapse to rep stars. */
  /** The synthetic PNG corpus both image gates share: every 4th doc, an
    * 8×8 gray-block raster whose on/off cells are the md5 bits of the
    * pair group g = doc_id/8, the group's second member flipping two
    * cells — real PNG bytes via the JDK ImageIO writer. */
  private def synthPngBlobs(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Multimodal.Blob] = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val g = id / 8
          md.reset()
          val hex = md.digest(g.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val h1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
          val h2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
          def bit(j: Int): Boolean =
            if (j < 32) ((h1 >> j) & 1L) == 1L else ((h2 >> (j - 32)) & 1L) == 1L
          val variant = id % 8 == 4
          val img = new java.awt.image.BufferedImage(8, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < 64) {
            val on = bit(j) ^ (variant && j < 2)
            val v = if (on) 220 else 30
            img.setRGB(j % 8, j / 8, (v << 16) | (v << 8) | v)
            j += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val png = bos.toByteArray
          Multimodal.Blob(id, "image/png", png.length.toLong, png)
        }
      }
  }

  def mPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val sigs = Multimodal.perceptualHashes(synthPngBlobs(s, dir)).toDF()
    graft.dedup.SimHashDedup.pairsFromSignatures(sigs, "doc_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** m_resize_px: REAL pixel-domain resize — decode the synthetic PNGs
    * and 2×2 integer average-pool the 8×8 luma raster to 4×4 (the
    * deterministic box filter; Graphics2D bilinear is implementation-
    * defined and would not replay). Output fingerprints the pooled
    * pixels, so the PNG writer, the imageio decode and the pooling
    * kernel all sit under the oracle, which replays the pool from the
    * raster formula. This is the honest version of m_resize's
    * byte-stride stub: the kernel really runs on decoded pixels. One
    * narrow mapPartitions pass; nothing shuffles until the sort. */
  def mResizePx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    synthPngBlobs(s, dir).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { b =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b.payload))
          if (img == null || img.getWidth != 8 || img.getHeight != 8) None
          else {
            def luma(x: Int, y: Int): Int = {
              val rgb = img.getRGB(x, y)
              ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            }
            val pooled = (0 until 16).map { q =>
              val px = q % 4; val py = q / 4
              (luma(2 * px, 2 * py) + luma(2 * px + 1, 2 * py) +
                luma(2 * px, 2 * py + 1) + luma(2 * px + 1, 2 * py + 1)) / 4
            }
            md.reset()
            val digest = md.digest(pooled.mkString(",").getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            Some((b.doc_id, 8, 8, 4, 4, pooled.sum.toLong, digest))
          }
        } catch { case _: Exception => None }
      }
    }.toDF("doc_id", "in_w", "in_h", "out_w", "out_h", "pooled_sum", "pooled_md5")
      .orderBy(col("doc_id"))
  }

  /** Oracle: the raster formula pooled with the same integer math;
    * string_agg in q order replays the digest input exactly. */
  val mResizePxSql: String =
    """WITH ids AS (SELECT doc_id, doc_id // 8 AS g, (doc_id % 8 = 4) AS variant
      |             FROM documents WHERE doc_id % 4 = 0),
      |bits AS (SELECT doc_id, variant,
      |    ('0x' || substr(md5(CAST(g AS VARCHAR)), 1, 8))::BIGINT AS h1,
      |    ('0x' || substr(md5(CAST(g AS VARCHAR)), 9, 8))::BIGINT AS h2
      |  FROM ids),
      |lum AS (SELECT doc_id, j,
      |    CASE WHEN ((CASE WHEN j < 32 THEN (h1 >> j) & 1
      |                     ELSE (h2 >> (j - 32)) & 1 END) = 1)
      |              <> (variant AND j < 2)
      |         THEN 220 ELSE 30 END AS v
      |  FROM bits, (SELECT unnest(range(64)) AS j) js),
      |pooled AS (
      |  SELECT doc_id, ((j // 8) // 2) * 4 + ((j % 8) // 2) AS q,
      |    CAST(SUM(v) // 4 AS BIGINT) AS pv
      |  FROM lum GROUP BY 1, 2)
      |SELECT doc_id, 8 AS in_w, 8 AS in_h, 4 AS out_w, 4 AS out_h,
      |  CAST(SUM(pv) AS BIGINT) AS pooled_sum,
      |  md5(string_agg(CAST(pv AS VARCHAR), ',' ORDER BY q)) AS pooled_md5
      |FROM pooled GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Oracle: raster → luma → integer mean → threshold bits → rep collapse
    * → brute-force Hamming ≤ 3 pairs (= the pigeonhole retrieval). */
  val mPhashNeardupSql: String =
    """WITH ids AS (SELECT doc_id, doc_id // 8 AS g, (doc_id % 8 = 4) AS variant
      |             FROM documents WHERE doc_id % 4 = 0),
      |bits AS (SELECT doc_id, variant,
      |    ('0x' || substr(md5(CAST(g AS VARCHAR)), 1, 8))::BIGINT AS h1,
      |    ('0x' || substr(md5(CAST(g AS VARCHAR)), 9, 8))::BIGINT AS h2
      |  FROM ids),
      |lum AS (SELECT doc_id, j,
      |    CASE WHEN ((CASE WHEN j < 32 THEN (h1 >> j) & 1
      |                     ELSE (h2 >> (j - 32)) & 1 END) = 1)
      |              <> (variant AND j < 2)
      |         THEN 220 ELSE 30 END AS v
      |  FROM bits, (SELECT unnest(range(64)) AS j) js),
      |hv AS (SELECT doc_id, j, v, SUM(v) OVER (PARTITION BY doc_id) // 64 AS m FROM lum),
      |-- bit 63 is the sign bit: 1<<63 overflows DuckDB's checked BIGINT
      |-- shift, so it contributes the Long.MIN_VALUE constant instead;
      |-- bits are disjoint, so the (HUGEINT) sum IS the signed 64-bit
      |-- word and casts back losslessly
      |sim AS (SELECT doc_id,
      |    CAST(COALESCE(SUM(CASE WHEN v > m THEN
      |      (CASE WHEN j = 63 THEN -9223372036854775807 - 1
      |            ELSE (1::BIGINT << CAST(j AS INT)) END) ELSE 0 END), 0) AS BIGINT) AS simhash
      |  FROM hv GROUP BY doc_id),
      |reps AS (SELECT simhash, MIN(doc_id) AS rep_id FROM sim GROUP BY simhash),
      |star AS (SELECT r.rep_id AS a_id, s.doc_id AS b_id, 0 AS hamming
      |         FROM sim s JOIN reps r ON s.simhash = r.simhash
      |         WHERE s.doc_id <> r.rep_id),
      |crossp AS (SELECT a_id, b_id, hamming FROM (
      |            SELECT a.rep_id AS a_id, b.rep_id AS b_id,
      |              CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |            FROM reps a JOIN reps b ON a.rep_id < b.rep_id)
      |          WHERE hamming <= 3)
      |SELECT a_id, b_id, hamming FROM (SELECT * FROM star UNION ALL SELECT * FROM crossp)
      |ORDER BY a_id, b_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("m_phash_neardup", mPhashNeardup _, mPhashNeardupSql),
    Gate("m_resize_px", mResizePx _, mResizePxSql),
    Gate("m_scene_cut", mSceneCut _, mSceneCutSql),
    Gate("m_keyframe", mKeyframe _, mKeyframeSql),
    Gate("m_shard", mShard _, mShardSql),
    Gate("m_audio", mAudio _, mAudioSql),
    Gate("m_audio_fp", mAudioFp _, mAudioFpSql),
    Gate("m_vad", mVad _, mVadSql),
    Gate("st_sliding", stSliding _, stSlidingSql),
    Gate("st_topk", stTopk _, stTopkSql),
    Gate("st_enrich", stEnrich _, stEnrichSql),
    Gate("st_anomaly", stAnomaly _, stAnomalySql),
    Gate("st_dedup", stDedup _, stDedupSql),
    Gate("st_interval_join", stIntervalJoin _, stIntervalJoinSql),
    Gate("st_outer_join", stOuterJoin _, stOuterJoinSql),
    Gate("st_session_window", stSessionWindow _, stSessionWindowSql),
    Gate("m_blob_stats", mBlobStats _, mBlobStatsSql),
    Gate("m_frame_sample", mFrameSample _, mFrameSampleSql),
    Gate("m_features_knn", mFeaturesKnn _, mFeaturesKnnSql),
    Gate("m_resize", mResize _, mResizeSql),
    Gate("st_hourly", stHourly _, stHourlySql),
    Gate("st_stateful", stStateful _, Events.qSessionizeSql),
  )
}
