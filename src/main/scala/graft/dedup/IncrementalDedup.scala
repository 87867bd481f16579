package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental fuzzy dedup against a PERSISTED signature store — the
  * realistic 100 TB ingest shape: the corpus is deduped once, its MinHash
  * band keys land on disk, and every subsequent batch (a new crawl dump)
  * pays only O(|batch|) signature work plus one band-key equality join —
  * the corpus text is never re-read, let alone re-hashed, per ingest.
  *
  * Store layout: `path/bands` parquet of (doc_id, bk) — fixed-width band
  * keys, ~Bands rows per document; a sliver of the corpus bytes. At scale,
  * lay the store out bucketed on `bk` (bucketBy in a catalog) so the probe
  * join shuffles only the batch side; the plain-parquet layout here still
  * never rescans corpus TEXT, which is the dominant cost.
  *
  * Appends commit at DIRECTORY granularity: each batch's bands are written
  * to a staging subdir with their own job commit, then ONE atomic rename
  * moves the whole directory into the live layout as a `batch=<uuid>`
  * partition. Either the entire batch's bands are visible or none are —
  * no assumption that a document's band rows share a part file — and a
  * re-run after a crash anti-joins away the ids that made it in, so
  * retries converge with neither duplicates nor holes.
  */
object IncrementalDedup {

  private def bandsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    MinHashLsh.banded(MinHashLsh.signatures(docs, idCol, textCol), Seq(col(idCol).as("doc_id")))

  /** The live band table: part files under `bands/batch=&#42;` — the batch
    * partition column is layout bookkeeping, never read. */
  private def readBands(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/bands").select(col("doc_id"), col("bk"))

  /** Dedup store bootstrap: band keys for the existing corpus. */
  def buildStore(docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    bandsOf(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/bands/batch=base")

  /** Crashed staging attempts older than this are garbage-collected by the
    * next append — generous enough that no live writer's staging job still
    * runs when its dir becomes eligible. */
  val StagingGcMs: Long = 6 * 60 * 60 * 1000L

  /** Ingest a batch's band keys into the store (crash-safe, idempotent).
    * Call AFTER probing the batch so a document never pairs with itself.
    *
    * Concurrency: each attempt stages under its OWN uuid dir, so two
    * concurrent appends never clobber each other's in-flight files; stale
    * dirs from crashed attempts are GC'd by age instead of by name. Two
    * concurrent appends that BOTH carry the same new doc_id can still each
    * pass the anti-join and land duplicate band rows — harmless for
    * retrieval (probe() distincts candidate pairs) and folded away by the
    * next compact(); the anti-join guarantees exactly-once only per
    * serialized replay, which is the crash-retry contract. */
  def appendToStore(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    // GC stale staging dirs (crashed append OR compact attempts) by age —
    // never by name, a fixed name would race a live concurrent writer
    if (fs.exists(base)) {
      val cutoff = System.currentTimeMillis() - StagingGcMs
      fs.listStatus(base).foreach { st =>
        if (st.getPath.getName.startsWith("_staging_") &&
            st.getModificationTime < cutoff) fs.delete(st.getPath, true)
      }
    }
    val staging = new Path(s"$path/_staging_append_${java.util.UUID.randomUUID()}")
    val existing = readBands(spark, path).select(col("doc_id").as(idCol)).distinct()
    val fresh = batch.join(existing, Seq(idCol), "left_anti")
    if (fresh.isEmpty) return // fully-replayed batch: nothing fresh to land
    bandsOf(fresh, idCol, textCol).write.mode("overwrite").parquet(staging.toString)
    // one atomic directory rename commits the WHOLE batch or nothing
    val live = new Path(s"$path/bands/batch=${java.util.UUID.randomUUID()}")
    require(fs.rename(staging, live), s"rename $staging -> $live failed")
  }

  /** Fold the accreted `batch=<uuid>` partitions into ONE compacted batch —
    * per-ingest appends otherwise accrete directories (and small files)
    * forever, which at 100 TB means listing pressure and a task per sliver.
    *
    * The store stays READABLE at every instant: the folded rows land first
    * as a new `batch=compact-<uuid>` partition through the same staging +
    * atomic-rename commit as appendToStore, and the source partitions are
    * deleted only afterwards. A crash before the rename leaves the old
    * layout untouched (stale staging GC'd by age); a crash between the
    * rename and the deletes leaves old+new visible — duplicate (doc_id, bk)
    * rows, which probe() distincts away and the next compact() folds (the
    * fold itself distincts). Only partitions present at snapshot time are
    * folded, so a concurrent append's partition is never touched.
    *
    * Concurrency caveat: the source batch= partitions are deleted as soon
    * as the folded partition is committed, so a concurrent probe that
    * LISTED files before the delete can fail mid-job with
    * FileNotFoundException — the store is crash-consistent at every
    * instant, but an in-flight reader racing a compact should simply
    * retry (or compacts can be scheduled in a reader quiet window).
    *
    * @return number of source partitions folded (0 = nothing to do). */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    val bandsDir = new Path(s"$path/bands")
    val fs = bandsDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(bandsDir)) return 0
    val parts = fs.listStatus(bandsDir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
    if (parts.length <= 1) return 0
    val bytes = parts.map(st => fs.getContentSummary(st.getPath).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val folded = spark.read.parquet(parts.map(_.getPath.toString): _*)
      .select(col("doc_id"), col("bk")).distinct()
      .repartition(nFiles, col("bk")).sortWithinPartitions("bk")
    val staging = new Path(s"$path/_staging_compact_${java.util.UUID.randomUUID()}")
    folded.write.mode("overwrite").option("compression", "zstd").parquet(staging.toString)
    val live = new Path(s"$path/bands/batch=compact-${java.util.UUID.randomUUID()}")
    require(fs.rename(staging, live), s"rename $staging -> $live failed")
    parts.foreach(st => fs.delete(st.getPath, true))
    parts.length
  }

  /** Export the band table as a bucketBy(bk) CATALOG table — the README's
    * scale lever: against a catalog-bucketed store, the probe join shuffles
    * ONLY the batch side; the corpus side reads pre-bucketed on bk with no
    * exchange (ScaleToolsSpec proves the shape for bucketed joins). Pair
    * with probeTable. */
  def compactToBucketedTable(spark: SparkSession, path: String,
      table: String, buckets: Int): Unit =
    readBands(spark, path).write.mode("overwrite")
      .bucketBy(buckets, "bk").sortBy("bk")
      .option("compression", "zstd").format("parquet").saveAsTable(table)

  /** Shared probe body, bucket-size-adaptive like MinHashLsh: store bands
    * at or below MaxAllPairsBucket members surface EVERY non-self corpus
    * member as a candidate (full recall — a true near-dup is never
    * shadowed by a smaller-id collider that fails verification), while a
    * hot store band of m boilerplate docs contributes only the MIN
    * non-self corpus id per (batch doc, band) — one witness, not m pair
    * rows (the probe-side twin of the star expansion). The hot-tier min
    * rides a partial aggregation directly on the bk-partitioned join
    * output, so in-bucket cross rows are consumed map-side and never
    * shuffle; excluding self keeps re-ingests quiet without losing the
    * witness to a self-collision. */
  private def probeBands(batchBands: DataFrame, stored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = stored.withColumn("__n",
      count(lit(1)).over(Window.partitionBy(col("bk"))))
    val joined = batchBands.join(sized, Seq("bk"))
      .filter(col("corpus_id") =!= col("batch_id"))
    val small = joined.filter(col("__n") <= MinHashLsh.MaxAllPairsBucket)
      .select(col("batch_id"), col("corpus_id"))
    val hot = joined.filter(col("__n") > MinHashLsh.MaxAllPairsBucket)
      .groupBy(col("batch_id"), col("bk"))
      .agg(min(col("corpus_id")).as("corpus_id"))
      .select(col("batch_id"), col("corpus_id"))
    small.union(hot).distinct()
  }

  /** probe() against a bucketed catalog store (compactToBucketedTable). */
  def probeTable(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    probeBands(
      bandsOf(batch, idCol, textCol).select(col("doc_id").as("batch_id"), col("bk")),
      spark.table(table).select(col("doc_id").as("corpus_id"), col("bk")))

  /** Candidate near-dup witnesses between a new batch and the stored
    * corpus: (batch_id, corpus_id), distinct — per batch doc, up to one
    * witness per band (see probeBands). Signature work touches ONLY the
    * batch; the corpus contributes pre-computed band keys from disk. */
  def probe(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    probeBands(
      bandsOf(batch, idCol, textCol).select(col("doc_id").as("batch_id"), col("bk")),
      readBands(spark, path).select(col("doc_id").as("corpus_id"), col("bk")))
}
