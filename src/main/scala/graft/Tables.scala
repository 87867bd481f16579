package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * All read-side access funnels through here: one place for source options
  * and, on a real cluster, for bucketing / locality hints. Reads are plain
  * parquet scans so Catalyst pushes filters and prunes columns into the scan.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** A table read with its schema given, so no load starts Spark's
    * schema-inference job (one `parquet` job per read, run serially on the
    * driver's thread). A single file's schema is resolved once per file
    * identity — path, size, modification time — and per value of the
    * session confs that change how parquet types map to Spark types; a
    * file rewritten in place has a new size or mtime and is inferred
    * afresh. Directories (written by Spark, many part files) are read with
    * inference as before. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.isFile(hp)) spark.read.parquet(p)
    else {
      val st = fs.getFileStatus(hp)
      val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime,
        SchemaConfs.map(k => spark.conf.getOption(k)))
      val schema = Option(schemas.get(key)).getOrElse {
        val inferred = spark.read.parquet(p).schema
        schemas.putIfAbsent(key, inferred)
        inferred
      }
      spark.read.schema(schema).parquet(p)
    }
  }

  private final case class SchemaKey(path: String, size: Long, mtime: Long,
      confs: Seq[Option[String]])

  /** Session confs that change the schema parquet inference produces. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, org.apache.spark.sql.types.StructType]()

  def region(s: SparkSession, dir: String): DataFrame   = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  /** events.ts normalizes to epoch-NANOSECOND Longs whatever the parquet
    * physical type: TIMESTAMP(NANOS) loads as a nanos Long behind the
    * legacy flag (set defensively here in case the session builder
    * didn't); TIMESTAMP(MICROS/MILLIS) loads as a timestamp and converts
    * exactly (sessions run UTC, matching DuckDB's zoneless epoch_us on
    * the oracle side). Every consumer sees the same BIGINT-nanos `ts`. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
