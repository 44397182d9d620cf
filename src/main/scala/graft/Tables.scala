package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loaders for the driver-generated test data
  * (TESTDATA.md). Column pruning and filter pushdown happen in
  * Catalyst from the operator's projection.
  *
  * Schemas are resolved once per JVM. A bare `spark.read.parquet`
  * starts a Spark job to read a footer and infer the schema, and
  * every operator call loads its inputs afresh, so each call would
  * pay that job again. `load` instead memoizes the inferred schema
  * and reads with `spark.read.schema(memoized).parquet(path)`, which
  * builds the DataFrame without running a job. The memo stores only
  * what inference produced, so plans, rows and field metadata are
  * unchanged.
  *
  * An entry is keyed by the qualified path and the session's parquet
  * schema-inference confs (`spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*`, e.g. `nanosAsLong`), and it is valid
  * only for the path's leaf-file listing as (path, length, mtime) at
  * inference time. A rewritten table changes that listing and is
  * inferred again; a session with different confs gets its own entry.
  * Failures are never memoized: a missing path raises Spark's own
  * `PATH_NOT_FOUND`, and a later load after the files appear infers
  * normally.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type Listing = Seq[(String, Long, Long)]

  /** (qualified path, inference confs) -> (leaf listing, schema). */
  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[(String, String)]), (Listing, StructType)]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  private def schema(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val listing: Option[Listing] =
      try {
        val files = fs.listFiles(p, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (files.hasNext) {
          val f = files.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(b.result().sorted)
      } catch { case _: java.io.FileNotFoundException => None }
    listing match {
      case None => infer // a missing path raises Spark's PATH_NOT_FOUND
      case Some(files) =>
        val key = (fs.makeQualified(p).toString,
          spark.conf.getAll.toSeq.filter { case (k, _) =>
            k.startsWith("spark.sql.parquet.") ||
              k.startsWith("spark.sql.legacy.parquet.")
          }.sorted)
        schemas.get(key) match {
          case Some((`files`, s)) => s
          case _ =>
            val s = infer
            schemas.put(key, (files, s))
            s
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    * reader only accepts as a raw long (spark.sql.legacy.parquet
    * .nanosAsLong=true — set by Verify/Bench/specs). Normalize to a
    * proper TimestampType at microsecond precision so operators stay
    * type-uniform. Integer DIV, not double division: epoch-ns
    * (~1.7e18) exceeds double's 2^53 exact-integer range.
    *
    * Ingest hygiene: an event without a timestamp or a key is
    * unusable for event-time semantics (null ts can't bin/window/
    * watermark; null user_id would NPE the typed streaming encoder) —
    * drop such rows AT THE LOADER so every downstream operator sees
    * the same cleaned stream. The oracles apply the identical WHERE.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val normalized = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // e.g. files rewritten by engines that write NTZ micros; with
        // the session clock pinned to UTC the instant is unchanged,
        // and watermarks demand TimestampType.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    normalized.filter(col("ts").isNotNull && col("user_id").isNotNull)
  }

  /** Epoch microseconds of any timestamp flavor (NTZ casts through the
    * session clock — keep spark.sql.session.timeZone=UTC for oracle
    * parity).
    */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
