package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). Each call is a plain parquet scan: Catalyst
  * handles column pruning / predicate pushdown into the scan, so
  * callers should `select`/`filter` freely and let the optimizer
  * trim the read.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader shape (name -> DataFrame) is the only coupling, so swapping
  * `read.parquet(path)` for `spark.table(name)` is a one-line change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet FOOTER SCHEMA per (dir, table), inferred once per JVM
    * (r17, guide §6): a bare `read.parquet(path)` runs a one-task
    * schema-inference job on EVERY call, so each pass of each board
    * query paid 1-2 footer jobs (~40-90 ms warm, up to ~1.8 s cold)
    * before any real work — ~0.5-1 k pure-overhead jobs across a
    * bench sweep, the single largest fixed cost on a slow-dispatch
    * host. The schema is file metadata, invariant per (dir, table)
    * (the generator writes one layout per SF dir), so it is inferred
    * from the footer once and passed explicitly thereafter —
    * `read.schema(s).parquet(path)` plans NO inference job. Column
    * pruning / predicate pushdown are unaffected (same StructType the
    * inference returned; verified in the r17 plan dumps: ReadSchema /
    * PushedFilters unchanged). This caches METADATA only, never rows
    * — every query still computes from the parquet inputs. Keyed by
    * dir so sf0.001/sf0.01/sf0.1 and the split8 layouts coexist. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.types.StructType]

  /** The cached footer schema of `<dir>/<name>.parquet` — for callers
    * that need the raw schema without a scan (streaming sources read
    * with an explicit schema; a bare `read.parquet(path).schema` ran
    * a one-task inference job per streaming query before r18). */
  def rawSchema(spark: SparkSession, dir: String, name: String): org.apache.spark.sql.types.StructType = {
    load(spark, dir, name); schemaCache.get((dir, name))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // get-then-putIfAbsent (r17 ADVICE): the inference runs a Spark
    // job, and computeIfAbsent would hold the map's hash-bin lock for
    // the job's duration — unrelated (dir, table) keys colliding in a
    // bin would serialize their first loads under the concurrent
    // composite/base warmup. A rare duplicate inference is cheaper
    // than a serialized one.
    val key = (dir, name)
    val sch = schemaCache.get(key) match {
      case null =>
        val inferred = spark.read.parquet(path).schema
        val prev = schemaCache.putIfAbsent(key, inferred)
        if (prev == null) inferred else prev
      case cached => cached
    }
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in whatever physical form the generator
    * chose for the round — TIMESTAMP(NANOS) (which Spark's reader
    * rejects unless read as a long) or plain µs TIMESTAMP_NTZ — so
    * the loader normalizes to session-local TimestampType here,
    * matching a DuckDB `CAST(ts AS TIMESTAMP)`. */
  def events(s: SparkSession, d: String): DataFrame = {
    GraftSession.install(s)
    fixEventTs(load(s, d, "events"))
  }

  /** ts physical form -> TimestampType µs: ns-as-long truncates via
    * integer division (DuckDB's ns->µs cast semantics); TIMESTAMP_NTZ
    * casts losslessly (the session timezone is pinned to UTC in
    * [[GraftSession]], so the µs value is unchanged). */
  def fixEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
