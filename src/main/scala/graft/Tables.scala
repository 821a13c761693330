package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers over a scale-factor directory.
  *
  * All queries take the sf directory as a parameter so the driver can
  * point them at sf0.001 / sf0.01 / sf0.1 (and, on a real cluster, at
  * an object-store prefix holding the 100 TB layout). Reads are plain
  * `spark.read.parquet` so Catalyst keeps predicate pushdown + column
  * pruning on the scan.
  */
object Tables {
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  /** events.ts normalization — the generated parquet has carried two
    * physical shapes across rounds, both mapped to a UTC TIMESTAMP so
    * every consumer sees one type:
    *   - TIMESTAMP(NANOS), which Spark 4 refuses to read as a
    *     timestamp: read as raw nanos (legacy conf) and truncate to
    *     microseconds — the same floor DuckDB applies at `epoch_ms`
    *     granularity (`DIV` keeps the math in exact integer space; ns
    *     since 2024 overflows double's 2^53);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4
    *     infers as TIMESTAMP_NTZ (no unix_* functions): cast to
    *     TIMESTAMP_LTZ — the session timezone is pinned UTC
    *     (GraftSession), so the cast is identity on the stored micros
    *     and DuckDB's plain-timestamp epoch math agrees bit-for-bit. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      // derived copies (ScaleUp / Soak rewrites) already carry a
      // microsecond TIMESTAMP — only the raw testdata shapes convert
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Reader memo: `spark.read.parquet` pays a driver schema-inference
    * job (one parquet footer read) per CALL, and a query touching
    * three tables three times pays it nine times — a measured
    * ~30-50 ms of pure per-query floor at any scale. The logical
    * plan (including the resolved file index + schema) is immutable,
    * so memoize it per (session, dir/table); a rewritten dir gets a
    * new key (the harnesses write derived corpora to fresh dirs).
    *
    * In-place rewrites are detected by stamping the entry with the
    * table directory's mtime ([[mtime]]): an `overwrite` write
    * replaces the directory contents, bumping its mtime, so the next
    * read builds a fresh file index instead of serving the stale one
    * (one local stat per call — no Spark job). Paths a local stat
    * cannot see (object-store URIs on a real cluster) stamp 0 and keep
    * the immutable-dir contract; `SessionMemo.invalidate(s,
    * s"$dir/$name.parquet", "tables")` remains the explicit escape
    * hatch there. */
  private val readMemo = SessionMemo.named[DataFrame]("tables")

  /** mtime of `dir`'s `name` table — the cheap source fingerprint the
    * reader memo and the memos of artifacts derived from the table
    * stamp their entries with; 0 where a local stat cannot see. */
  private[graft] def mtime(dir: String, name: String): Long =
    try new java.io.File(s"$dir/$name.parquet").lastModified catch { case _: Exception => 0L }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    readMemo.getOrBuild(spark, path, mtime(dir, name)) {
      spark.read.parquet(path)
    }
  }
}
