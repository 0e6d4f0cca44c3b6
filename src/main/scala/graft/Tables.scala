package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ParquetConnector, StorageConnector}

/** Loaders for the driver's TPC-H-ish parquet testdata (see TESTDATA.md).
  *
  * Every operator in this library is a pure `DataFrame => DataFrame`
  * transform; storage is reached only through
  * [[graft.sources.StorageConnector]] (default: parquet), so swapping in
  * a real connector (e.g. MongoDB/GridFS, as the reference uses —
  * /root/reference/src/ingestion.py:17-20) replaces one factory method.
  * Scans stay fully declarative so Catalyst pushes filters and prunes
  * columns into the reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The connector for a data directory — the single swap point. */
  def connector(sfDir: String): StorageConnector = new ParquetConnector(sfDir)

  // Per-(session, dir, table) memo of the RESOLVED scan frame — the
  // catalog-table analog for these path-loaded tables (guide §6: file
  // listings are cached per session precisely so repeated scans skip
  // them). What is memoized is the lazy plan: file listing + parquet
  // footer schema inference happen once per session instead of once per
  // query construction (~2 loads × 229 queries × 4 bench passes,
  // each re-listing the directory and re-reading the footer on the
  // driver). Every execution still reads the parquet files — no data or
  // results are cached. Valid while the dir's fingerprint holds, and
  // cleared with the model memos (cold mode pays the listing again;
  // cycled sessions release their plans).
  private val frameMemo = graft.operators.Memos
    .memo[(SparkSession, String, String), DataFrame](k => fingerprint(k._1, k._2))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frameMemo((spark, sfDir, name)) {
      if (name == "events") adaptEventsTs(eventsRaw(spark, sfDir))
      else connector(sfDir).read(spark, name)
    }

  /** The contents of `dir` as a memo validity token: the sorted (path,
    * size, mtime) of every file under it (or of `dir` itself when it is
    * a file), listed through the Hadoop `FileSystem` API. A directory
    * rewritten in place gets a new fingerprint; a missing one has the
    * empty fingerprint. */
  def fingerprint(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap(st =>
      if (st.isDirectory) files(st.getPath) else Seq(st))
    try files(root).map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sorted.toVector
    catch { case _: java.io.FileNotFoundException => Vector.empty }
  }

  /** `events.ts` has shipped with different physical parquet types across
    * testdata generations: TIMESTAMP(NANOS) (Spark refuses → read as long
    * via the legacy flag, truncate to micros), plain timestamp[us] with no
    * timezone (loads as TIMESTAMP_NTZ), or timestamp[us] with UTC
    * (TimestampType). The legacy flag is harmless for non-nanos files, so
    * always set it, then adapt on the loaded Catalyst type. The session
    * timezone is UTC, so NTZ→TZ cast preserves the instant exactly.
    * DuckDB-side oracles use date_trunc/epoch_us buckets, which agree on
    * micros data. */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    connector(sfDir).read(spark, "events")
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events")

  /** Normalize whatever physical encoding this testdata generation uses
    * for `ts` to TimestampType (micros, UTC instant). Works on batch and
    * streaming DataFrames alike (dispatches on the Catalyst type only) —
    * streaming callers must declare the file's on-disk schema, then pass
    * the stream through here. */
  def adaptEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // NTZ→TZ cast interprets the wall-clock in the SESSION timezone;
        // the instant is preserved only under UTC. Every in-repo builder
        // pins UTC — fail loudly if a foreign caller didn't, instead of
        // silently shifting every event by its zone offset.
        val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"adaptEventsTs: TIMESTAMP_NTZ events require spark.sql.session.timeZone=UTC (got $tz)")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — extend Tables.adaptEventsTs for this testdata generation")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
