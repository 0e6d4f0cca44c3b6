package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ImageOps
import graft.operators.{Chunking, Relational}

/** The reference's full ETL (E1 ingest → E2 transform/curate,
  * the reference's src/etl_museum_gridfs.py) as DataFrame transforms.
  * Every pass is a pure function over immutable snapshot tables — the
  * reference's point updates/deletes
  * (transform_load.py:34-43,62-70,116-119,135-142) become recompute +
  * overwrite, per SURVEY.md §7.4.
  *
  * [[ingest]] and [[transform]] each return several frames that share
  * one expensive input (the fetched rows; the decoded-and-transformed
  * images). Each runs one job up front that materializes that input with
  * `localCheckpoint()` and returns frames over the materialized result,
  * so a caller writing all of them fetches and transforms each image
  * once, like the reference (transform_load.py:74-125), not once per
  * write. The other passes stay lazy.
  *
  * Scale posture: no driver-side materialization anywhere (the reference
  * does `list(find({}))` twice — transform_load.py:25,76): checkpoint
  * blocks stay on the executors; image bytes stay executor-side; joins
  * are key-equi and Catalyst/AQE pick broadcast vs shuffle; dedup is one
  * shuffle on `object_id`.
  *
  * `localCheckpoint` cuts lineage: a lost checkpoint block is not
  * recomputed, and a job reading it fails loudly instead. The blocks are
  * freed by Spark's `ContextCleaner` once the returned frames are
  * unreachable.
  */
object MuseumPipeline {

  /** Fields subject to the C1 "NA" clean (transform_load.py:23). Note
    * `department` is deliberately absent — the reference doesn't clean it. */
  val FieldsToClean: Seq[String] = Seq("artist", "culture", "period", "object_date", "medium")

  /** Deterministic 24-hex id in ObjectId format (X3). The reference uses
    * `str(ObjectId())` (ingestion.py:60); we derive from the business key
    * so re-runs and tests are reproducible. */
  def hexId(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(seed.cast("string")), 1, 24)

  /** E1 — ingest (ingestion.py:23-98).
    *
    * @param objects MET-API-shaped rows: objectID, title, artistDisplayName,
    *                department, culture, period, objectDate, medium,
    *                primaryImage, status (FIXTURES.md A4; HTTP layer is a
    *                local fixture in the zero-egress env)
    * @param images  (url, bytes, status) fetch results
    * @param maxDownloads L1 early-stop — applied AFTER the success
    *                filters, matching the reference's count-successes loop
    * @return (artwork_metadata, fs_files, fs_chunks)
    */
  def ingest(objects: DataFrame, images: DataFrame, maxDownloads: Int = 20)
      : (DataFrame, DataFrame, DataFrame) = {
    // one fetch for the files, the chunks and the metadata: a live fetcher
    // would otherwise download each image once per output, and could
    // store a file whose chunks came from a different download
    val fetched = fetch(objects, images, maxDownloads).localCheckpoint()

    val blobs = fetched.select(
      col("gridfs_file_id").as("_id"),
      concat(col("objectID").cast("string"), lit(".jpg")).as("filename"), // X1 (ingestion.py:65)
      col("bytes").as("data"))
    val (files, chunks) = Chunking.gridfsPut(blobs)                       // K1

    val metadata = fetched.select(                                        // P1 (ingestion.py:70-83)
      hexId(concat(col("__seed"), lit("_meta"))).as("_id"),
      hexId(concat(col("__seed"), lit("_meta"))).as("doc_id"),
      col("objectID").cast("long").as("object_id"),
      col("title"),
      col("artistDisplayName").as("artist"),
      col("department"),
      col("culture"),
      col("period"),
      col("objectDate").as("object_date"),
      col("medium"),
      lit("The MET Museum API").as("source"),                             // constant-folded literal
      col("gridfs_file_id"),
      current_timestamp().as("created_at"),                               // X2
      lit(null).cast("string").as("transformed_gridfs_file_id"),
      lit(null).cast("string").as("split"))
    (metadata, files, chunks)                                             // K2: caller writes
  }

  /** The relation [[ingest]] materializes: the fetched rows that pass
    * F1–F3 and F6, at most `maxDownloads` of them, with their derived ids. */
  private[pipeline] def fetch(objects: DataFrame, images: DataFrame, maxDownloads: Int)
      : DataFrame =
    objects
      .filter(col("status") === 200)                                     // F1
      .filter(length(trim(coalesce(col("primaryImage"), lit("")))) > 0)  // F2 (Python truthiness: "" excluded)
      .join(images.filter(col("status") === 200),                        // F3 via inner join
        col("primaryImage") === col("url"), "inner")
      .filter(col("bytes").isNotNull)                                    // F6: failed download drops row
      // The reference mints a fresh ObjectId per ingested row
      // (ingestion.py:60); we derive from (objectID, primaryImage) so the
      // id is deterministic yet distinct for duplicate objectIDs arriving
      // via different URLs.
      .withColumn("__seed", concat(col("objectID").cast("string"), lit("|"), col("primaryImage")))
      .withColumn("gridfs_file_id", hexId(col("__seed")))
      .select("objectID", "title", "artistDisplayName", "department", "culture", "period",
        "objectDate", "medium", "primaryImage", "bytes", "__seed", "gridfs_file_id")
      // L1: filter-then-limit. Ordered first: limit on an unordered frame
      // picks an arbitrary subset (varies with partitioning/AQE), which
      // would undercut the deterministic derived ids. The ids are derived
      // before the limit so that sort+limit is the plan's root and plans
      // as TakeOrderedAndProject (per-partition top-k + merge, no exchange
      // over a single partition), not a global sort that shuffles every
      // fetched image. The reference's sequential loop is id-ordered too
      // (ingestion.py:38).
      .orderBy(col("objectID"), col("primaryImage"))
      .limit(maxDownloads)

  /** E2 pass 1 — C1 clean (transform_load.py:21-43): one vectorized
    * select replaces the reference's N+1 update loop. */
  def clean(metadata: DataFrame): DataFrame =
    Relational.cleanNa(metadata, FieldsToClean)

  /** E2 pass 2 — dedup (transform_load.py:45-72): keep-first per
    * object_id with the deterministic (created_at, _id) tiebreak the
    * reference lacks (SURVEY §0.3). Returns (kept, victims); victims
    * drive the GridFS delete (K4) via [[deleteFiles]]. */
  def dedup(metadata: DataFrame): (DataFrame, DataFrame) = {
    val kept = Relational.keepFirst(metadata, Seq("object_id"),
      Seq(col("created_at"), col("_id")))
    val victims = metadata.join(kept.select("_id"), Seq("_id"), "left_anti")
    (kept, victims)
  }

  /** K4 — delete a victim set's blobs from a GridFS bucket by anti-join.
    * Returns one file per `_id`: ids derive from (objectID, primaryImage)
    * (X3), so ingesting the same object under the same URL twice stores
    * two catalog rows under one id; the earliest upload is kept. */
  def deleteFiles(files: DataFrame, chunks: DataFrame, victimFileIds: DataFrame)
      : (DataFrame, DataFrame) = {
    val keptFiles = Relational.keepFirst(
      files.join(victimFileIds.withColumnRenamed(victimFileIds.columns.head, "__vid"),
        col("_id") === col("__vid"), "left_anti"),
      Seq("_id"), Seq(col("uploadDate"), col("length")))
    val keptChunks = chunks.join(keptFiles.select(col("_id").as("__fid")),
      col("files_id") === col("__fid"), "left_semi")
    (keptFiles, keptChunks)
  }

  /** E2 pass 3 — transform (transform_load.py:74-125).
    *
    * F4 idempotency + F5 FK-present filters, J1/J2 joins, A3 reassembly,
    * I1–I4 image UDF (failure ⇒ row dropped, F6), K5 transformed-bucket
    * put, K6 lineage update. One job materializes [[kernel]]; all three
    * outputs read it, so each image is decoded once per call.
    * @return (updated metadata, fs_transformed_files, fs_transformed_chunks)
    */
  def transform(metadata: DataFrame, files: DataFrame, chunks: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // F6 sits above the checkpoint: below it, Catalyst would push
    // `isnotnull(UDF(data))` under the projection and run the kernel twice
    val transformed = kernel(metadata, files, chunks).localCheckpoint()
      .filter(col("tbytes").isNotNull)                                    // F6: undecodable ⇒ dropped

    val tBlobs = transformed.select(
      col("t_id").as("_id"),
      concat(col("object_id").cast("string"), lit("_transformed.jpg")).as("filename"), // transform_load.py:108
      col("tbytes").as("data"))
    val (tFiles, tChunks) = Chunking.gridfsPut(tBlobs)                    // K5

    val updated = metadata
      .join(transformed.select(col("_id").as("__mid"), col("t_id")),
        col("_id") === col("__mid"), "left_outer")                        // K6 as recompute
      .withColumn("transformed_gridfs_file_id",
        coalesce(col("transformed_gridfs_file_id"), col("t_id")))
      .drop("__mid", "t_id")
    (updated, tFiles, tChunks)
  }

  /** The relation [[transform]] materializes: (`_id`, `object_id`, `t_id`,
    * `tbytes`) for every not-yet-transformed row whose file is present,
    * `tbytes` null where the image does not decode. Its plan evaluates the
    * image UDF once per row. */
  private[pipeline] def kernel(metadata: DataFrame, files: DataFrame, chunks: DataFrame)
      : DataFrame = {
    val todo = metadata
      .filter(col("transformed_gridfs_file_id").isNull)                   // F4 (re-run safety)
      .filter(col("gridfs_file_id").isNotNull)                            // F5
    // F4/F5 below A3: reassemble only the files this pass transforms
    val wanted = chunks.join(todo.select(col("gridfs_file_id").as("__tid")),
      col("files_id") === col("__tid"), "left_semi")
    val blobs = Chunking.reassemble(wanted)                               // J2 + A3
    todo
      .join(files.select(col("_id").as("__fid")),
        col("gridfs_file_id") === col("__fid"), "left_semi")              // J1; dangling FK ⇒ dropped (F6)
      .join(blobs, col("gridfs_file_id") === col("files_id"), "inner")
      .select(col("_id"), col("object_id"),
        hexId(concat(col("object_id"), lit("_transformed"))).as("t_id"),
        ImageOps.transformImage(col("data")).as("tbytes"))                // I1–I4
  }

  /** E2 pass 4 — M1/M2 split labels, 64/16/20 (SURVEY §0.2). Applied to
    * the WHOLE table deterministically, fixing the reference's artifact
    * where re-runs leave old rows unlabeled (SURVEY §3 E2 note). */
  def split(metadata: DataFrame): DataFrame =
    metadata.withColumn("split", Relational.splitLabel(col("object_id")))

  /** Full E1→E2 orchestration (etl_museum_gridfs.py). Returns every final
    * table keyed by the reference's collection names. */
  def run(spark: SparkSession, objects: DataFrame, images: DataFrame,
          maxDownloads: Int = 20): Map[String, DataFrame] = {
    val (metadata0, files, chunks) = ingest(objects, images, maxDownloads)
    val cleaned = clean(metadata0)
    val (kept, victims) = dedup(cleaned)
    val (keptFiles, keptChunks) =
      deleteFiles(files, chunks, victims.select("gridfs_file_id"))
    val (withLineage, tFiles, tChunks) = transform(kept, keptFiles, keptChunks)
    val labeled = split(withLineage)
    Map(
      "artwork_metadata" -> labeled,
      "fs_files" -> keptFiles, "fs_chunks" -> keptChunks,
      "fs_transformed_files" -> tFiles, "fs_transformed_chunks" -> tChunks)
  }
}
