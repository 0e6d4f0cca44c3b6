package perfbench

import java.io.{ByteArrayInputStream, File}
import javax.imageio.ImageIO

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.ImageOps
import graft.operators.Chunking
import graft.pipeline.MuseumPipeline
import graft.sources.v2.GraftStore

/** `museum_etl`: the reference's pipeline run incrementally. Each op
  * ingests one batch (E1 plus its store appends), then re-processes the
  * whole collection (E2: read back, clean, dedup, delete victims' blobs,
  * transform the not-yet-transformed rows, split, store writes) and
  * checks the store's contents structurally. A pass replays every batch
  * into freshly created tables. */
object Museum {

  /** `chunks` gives, per batch, the GridFS chunk count of each stored
    * file (one pooled image per entry); `batches` batches make a pass. */
  final case class Sizes(batches: Int, chunks: Seq[Int])

  /** The reference's recorded bucket: 92 chunks for its 20 files, 1 to 5
    * chunks each. The five files of a batch in this profile store 23. */
  val ReferenceChunks: Seq[Int] = Seq(5, 5, 5, 4, 4)
  /** Below the reference's largest image (1.07 MB), above four chunks. */
  val MaxImageBytes = 1060000

  val Catalog = "graft_cat"
  val Ns = "museum"
  val Tables: Seq[String] = Seq("raw_files", "raw_chunks", "metadata", "t_files", "t_chunks")

  private val objectSchema = StructType(Seq(
    StructField("objectID", LongType), StructField("title", StringType),
    StructField("artistDisplayName", StringType), StructField("department", StringType),
    StructField("culture", StringType), StructField("period", StringType),
    StructField("objectDate", StringType), StructField("medium", StringType),
    StructField("primaryImage", StringType), StructField("status", IntegerType)))
  private val imageSchema = StructType(Seq(
    StructField("url", StringType), StructField("bytes", BinaryType),
    StructField("status", IntegerType)))

  /** A generated batch and what a correct pipeline must leave behind
    * once it has been ingested. */
  final case class Batch(objects: Seq[Row], images: Seq[Row],
                         kept: Set[Long], transformed: Set[Long], absent: Set[Long],
                         undecodable: Set[Long], userBytes: Long, newImages: Seq[Array[Byte]])

  /** A JPEG comment segment (marker, length, payload). */
  private def comment(payload: Array[Byte]): Array[Byte] = {
    val len = payload.length + 2
    Array[Byte](0xFF.toByte, 0xFE.toByte, (len >> 8).toByte, len.toByte) ++ payload
  }

  /** Inserts a JPEG comment right after the SOI marker: distinct bytes,
    * identical pixels, so one pooled image can stand for many objects. */
  private def tagged(jpeg: Array[Byte], tag: String): Array[Byte] =
    jpeg.take(2) ++ comment(tag.getBytes("UTF-8")) ++ jpeg.drop(2)

  /** A noise JPEG of exactly `target` bytes: encoded a little smaller,
    * then padded with comment segments of at most 65,537 bytes each. */
  def noiseJpeg(target: Int, seed: Int): Array[Byte] = {
    def gen(px: Double) = {
      val w = math.max(8, math.sqrt(px * 4 / 3).toInt)
      ImageOps.makeTestJpeg(w, w * 3 / 4, seed)
    }
    // a noise JPEG at the default quality takes about 0.6 bytes a pixel
    var px = target * 0.9 / 0.6
    var img = gen(px)
    while (img.length + 8 > target) {
      px *= 0.9 * target / img.length
      img = gen(px)
    }
    val pad = target - img.length
    val n = (pad + 65536) / 65537
    val segs = (0 until n).map { i =>
      comment(new Array[Byte](pad / n + (if (i < pad % n) 1 else 0) - 4))
    }
    img.take(2) ++ segs.flatten ++ img.drop(2)
  }

  final class Workload(sizes: Sizes, seed: Long, workDir: String,
                       trace: Trace) extends perfbench.Workload {
    /** Objects per batch, and E1's `maxDownloads`. */
    private val perBatch = sizes.chunks.size + 3
    private var batches: IndexedSeq[Batch] = IndexedSeq.empty
    private var frames: IndexedSeq[(DataFrame, DataFrame)] = IndexedSeq.empty
    private var warmFrames: (DataFrame, DataFrame) = _
    private var warmBatch: Batch = _
    private val storeDir = new File(workDir, "store")

    /** One image per entry of `chunks`, half a chunk short of its chunk
      * count (so a per-object tag never changes the count) but no larger
      * than the reference's largest image. */
    private def pool(chunks: Seq[Int]): IndexedSeq[Array[Byte]] = chunks.toIndexedSeq.zipWithIndex.map {
      case (c, i) =>
        noiseJpeg(math.min(((c - 0.5) * Chunking.GridFsChunkSize).toInt, MaxImageBytes), 7919 + i)
    }

    /** Each batch stores one file per pooled image, in an order the seed
      * picks: new objects, one undecodable blob and, from the second
      * batch on, one earlier object under a new URL. Three more objects
      * are dropped before any fetch lands: one the API answers 404 for,
      * one with an empty (even batches) or null (odd) primaryImage, and
      * one whose image fetch fails with 500. */
    private def batchesFrom(rng: Random, imgs: IndexedSeq[Array[Byte]], nBatches: Int,
                            idBase: Long): IndexedSeq[Batch] = {
      val kept = mutable.LinkedHashSet.empty[Long]
      val decodable = mutable.Set.empty[Long]
      val absent = mutable.Set.empty[Long]
      val undecodable = mutable.Set.empty[Long]
      var nextId = idBase
      (0 until nBatches).map { b =>
        val nDup = if (b == 0) 0 else 1
        val kinds = rng.shuffle(
          Seq.fill(nDup)("dup") ++ Seq("garbage") ++ Seq.fill(imgs.size - 1 - nDup)("ok") ++
          Seq("404", if (b % 2 == 0) "empty" else "null", "500"))
        val dupIds = rng.shuffle(kept.toSeq.filter(decodable)).take(nDup).iterator
        // every pooled image once per batch, so each seed moves the same
        // bytes: the seed picks only which object gets which
        val slots = rng.shuffle(imgs.indices.toVector).iterator
        val objects = mutable.ArrayBuffer.empty[Row]
        val images = mutable.ArrayBuffer.empty[Row]
        val newImages = mutable.ArrayBuffer.empty[Array[Byte]]
        var userBytes = 0L
        def field(p: Double, v: String): String =
          if (rng.nextDouble() < p) (if (rng.nextBoolean()) null else "") else v
        kinds.zipWithIndex.foreach { case (kind, i) =>
          val id = if (kind == "dup") dupIds.next() else { nextId += 1 + rng.nextInt(5); nextId }
          val url = s"https://images.example.org/$b/$i/$id.jpg"
          val primary = kind match { case "empty" => ""; case "null" => null; case _ => url }
          val status = if (kind == "404") 404 else 200
          val obj = Row(id, s"Object $id", field(0.2, s"Artist ${id % 97}"), s"Dept ${id % 7}",
            field(0.3, s"Culture ${id % 13}"), field(0.3, s"Period ${id % 11}"),
            field(0.2, s"${1500 + id % 400}"), field(0.2, s"Medium ${id % 17}"), primary, status)
          objects += obj
          def stored(bytes: Array[Byte]): Unit = {
            images += Row(url, bytes, 200)
            userBytes += bytes.length + obj.toSeq.map(v => if (v == null) 0 else v.toString.length).sum
          }
          kind match {
            case "ok" | "dup" =>
              val bytes = tagged(imgs(slots.next()), s"$b/$i/$id")
              stored(bytes)
              if (kind == "ok") { kept += id; decodable += id; newImages += bytes }
            case "garbage" =>
              // no image reader claims a blob that starts "JUNK"
              val bytes = new Array[Byte](imgs(slots.next()).length)
              rng.nextBytes(bytes)
              "JUNK".getBytes("US-ASCII").copyToArray(bytes)
              stored(bytes)
              kept += id; undecodable += id; newImages += bytes
            case "500" =>
              images += Row(url, Array.emptyByteArray, 500); absent += id
            case _ => absent += id
          }
        }
        Batch(objects.toSeq, images.toSeq, kept.toSet, decodable.toSet, absent.toSet,
          undecodable.toSet, userBytes, newImages.toSeq)
      }
    }

    override def generate(): Double = {
      val t0 = System.nanoTime()
      val rng = new Random(seed)
      batches = batchesFrom(rng, pool(sizes.chunks), sizes.batches, 100000L)
      // the warm-up takes every path with one-chunk images: the JIT
      // needs the paths, not the bytes
      warmBatch = batchesFrom(new Random(seed + 1), pool(sizes.chunks.map(_ => 1)), 1, 900000000L).head
      (System.nanoTime() - t0) / 1e9
    }

    private def frame(spark: SparkSession, b: Batch): (DataFrame, DataFrame) = {
      val o = spark.createDataFrame(spark.sparkContext.parallelize(b.objects, 1), objectSchema)
        .persist(StorageLevel.MEMORY_ONLY)
      val i = spark.createDataFrame(spark.sparkContext.parallelize(b.images, 1), imageSchema)
        .persist(StorageLevel.MEMORY_ONLY)
      o.count(); i.count()
      (o, i)
    }

    private def table(t: String) = s"$Catalog.$Ns.$t"
    private def read(spark: SparkSession, t: String): DataFrame =
      spark.read.format("graft-store").option("name", s"$Ns.$t").load()

    private var schemas: Map[String, StructType] = Map.empty

    /** An empty disk-backed table; every column nullable, as DDL makes it. */
    private def create(spark: SparkSession, t: String, schemaOf: String, dir: File): Unit = {
      Main.deleteTree(dir)
      dir.mkdirs()
      val ddl = StructType(schemas(schemaOf).fields.map(_.copy(nullable = true))).toDDL
      spark.sql(s"CREATE TABLE ${table(t)} ($ddl) TBLPROPERTIES " +
        s"('payload'='disk', 'payload.dir'='${dir.getAbsolutePath}')")
    }

    /** Drops and recreates the five store tables, empty. */
    private def resetStore(spark: SparkSession): Unit = {
      val (md, files, chunks) = MuseumPipeline.ingest(frames.head._1, frames.head._2, perBatch)
      schemas = Map("raw_files" -> files.schema, "raw_chunks" -> chunks.schema,
        "metadata" -> md.schema, "t_files" -> files.schema, "t_chunks" -> chunks.schema)
      (Tables :+ "metadata_next").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${table(t)}"))
      Main.deleteTree(storeDir)
      Tables.foreach(t => create(spark, t, t, new File(storeDir, t)))
      generation = 0
    }
    private var generation = 0

    def setup(spark: SparkSession): Unit = {
      spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sources.v2.GraftCatalog")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.$Ns")
      val t0 = System.nanoTime()
      frames = batches.map(frame(spark, _))
      warmFrames = frame(spark, warmBatch)
      harness = spark.sparkContext.getPersistentRDDs.keySet.toSet
      // one untimed warm-up batch through every path an op takes
      resetStore(spark)
      val t1 = System.nanoTime()
      val ctx = new OpCtx(spark, new Trace(false), -1, -1)
      batchOp(0, warmFrames, warmBatch, perBatch).run(ctx)
      System.err.println(f"[perfbench] warm-up: inputs ${(t1 - t0) / 1e9}%.2f s, batch ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }

    private var harness = Set.empty[Int]
    override def harnessRdds: Set[Int] = harness

    override def beforePass(spark: SparkSession, pass: Int): Unit = resetStore(spark)

    def passOps(pass: Int): Seq[Op] =
      batches.indices.map(b => batchOp(b, frames(b), batches(b), perBatch))

    override def beforeOp(spark: SparkSession): Unit = GraftStore.resetCounters()

    private def storeBytes: Long = Main.treeBytes(storeDir)

    private def batchOp(b: Int, in: (DataFrame, DataFrame), expect: Batch, maxDownloads: Int): Op =
      Op(s"batch$b", ctx => {
        val spark = ctx.spark
        val bytes0 = if (trace.on) storeBytes else 0L
        def write(df: DataFrame, t: String): Unit =
          ctx.span("store.write") { df.writeTo(table(t)).append() }
        ctx.phase("e1") {
          val (md, files, chunks) = MuseumPipeline.ingest(in._1, in._2, maxDownloads)
          write(files, "raw_files"); write(chunks, "raw_chunks"); write(md, "metadata")
        }
        ctx.phase("e2") {
          val cleaned = MuseumPipeline.clean(read(spark, "metadata"))
          val (kept, victims) = MuseumPipeline.dedup(cleaned)
          val (keptFiles, keptChunks) = MuseumPipeline.deleteFiles(
            read(spark, "raw_files"), read(spark, "raw_chunks"), victims.select("gridfs_file_id"))
          val (updated, tFiles, tChunks) = MuseumPipeline.transform(kept, keptFiles, keptChunks)
          write(tFiles, "t_files"); write(tChunks, "t_chunks")
          // the metadata rewrite: a fresh table swapped in for the old one
          generation += 1
          create(spark, "metadata_next", "metadata", new File(storeDir, s"metadata.$generation"))
          write(MuseumPipeline.split(updated), "metadata_next")
          spark.sql(s"DROP TABLE ${table("metadata")}")
          spark.sql(s"ALTER TABLE ${table("metadata_next")} RENAME TO $Ns.metadata")
        }
        val ok = ctx.phase("check") { check(spark, expect) }
        if (trace.on) {
          val written = storeBytes - bytes0
          ctx.extra("store.write_bytes") = written.toDouble
          ctx.extra("store.user_bytes") = expect.userBytes.toDouble
          ctx.extra("store.segments_read") = GraftStore.segmentsRead.get().toDouble
          ctx.extra("store.segments_skipped") = GraftStore.segmentsSkipped.get().toDouble
        }
        ok
      })

    /** The structural output checks: small driver-side reads of the
      * catalogs plus two executor-side passes over the chunk buckets. */
    private def check(spark: SparkSession, e: Batch): Boolean = {
      val md = read(spark, "metadata").select("object_id", "transformed_gridfs_file_id", "split")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      val ids = md.map(_._1)
      val oneEach = ids.length == ids.distinct.length && ids.toSet == e.kept
      val absentOk = (ids.toSet intersect e.absent).isEmpty
      val tf = read(spark, "t_files").select("_id", "filename", "length").collect()
        .map(r => (r.getString(0), r.getString(1).stripSuffix("_transformed.jpg").toLong, r.getLong(2)))
      val tIds = tf.map(_._2)
      val transformedOk = tIds.length == tIds.distinct.length && tIds.toSet == e.transformed &&
        (tIds.toSet intersect e.undecodable).isEmpty
      val lineageOk = md.flatMap(_._2).toSet == tf.map(_._1).toSet
      def chunkCountsOk(chunks: String, lengths: Map[String, Long]): Boolean = {
        val n = read(spark, chunks).groupBy("files_id").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        lengths.forall { case (id, len) =>
          n.getOrElse(id, 0L) == math.ceil(len.toDouble / Chunking.GridFsChunkSize).toLong
        } && n.keySet.subsetOf(lengths.keySet)
      }
      val rawLengths = read(spark, "raw_files").select("_id", "length").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val chunksOk = chunkCountsOk("raw_chunks", rawLengths) &&
        chunkCountsOk("t_chunks", tf.map(t => t._1 -> t._3).toMap)
      val badBlobs = Chunking.reassemble(read(spark, "t_chunks"))
        .filter(!Museum.is224Rgb(col("data"))).count()
      val splitOk = md.forall { case (id, _, s) => s.contains(splitOf(id)) }
      val ok = oneEach && absentOk && transformedOk && lineageOk && badBlobs == 0 && chunksOk && splitOk
      if (!ok) System.err.println(s"[perfbench] museum check: oneEach=$oneEach absent=$absentOk " +
        s"transformed=$transformedOk lineage=$lineageOk badBlobs=$badBlobs chunks=$chunksOk split=$splitOk")
      ok
    }

    /** Traced run only: the image kernel called directly, on one thread,
      * on the images the op ingested. */
    override def afterOp(index: Int): Map[String, Double] = {
      val imgs = batches(index).newImages
      val t0 = System.nanoTime()
      val ok = imgs.count(ImageOps.transformImageBytes(_) != null)
      Map("functions.image_calls" -> imgs.size.toDouble,
        "functions.image_ms_total" -> (System.nanoTime() - t0) / 1e6,
        "functions.decode_ok" -> ok.toDouble)
    }

    def transformedPerPass: Int = batches.last.transformed.size
    def userBytesPerPass: Long = batches.map(_.userBytes).sum

    override def finish(spark: SparkSession, passSeconds: Seq[Double]): Map[String, Double] = {
      val lengths = read(spark, "raw_files").select("length").collect().map(_.getLong(0))
      System.err.println(s"[perfbench] raw bucket after the last pass: ${lengths.length} files, " +
        s"${read(spark, "raw_chunks").count()} chunks, ${lengths.sum} bytes, ${sizes.batches} batches")
      Map(
        "images_per_s" -> transformedPerPass / Stats.median(passSeconds),
        "space_amp" -> storeBytes.toDouble / userBytesPerPass)
    }
  }

  /** The 64/16/20 label the pipeline must give an object: the engine's
    * hash of the object id, recomputed on the driver. */
  def splitOf(id: Long): String = {
    val m = Math.floorMod(Math.floorMod(id, 1000000007L) * 2654435761L + 40503L, 10000L)
    if (m < 6400) "train" else if (m < 8000) "validation" else "test"
  }

  /** 1 when the bytes decode to a 224×224 image with three colour bands. */
  val is224Rgb = udf((b: Array[Byte]) => {
    val img = try ImageIO.read(new ByteArrayInputStream(b)) catch { case _: Exception => null }
    img != null && img.getWidth == ImageOps.TargetW && img.getHeight == ImageOps.TargetH &&
      img.getRaster.getNumBands == 3
  })
}
