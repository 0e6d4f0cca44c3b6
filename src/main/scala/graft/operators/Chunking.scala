package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** GridFS chunking as relational transforms (SURVEY.md §1.4, §2.8).
  *
  * The reference's storage driver splits each blob into 261120-byte rows in
  * `fs.chunks` keyed by `(files_id, n)` and reassembles by reading chunks
  * in `n` order (/root/reference/src/ingestion.py:63-67,
  * /root/reference/src/transform_load.py:92-93, layout proven by
  * data_outputs/fs_chunks_view.png). Here both directions are pure Spark
  * expressions — `substring`/`length`/`concat` all operate on BinaryType,
  * so the whole split stays inside whole-stage codegen with no UDF, and
  * the reassembly is one hash aggregate (one shuffle on `files_id`).
  */
object Chunking {

  /** GridFS driver default chunk size (255 KiB), from the reference's
    * observed fs.chunks layout. */
  val GridFsChunkSize: Int = 261120

  /** Array of ≤`size` slices of a binary or string column; empty input →
    * empty array (a zero-length GridFS file has zero chunks). The
    * `slice(array(c),1,0)` idiom yields a correctly-typed empty array for
    * either input type. */
  def chunkArray(c: String, size: Int): Column = expr(
    s"CASE WHEN length($c) = 0 THEN slice(array($c), 1, 0) " +
    s"ELSE transform(sequence(0, cast(ceil(length($c) / ${size}D) as int) - 1), " +
    s"i -> substring($c, i * $size + 1, $size)) END")

  /** X2op: blob rows → chunk rows `(files_id, n, data)`. One generator
    * (posexplode), no shuffle — chunk rows stay co-located with their
    * parent file's partition, which is exactly what a bulk GridFS write
    * wants at 100 TB. */
  def split(df: DataFrame, fileId: String, data: String,
            size: Int = GridFsChunkSize): DataFrame =
    df.select(col(fileId), posexplode(chunkArray(data, size)))
      .toDF("files_id", "n", "data")

  /** A3: chunk rows → `(files_id, data)` with chunks concatenated in `n`
    * order, one chunk per `n`: a file stored twice under one id (the same
    * object ingested twice) keeps the least chunk of each ordinal instead
    * of interleaving both copies. Single hash aggregate; the per-group
    * buffer holds one file's chunks (~MBs), never the whole table. `zero`
    * must match the data type: `unhex('')` for binary, `''` for string. */
  def reassemble(chunks: DataFrame, zero: String = "unhex('')"): DataFrame =
    chunks.groupBy(col("files_id")).agg(
      expr(s"aggregate(array_sort(collect_list(struct(n, data))), " +
           s"named_struct('n', CAST(-1 AS BIGINT), 'data', $zero), " +
           "(acc, x) -> IF(x.n = acc.n, acc, " +
           "named_struct('n', CAST(x.n AS BIGINT), 'data', concat(acc.data, x.data))), " +
           "acc -> acc.data)").as("data"))

  /** Aggregation buffer for [[ReassembleBytes]]: the chunks seen so far,
    * in arbitrary order ([[ReassembleBytes.finish]] sorts by ordinal). */
  case class ChunkBuf(ns: Seq[Int], datas: Seq[Array[Byte]])

  /** A3 as a typed Aggregator (SURVEY §2.10) — same semantics as
    * [[reassemble]], repeated ordinals included (the least chunk by
    * unsigned byte order wins, as in `array_sort`); usable via
    * `functions.udaf` where a typed surface or SQL registration is wanted.
    * Accumulation PREPENDS (O(1) per chunk; the default Seq is a List, so
    * appending with `:+` would make a many-chunk file — a multi-GB blob is
    * thousands of 255 KiB chunks — O(n²) per group); order is restored by
    * the sort in `finish`. */
  class ReassembleBytes extends Aggregator[(Int, Array[Byte]), ChunkBuf, Array[Byte]] {
    def zero: ChunkBuf = ChunkBuf(Nil, Nil)
    def reduce(b: ChunkBuf, a: (Int, Array[Byte])): ChunkBuf =
      ChunkBuf(a._1 +: b.ns, a._2 +: b.datas)
    def merge(b1: ChunkBuf, b2: ChunkBuf): ChunkBuf =
      if (b1.ns.size >= b2.ns.size) ChunkBuf(b2.ns ++: b1.ns, b2.datas ++: b1.datas)
      else ChunkBuf(b1.ns ++: b2.ns, b1.datas ++: b2.datas)
    def finish(b: ChunkBuf): Array[Byte] = {
      val datas = (b.ns zip b.datas)
        .groupMapReduce(_._1)(_._2)((x, y) => if (java.util.Arrays.compareUnsigned(x, y) <= 0) x else y)
        .toSeq.sortBy(_._1).map(_._2)
      val out = new Array[Byte](datas.iterator.map(_.length).sum)
      var off = 0
      datas.foreach { d => System.arraycopy(d, 0, out, off, d.length); off += d.length }
      out
    }
    def bufferEncoder: Encoder[ChunkBuf] = Encoders.product[ChunkBuf]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** K1/K5: GridFS put as a two-table write shape. Input rows carry
    * `(_id, filename, data [, metadata...])`; output is the
    * `fs.files` catalog and the `fs.chunks` rows (FIXTURES.md A2/A3).
    * Chunk `_id` is derived (`files_id` + ordinal) — deterministic, unlike
    * the reference's ObjectIds. */
  def gridfsPut(df: DataFrame, size: Int = GridFsChunkSize): (DataFrame, DataFrame) = {
    val files = df.select(
      col("_id"), col("filename"),
      lit(size).as("chunkSize"),
      length(col("data")).cast("long").as("length"),
      current_timestamp().as("uploadDate"))
    val chunks = split(df, "_id", "data", size)
      .select(concat(col("files_id"), lit("_"), col("n")).as("_id"),
              col("files_id"), col("n"), col("data"))
    (files, chunks)
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X2op on the documents table (string payloads stand in for blobs in
    // the SQL-expressible oracle; byte payloads are covered by the
    // ScalaCheck round-trip in ChunkingSpec).
    "q18_chunk_split" -> ((s, dir) => {
      split(Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id", "text", 64)
        .withColumnRenamed("files_id", "doc_id")
        .withColumn("n", col("n").cast("long"))
        .select("doc_id", "n", "data")
        .orderBy("doc_id", "n")
    }),

    // X2op + A3 round trip: split, reassemble, compare with the original.
    "q19_chunk_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val back = reassemble(split(docs, "doc_id", "text", 64), zero = "''")
        .withColumnRenamed("files_id", "doc_id")
        .withColumnRenamed("data", "rebuilt")
      docs.join(back, "doc_id")
        .select(col("doc_id"), (col("rebuilt") === col("text")).as("ok"))
        .orderBy("doc_id")
    })
  )

  def oracle: Map[String, String] = Map(
    "q18_chunk_split" ->
      """SELECT doc_id, n, substring(text, CAST(n*64+1 AS INT), 64) AS data FROM (
        |  SELECT doc_id, text, unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT))) AS n FROM documents)
        |ORDER BY doc_id, n""".stripMargin,
    "q19_chunk_roundtrip" ->
      """SELECT d.doc_id, (string_agg(c.data, '' ORDER BY c.n) = d.text) AS ok
        |FROM documents d JOIN (
        |  SELECT doc_id, n, substring(text, CAST(n*64+1 AS INT), 64) AS data FROM (
        |    SELECT doc_id, text, unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT))) AS n FROM documents)
        |) c ON d.doc_id = c.doc_id
        |GROUP BY d.doc_id, d.text ORDER BY d.doc_id""".stripMargin
  )
}
