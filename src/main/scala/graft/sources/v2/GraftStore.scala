package graft.sources.v2

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Backing registry for the `graft-store` DataSource V2 connector
  * ([[GraftStoreProvider]]) — the stand-in for the reference's external
  * document store (MongoDB collections + GridFS buckets,
  * /root/reference/src/ingestion.py:17-20), shaped the way a real
  * server-backed connector shapes its metadata:
  *
  *  - a collection is a SCHEMA plus a list of range-sharded SEGMENTS
  *    (rows clustered by a shard key, like Mongo chunk ranges or a
  *    lakehouse file manifest);
  *  - each segment carries ZONE MAPS (per-column min/max) so the scan
  *    can do data skipping: pushed filters prune whole segments before
  *    any row is read — the lever that matters at 100 TB, where the
  *    manifest is touched on the driver and only surviving segments
  *    become input partitions;
  *  - a segment's PAYLOAD is where its rows live: a row vector for an
  *    in-memory collection, which an
  *    [[org.apache.spark.sql.connector.read.InputPartition]] carries to
  *    the executor that reads it; parquet files for a disk-backed one
  *    (`'payload'='disk'`), whose manifest entry holds only paths, row
  *    count, zone maps and file bytes. On disk the driver touches
  *    manifests and executors move bytes: each task of a catalog/DSv2
  *    batch write lands its own parquet file and commits only its
  *    manifest entry ([[commitWritten]]), and a scan packs small
  *    segments into shared read tasks by their recorded bytes — the
  *    life-cycle a real connector has, exercised honestly in one JVM.
  *
  * Values are stored as plain JVM externals (Long/Int/Double/String/
  * Boolean/Array[Byte]/java.sql.Timestamp) and converted at the scan
  * boundary by [[RowConverters]] — no dependence on Spark-private
  * converter API. */
object GraftStore {

  /** Where a segment's rows live. The zone maps and the manifest stay
    * on the driver either way; the payload is what ships inside an
    * InputPartition — materialized rows for the in-memory default, a
    * parquet path list for disk-backed collections (the executor then
    * STREAMS the file instead of deserializing a row vector, so scan
    * memory is O(1) in segment size). */
  sealed trait SegmentPayload extends Serializable {
    def count: Long
    /** Opens a FRESH iterator. Disk-backed iterators are Closeable and
      * self-close at exhaustion; abandon-early callers must close. */
    def iterator: Iterator[Row]
  }
  case class MemRows(data: Vector[Row]) extends SegmentPayload {
    override def count: Long = data.size.toLong
    override def iterator: Iterator[Row] = data.iterator
  }
  /** Rows in parquet files on shared storage (local dir here; an object
    * store in a real deployment — the manifest carries paths, not
    * bytes). `constants` injects columns absent from the files (the
    * `key=value` partition-directory column of clustered layouts). */
  case class ParquetRows(paths: Vector[String], schema: StructType, count: Long,
                         constants: Map[Int, Any] = Map.empty)
      extends SegmentPayload {
    override def iterator: Iterator[Row] =
      GraftParquet.openIterator(paths, schema, constants)
  }

  /** One range shard: contiguous rows (sorted by the shard key at
    * registration) + per-column zone maps over the comparable columns. */
  /** Driver-side per-column Bloom filter over one segment's values —
    * equality/IN segment skipping for columns the LAYOUT is not
    * organized by (a range shard or z-order makes min/max zones
    * selective in its own dimensions; a point lookup on any OTHER
    * column scans everything without this). Backed by parquet-native
    * bloom filters (one per row group, computed by the format during
    * the write); parquet guarantees no false negatives, so skipping on
    * a miss is always safe. Never shipped to executors — input
    * partitions carry payloads, not segments. */
  final class SegmentBloom(loader: () => Vector[GraftParquet.ChunkProbe],
                           /** Driver-RAM size model: resident bytes for
                             * eager blooms; 0 for lazy (the LRU cache
                             * owns and bounds those bytes). */
                           val residentBytes: Long) {
    def this(probes: Vector[GraftParquet.ChunkProbe]) =
      this(() => probes, probes.map(_.sizeBytes).sum)
    def mightContain(v: Any): Boolean = {
      val pv: AnyRef = v match {
        case null => return true
        case s: String => org.apache.parquet.io.api.Binary.fromString(s)
        case l: Long => java.lang.Long.valueOf(l)
        case i: Int => java.lang.Integer.valueOf(i)
        case d: Double => java.lang.Double.valueOf(d)
        case f: Float => java.lang.Float.valueOf(f)
        case _ => return true // no probe semantics for this type: never skip
      }
      val probes = loader()
      // no usable evidence (lazy load found no complete probe set):
      // never skip — exactly the eager path's "drop the column" answer
      probes.nonEmpty && probes.exists(_.mightContain(pv))
    }
  }

  /** Bounded driver residency for lazy-mode bloom probes: an LRU keyed
    * by (file, column), capped in ESTIMATED bytes
    * (`graft.store.bloom.cache.bytes`, default 64 MB). At 100 TB an
    * NDV-sized bloom per row group per segment is driver RAM the
    * manifest cannot afford to pin; `bloom.mode = lazy` keeps the
    * manifest to paths + zones and re-reads footers on demand, paying
    * one footer read per cache miss instead of resident gigabytes.
    * Misses (including incomplete probe sets) cache their answer too,
    * so an unusable column costs one footer inspection, not one per
    * probe. */
  object BloomCache {
    private def cap: Long = sys.props.get("graft.store.bloom.cache.bytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    private val lru = new java.util.LinkedHashMap[(String, String),
        (Vector[GraftParquet.ChunkProbe], Long)](64, 0.75f, true)
    private var total = 0L
    val hits = new AtomicLong(0)
    val misses = new AtomicLong(0)

    def get(path: String, schema: StructType, col: String)
        : Vector[GraftParquet.ChunkProbe] = synchronized {
      val key = (path, col)
      val cached = lru.get(key)
      if (cached != null) { hits.incrementAndGet(); cached._1 }
      else {
        misses.incrementAndGet()
        val probes = GraftParquet.bloomFilters(path, schema, Seq(col))
          .getOrElse(col, Vector.empty)
        val bytes = probes.map(_.sizeBytes).sum + 64L
        lru.put(key, (probes, bytes))
        total += bytes
        val it = lru.entrySet().iterator()
        while (total > cap && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { total -= e.getValue._2; it.remove() }
        }
        probes
      }
    }

    def residentBytes: Long = synchronized(total)
    def clear(): Unit = synchronized { lru.clear(); total = 0L }
  }

  /** `bytes`: the disk payload's size in bytes, recorded when the
    * segment is installed — what scan planning packs read tasks by
    * without touching storage; -1 for memory payloads. */
  case class Segment(payload: SegmentPayload, zones: Map[String, (Any, Any)],
                     blooms: Map[String, SegmentBloom] = Map.empty,
                     bytes: Long = -1L)
      extends Serializable {
    /** Materializing accessor — driver-side mutation paths only; scans
      * must use [[payload]]/[[iterator]] so disk segments stream. */
    def rows: Vector[Row] = payload match {
      case MemRows(d) => d
      case p =>
        val it = p.iterator
        try it.toVector finally GraftParquet.closeQuietly(it)
    }
    def iterator: Iterator[Row] = payload.iterator
    def count: Long = payload.count

    /** Estimated driver-RAM footprint of this segment's MANIFEST entry —
      * the size model for "does the driver hold 100 TB of metadata?":
      * zone-map entries (key + two boxed bounds), payload path strings
      * (disk) or nothing (memory payload rows are data, not manifest),
      * and RESIDENT bloom bytes (eager blooms pin their bitsets; lazy
      * mode contributes 0 here because [[BloomCache]] owns and caps
      * those bytes globally). Strings dominate, so they are costed at
      * 2 bytes/char + object header; everything else at a flat boxed
      * size. */
    def manifestBytes: Long = {
      def valBytes(v: Any): Long = v match {
        case s: String => 40L + 2L * s.length
        case _ => 16L
      }
      val zoneB = zones.iterator.map { case (c, (lo, hi)) =>
        48L + 2L * c.length + valBytes(lo) + valBytes(hi) }.sum
      val pathB = payload match {
        case ParquetRows(paths, _, _, _) => paths.iterator.map(p => 48L + 2L * p.length).sum
        case _ => 0L
      }
      val bloomB = blooms.valuesIterator.map(48L + _.residentBytes).sum
      64L + zoneB + pathB + bloomB
    }
    def firstRow: Option[Row] = payload match {
      case MemRows(d) => d.headOption
      case p =>
        val it = p.iterator
        try { if (it.hasNext) Some(it.next()) else None }
        finally GraftParquet.closeQuietly(it)
    }
    /** Short-circuit-safe streaming forall (closes the disk reader even
      * when the predicate fails early). */
    def forallRows(p: Row => Boolean): Boolean = {
      val it = payload.iterator
      try it.forall(p) finally GraftParquet.closeQuietly(it)
    }
  }
  object Segment {
    def apply(rows: Vector[Row], zones: Map[String, (Any, Any)]): Segment =
      new Segment(MemRows(rows), zones)
    def apply(rows: Vector[Row], zones: Map[String, (Any, Any)],
              blooms: Map[String, SegmentBloom]): Segment =
      new Segment(MemRows(rows), zones, blooms)
  }

  case class Collection(schema: StructType, shardKey: Option[String],
                        segments: Vector[Segment],
                        clusterKey: Option[String] = None,
                        payloadDir: Option[String] = None) {
    def rows: Vector[Row] = segments.flatMap(_.rows)
    def rowCount: Long = segments.map(_.count).sum
  }

  private val store = scala.collection.mutable.Map.empty[String, Collection]

  // ---------------------------------------------------------- versions
  /** Time travel falls out of the store's MVCC-by-immutable-vectors
    * design: every mutation INSTALLS a fresh `Collection` (fresh
    * segment vector; disk payloads additionally land under a fresh
    * generation subdirectory), so a historical version is just a
    * retained reference — snapshots share structure with the live
    * collection, and for disk-backed collections they pin only file
    * PATHS. The last [[maxVersions]] generations are retained per
    * collection; SQL reaches them via `VERSION AS OF n`
    * ([[GraftCatalog.loadTable(ident, version)]]) and the provider via
    * `.option("name", "coll@v<n>")`. Snapshot names are READ-ONLY:
    * every mutation path funnels through [[install]], which rejects
    * them loudly.
    *
    * Retention cost: a disk-backed version pins file paths (immutable
    * generations — the production shape, where retention is a storage
    * policy); an in-memory version pins its row vectors, so the window
    * is deliberately small and a mutation-churned memory collection
    * trades RAM for history exactly like any uncompacted MVCC store. */
  /** (generation, installed-at epoch micros, snapshot). */
  private val versions =
    scala.collection.mutable.Map.empty[String, Vector[(Long, Long, Collection)]]
  private val generation = scala.collection.mutable.Map.empty[String, Long]
  private val maxVersions = 16
  private val SnapshotName = "^(.*)@v([0-9]+)$".r

  /** The single choke point every mutation installs through: bumps the
    * collection's generation and records the new state in the version
    * ring. Callers hold the store lock. */
  private def install(name: String, coll: Collection): Unit = {
    name match {
      case SnapshotName(_, v) => throw new UnsupportedOperationException(
        s"graft-store: '$name' is a read-only VERSION AS OF $v snapshot")
      case _ => ()
    }
    store(name) = coll
    val gen = generation.getOrElse(name, 0L) + 1L
    generation(name) = gen
    // The version ring keeps BLOOM-STRIPPED copies: blooms are derived
    // data (re-readable from parquet footers any time) and only the
    // LIVE collection prunes with them — pinning filters for up to
    // maxVersions generations would cost O(versions × filter bytes) of
    // driver heap for reads that never happen. Segment payloads and
    // zone maps still share structure; time-travel scans keep zone-map
    // pruning, just not bloom skipping.
    val ringEntry =
      if (coll.segments.forall(_.blooms.isEmpty)) coll
      else coll.copy(segments = coll.segments.map(s =>
        if (s.blooms.isEmpty) s else s.copy(blooms = Map.empty)))
    versions(name) = (versions.getOrElse(name, Vector.empty) :+
      ((gen, System.currentTimeMillis() * 1000L, ringEntry))).takeRight(maxVersions)
  }

  /** Current version number (the one `VERSION AS OF` would name). */
  def currentVersion(name: String): Long =
    store.synchronized(generation.getOrElse(name, 0L))

  /** Segments added between generation `fromV` and the live collection,
    * when the intervening history is a PURE APPEND: every `fromV`
    * segment must still be present, in order, as a prefix of the live
    * vector (payload REFERENCE equality — the version ring's
    * bloom-stripped copies share payloads, so this survives the strip).
    * Any rewrite (compaction, Z-order, row-level DML, re-shard, full
    * re-register) breaks the prefix and returns None — callers fall
    * back to a full snapshot diff. Returns None (not a throw) when
    * `fromV` has been evicted from the retention ring. */
  def appendedSince(name: String, fromV: Long): Option[Vector[Segment]] =
    store.synchronized {
      val oldSegs =
        try getVersion(name, fromV).segments
        catch { case _: NoSuchElementException => return None }
      val cur = store.get(name).map(_.segments).getOrElse(return None)
      val isPrefix = cur.size >= oldSegs.size &&
        oldSegs.indices.forall(i => oldSegs(i).payload eq cur(i).payload)
      if (isPrefix) Some(cur.drop(oldSegs.size)) else None
    }

  /** [[appendedSince]] PLUS the live version those segments bring the
    * reader up to, read in the SAME critical section. This is the
    * atomic capture an incremental consumer (MV refresh) must pin:
    * with two separate calls, an append landing between `currentVersion`
    * and `appendedSince` gets folded into the consumer's state while
    * the earlier version stays pinned — and the next refresh would
    * replay those segments and double-count them. */
  def appendedSinceWithVersion(name: String, fromV: Long): (Option[Vector[Segment]], Long) =
    store.synchronized { (appendedSince(name, fromV), currentVersion(name)) }

  /** The collection as of version `v` — throws if unknown or evicted
    * from the retained window. */
  def getVersion(name: String, v: Long): Collection = store.synchronized {
    versions.getOrElse(name, Vector.empty).find(_._1 == v).map(_._3).getOrElse {
      val have = versions.getOrElse(name, Vector.empty).map(_._1)
      throw new NoSuchElementException(
        s"graft-store: no version $v of '$name' (retained: ${have.mkString(", ")})")
    }
  }

  /** Retained history for `CALL system.history`: (generation,
    * installed-at micros, row count, segment count), oldest first. */
  def versionHistory(name: String): Vector[(Long, Long, Long, Int)] =
    store.synchronized {
      if (!store.contains(name))
        throw new NoSuchElementException(s"graft-store: no such collection: $name")
      versions.getOrElse(name, Vector.empty).map { case (gen, ts, c) =>
        (gen, ts, c.rowCount, c.segments.size)
      }
    }

  /** The latest retained version installed at or before `tsMicros`
    * (epoch microseconds — `TIMESTAMP AS OF`), as its generation
    * number. Throws if the timestamp predates the retained window. */
  def versionAt(name: String, tsMicros: Long): Long = store.synchronized {
    versions.getOrElse(name, Vector.empty)
      .filter(_._2 <= tsMicros).lastOption.map(_._1).getOrElse {
        throw new NoSuchElementException(
          s"graft-store: no retained version of '$name' at or before " +
            s"timestamp $tsMicros (history may have been evicted)")
      }
  }

  /** Per-collection ROW-ORDER epoch: bumped whenever an operation may
    * REORDER existing rows (register/registerClustered/re-sorting
    * append) rather than extend them. Streaming sources capture it at
    * start and fail LOUDLY if it changes mid-stream — a row-index
    * offset into a reordered collection would silently re-deliver some
    * rows and lose others, the same way rewriting a Kafka topic's log
    * breaks its consumers. Order-preserving tail appends (new keys ≥
    * the current max, or unsharded appends) do NOT bump it. */
  private val orderEpochs = scala.collection.mutable.Map.empty[String, Long]
  private def bumpOrderEpoch(name: String): Unit =
    orderEpochs(name) = orderEpochs.getOrElse(name, 0L) + 1L
  def orderEpoch(name: String): Long =
    store.synchronized(orderEpochs.getOrElse(name, 0L))

  /** Scan-side observability for specs and PLANS.md evidence: segments
    * pruned by zone maps across all scans since the last reset. */
  val segmentsSkipped = new AtomicLong(0)
  val segmentsRead = new AtomicLong(0)
  /** Segments the last row-level (UPDATE/MERGE) commit actually
    * replaced — group-pruning evidence for specs. */
  val rowLevelSegmentsReplaced = new AtomicLong(0)
  /** Rows the last DELTA row-level commit shipped (deletes + updates +
    * inserts) — the O(changed-rows) evidence for specs: a 1-row UPDATE
    * through the delta path ships 1 row, not a segment. */
  val rowLevelRowsShipped = new AtomicLong(0)
  def resetCounters(): Unit = { segmentsSkipped.set(0); segmentsRead.set(0) }

  private def comparable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType => true
    case _ => false
  }

  /** Natural ordering on the external value types zone maps hold. */
  private[graft] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)         => java.lang.Integer.compare(x, y)
    case (x: Long, y: Int)        => java.lang.Long.compare(x, y.toLong)
    case (x: Int, y: Long)        => java.lang.Long.compare(x.toLong, y)
    case (x: Double, y: Double)   => java.lang.Double.compare(x, y)
    case (x: Float, y: Float)     => java.lang.Float.compare(x, y)
    // unsigned UTF-8 byte order — the order parquet footer statistics
    // and Spark's UTF8String use. String.compareTo is UTF-16 code-unit
    // order, which disagrees for supplementary-plane text (U+10000+
    // encodes as surrogates below U+E000 in UTF-16 but above in UTF-8);
    // a probe compared in the wrong order can wrongly leave a disk
    // segment's footer-derived zone and silently skip matching rows.
    case (x: String, y: String)   =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(
      s"incomparable zone-map values: ${a.getClass} vs ${b.getClass}")
  }

  /** Zone maps accumulated as rows pass: per comparable column, the
    * min/max over its non-null values (a column with none gets no
    * entry). Used on the driver over row vectors and inside the write
    * tasks that land segment files. */
  private[v2] final class ZoneAcc(schema: StructType) {
    private val cols = schema.fields.indices.filter(i => comparable(schema(i).dataType)).toArray
    private val lo = new Array[Any](schema.length)
    private val hi = new Array[Any](schema.length)
    def add(r: Row): Unit = cols.foreach { i =>
      val v = r.get(i)
      if (v != null) {
        if (lo(i) == null || cmp(v, lo(i)) < 0) lo(i) = v
        if (hi(i) == null || cmp(v, hi(i)) > 0) hi(i) = v
      }
    }
    def result: Map[String, (Any, Any)] =
      cols.iterator.filter(lo(_) != null).map(i => schema(i).name -> (lo(i), hi(i))).toMap
  }

  private def zoneMaps(schema: StructType, rows: Vector[Row]): Map[String, (Any, Any)] = {
    val z = new ZoneAcc(schema)
    rows.foreach(z.add)
    z.result
  }

  /** Zone maps of two files read as one segment: per column, the
    * widest bounds. Columns are INTERSECTED — a column one file has no
    * zone for cannot keep the other file's bounds (they may not cover
    * its values), and a dropped zone is always safe. */
  private def unionZones(a: Map[String, (Any, Any)],
                         b: Map[String, (Any, Any)]): Map[String, (Any, Any)] =
    a.keySet.intersect(b.keySet).iterator.map { c =>
      val ((l0, h0), (l1, h1)) = (a(c), b(c))
      c -> ((if (cmp(l1, l0) < 0) l1 else l0, if (cmp(h1, h0) > 0) h1 else h0))
    }.toMap

  private def shard(schema: StructType, shardKey: Option[String],
                    rows: Vector[Row], numSegments: Int): Vector[Segment] = {
    val ordered = shardKey match {
      case Some(key) =>
        val idx = schema.fieldIndex(key)
        // nulls first, then natural order: contiguous key ranges per
        // segment => disjoint zone maps => pruning actually prunes
        rows.sortWith { (a, b) =>
          (a.get(idx), b.get(idx)) match {
            case (null, null) => false
            case (null, _)    => true
            case (_, null)    => false
            case (x, y)       => cmp(x, y) < 0
          }
        }
      case None => rows
    }
    if (ordered.isEmpty) Vector(Segment(Vector.empty, Map.empty))
    else {
      val per = math.max(1, math.ceil(ordered.size.toDouble / numSegments).toInt)
      ordered.grouped(per).map(g => Segment(g, zoneMaps(schema, g))).toVector
    }
  }

  /** Segments a collection's first layout gets — a registration, an
    * overwrite, or the first rows into an empty collection — when the
    * caller names no count. */
  val DefaultSegments = 8

  /** Monotonic spill-generation counter: every (re-)registration of a
    * disk-backed collection lands its files under a fresh subdirectory,
    * so segments still referenced by in-flight scans or serialized
    * partitions keep reading consistent bytes (MVCC-by-immutable-files,
    * the lakehouse norm; stale generations are garbage, reclaimed when
    * the payload dir is). */
  private val spillGen = new AtomicLong(0)

  /** Generation subdirectories with a distributed write IN FLIGHT:
    * compact/zorder/loadDisk/loadClusteredDisk write parquet OUTSIDE
    * the store lock and only then install the manifest. [[vacuum]]
    * treats a pinned directory as referenced — without the pin, a
    * vacuum racing the write could sweep freshly-written files between
    * the write and the manifest swap. Pinned/unpinned under the store
    * lock; a failed install leaves the files unpinned garbage for the
    * next vacuum to reclaim. */
  private val pendingDirs = scala.collection.mutable.Set.empty[String]
  /** One canonical form for a payload path. Segment manifests carry
    * whatever the writer produced — `file:/…` URIs from distributed
    * writes, plain paths from driver-side spills — and [[vacuum]]'s
    * keep/delete decision is a set-membership test over these strings,
    * so the normalization IS the correctness of the sweep. */
  private def canonicalPath(p: String): String = {
    val f =
      if (p.startsWith("file:"))
        try new java.io.File(java.net.URI.create(p).getPath)
        catch { case _: IllegalArgumentException | _: NullPointerException =>
          new java.io.File(p.stripPrefix("file:")) }
      else new java.io.File(p)
    try f.getCanonicalPath
    catch { case _: java.io.IOException => f.getAbsolutePath }
  }
  private def freshGenDir(name: String, dir: String): String = {
    val sub = s"$dir/${name.replaceAll("[^A-Za-z0-9._-]", "_")}-g${spillGen.incrementAndGet()}"
    store.synchronized { pendingDirs += canonicalPath(sub) }
    sub
  }
  private def unpin(sub: String): Unit =
    store.synchronized { pendingDirs -= canonicalPath(sub) }

  /** Bloom-skipping spec from table props: `bloom.columns` =
    * `"col[:expectedNdv][,col2[:ndv2]…]"` (NDV defaults to 100000; size
    * it near the PER-SEGMENT distinct count — parquet sizes each row
    * group's filter from it). Read by every disk write path, so
    * compaction / z-order / segment-local mutations regenerate the
    * filters the table was declared with. */
  private[v2] def bloomSpec(name: String): Map[String, Long] =
    props(name).get("bloom.columns").map {
      _.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { tok =>
        tok.split(":").map(_.trim) match {
          case Array(c, n) => c -> n.toLong
          case Array(c) => c -> 100000L
          case _ => throw new IllegalArgumentException(
            s"graft-store: bad bloom.columns token: '$tok' (want col or col:ndv)")
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** The same spec as Spark parquet writer options (the distributed
    * write paths; [[GraftParquet.write]] takes the spec directly). */
  private def bloomWriteOptions(spec: Map[String, Long]): Map[String, String] =
    spec.iterator.flatMap { case (c, ndv) => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }.toMap

  /** Read back a written segment file's bloom filters per the
    * collection's spec (empty spec → empty map, zero footer IO).
    * `bloom.mode = lazy` pins NOTHING in the manifest: probes load from
    * footers on first use through the byte-capped [[BloomCache]] —
    * the 100 TB posture, where NDV-sized filters per row group would
    * otherwise be resident driver RAM per live segment. */
  private def segBlooms(name: String, paths: Vector[String],
                        schema: StructType): Map[String, SegmentBloom] = {
    val spec = bloomSpec(name)
    if (spec.isEmpty) Map.empty
    else if (props(name).get("bloom.mode").contains("lazy"))
      spec.keys.toSeq.filter(schema.fieldNames.contains).map(c =>
        c -> new SegmentBloom(() => {
          // one file without a probe set leaves the segment none
          val ps = paths.map(BloomCache.get(_, schema, c))
          if (ps.exists(_.isEmpty)) Vector.empty else ps.flatten
        }, 0L)).toMap
    else {
      val per = paths.map(GraftParquet.bloomFilters(_, schema, spec.keys.toSeq))
      per.head.keys.filter(c => per.forall(_.contains(c)))
        .map(c => c -> new SegmentBloom(per.flatMap(_(c)))).toMap
    }
  }

  /** Driver-built blooms for MEMORY payload segments — same spec, same
    * pruning as the parquet footer path, sized at the true per-segment
    * cardinality (the values are in hand). */
  private def memBlooms(name: String, schema: StructType,
                        rows: Vector[Row]): Map[String, SegmentBloom] = {
    val spec = bloomSpec(name)
    if (spec.isEmpty || rows.isEmpty) return Map.empty
    spec.keys.toSeq.flatMap { c =>
      schema.fields.find(_.name == c).filter(f => f.dataType match {
        case StringType | LongType | IntegerType | DoubleType | FloatType => true
        case _ => false
      }).map { _ =>
        val idx = schema.fieldIndex(c)
        val vals: Set[AnyRef] = rows.iterator.map(_.get(idx)).filter(_ != null).map {
          case s: String => org.apache.parquet.io.api.Binary.fromString(s): AnyRef
          case l: Long => java.lang.Long.valueOf(l)
          case i: Int => java.lang.Integer.valueOf(i)
          case d: Double => java.lang.Double.valueOf(d)
          case f: Float => java.lang.Float.valueOf(f)
          case other => other.asInstanceOf[AnyRef] // unreachable per the type gate
        }.toSet
        c -> new SegmentBloom(Vector(GraftParquet.valueProbe(vals)))
      }
    }.toMap
  }

  /** Attach spec'd blooms to freshly built memory segments (disk
    * segments read theirs from parquet footers instead). */
  private def withMemBlooms(name: String, schema: StructType,
                            segs: Vector[Segment]): Vector[Segment] =
    if (bloomSpec(name).isEmpty) segs
    else segs.map { s =>
      if (s.count == 0L || !s.payload.isInstanceOf[MemRows]) s
      else s.copy(blooms = memBlooms(name, schema, s.rows))
    }

  /** Disk payloads carry flat scalar schemas only: refuse anything else
    * before a file is written. */
  private def requireDiskSchema(name: String, schema: StructType): Unit =
    GraftParquet.unsupported(schema).foreach { f =>
      throw new IllegalArgumentException(
        s"graft-store: disk payload for '$name' cannot carry column " +
          s"${f.name}: ${f.dataType.catalogString} (flat scalar schemas only)")
    }

  /** Spill in-memory segments to parquet under `dir` (zone maps stay as
    * computed — driver-side rows are exact, no need for footer stats). */
  private def spill(name: String, schema: StructType, segs: Vector[Segment],
                    dir: String): Vector[Segment] = {
    requireDiskSchema(name, schema)
    val sub = s"$dir/${name.replaceAll("[^A-Za-z0-9._-]", "_")}-g${spillGen.incrementAndGet()}"
    new java.io.File(sub).mkdirs()
    segs.zipWithIndex.map { case (seg, i) =>
      if (seg.count == 0L) seg
      else {
        val path = s"$sub/seg-$i.parquet"
        val it = seg.payload.iterator
        val n = try GraftParquet.write(path, schema, it, bloomSpec(name))
                finally GraftParquet.closeQuietly(it)
        Segment(ParquetRows(Vector(path), schema, n, Map.empty), seg.zones,
          segBlooms(name, Vector(path), schema), GraftParquet.fileBytes(path))
      }
    }
  }

  /** Register (Overwrite) a collection from driver-side rows. Payload
    * mode is STICKY: re-registering an existing disk-backed collection
    * (every mutation path funnels here) re-spills to its payload dir
    * unless `payloadDir` explicitly overrides. */
  def register(name: String, schema: StructType, rows: Seq[Row],
               shardKey: Option[String] = None, numSegments: Int = DefaultSegments,
               payloadDir: Option[String] = None): Unit =
    store.synchronized {
      val dir = payloadDir.orElse(store.get(name).flatMap(_.payloadDir))
      val segs = shard(schema, shardKey, rows.toVector, numSegments)
      install(name, Collection(schema, shardKey,
        dir.map(spill(name, schema, segs, _))
          .getOrElse(withMemBlooms(name, schema, segs)), payloadDir = dir))
      bumpOrderEpoch(name) // full rewrite: any row order may change
    }

  /** The schema an overwrite of `name` lands with: the writing query's,
    * with every column the existing collection declares nullable kept
    * nullable. A query's schema is often non-null where the table's
    * (DDL) is not; narrowing would make a later append of nulls fail. */
  private[v2] def overwriteSchema(name: String, schema: StructType): StructType =
    store.synchronized(store.get(name)) match {
      case Some(c) =>
        val nullable = c.schema.fields.filter(_.nullable).map(_.name).toSet
        StructType(schema.fields.map(f =>
          if (nullable(f.name)) f.copy(nullable = true) else f))
      case None => schema
    }

  /** Layout equality = names + types; nullability is a constraint, not
    * a layout — an INSERT's query schema legitimately arrives
    * non-nullable against a nullable DDL schema. */
  private def requireAppendable(name: String, have: StructType, in: StructType): Unit =
    require(have.fields.map(f => (f.name, f.dataType)).toSeq ==
        in.fields.map(f => (f.name, f.dataType)).toSeq,
      s"append schema mismatch for $name: $have vs $in")

  // ------------------------------------------------ task-landed writes

  /** One parquet file a write task landed under the write's generation
    * dir: its manifest entry (row count, zone maps over its rows, bytes
    * on disk) and whether any row had a null shard key — the one fact
    * the order-epoch rule needs that zone maps do not keep. */
  case class WrittenSegment(path: String, count: Long, zones: Map[String, (Any, Any)],
                            bytes: Long, nullKey: Boolean)

  /** Is `c`'s payload written by the write tasks themselves? Disk-backed
    * and unclustered: a clustered layout regroups rows by key, and a
    * memory payload is the rows. */
  private def landsFromTasks(c: Collection): Boolean =
    c.payloadDir.isDefined && c.clusterKey.isEmpty

  /** Start a catalog/DSv2 batch write whose tasks land their own
    * segment files: a disk-backed collection without a cluster key gets
    * a fresh generation dir, pinned against [[vacuum]] until
    * [[commitWritten]] or [[abortWritten]]. None — memory payloads and
    * clustered layouts, whose rows the driver must see, and names that
    * are no live collection — means the write ships its rows. */
  private[v2] def openWrite(name: String, schema: StructType): Option[String] =
    store.synchronized {
      store.get(name).filter(landsFromTasks).map { c =>
        requireDiskSchema(name, schema)
        freshGenDir(name, c.payloadDir.get)
      }
    }

  /** Does a task-landed write into `name` lay the collection out afresh
    * (an overwrite, or the first rows into an empty collection)? A
    * sharded one then asks Spark for [[DefaultSegments]] range tasks —
    * the layout [[register]] gives memory collections — instead of
    * whatever few tasks adaptive execution coalesces a small write to. */
  private[v2] def writeLaysOut(name: String, truncate: Boolean): Boolean =
    store.synchronized {
      store.get(name).exists(c => landsFromTasks(c) && (truncate || c.rowCount == 0L))
    }

  /** Driver half of a task-landed write: install the segments the tasks
    * wrote, atomically under the store lock, then unpin `sub`. A write
    * adds at most [[DefaultSegments]] segments, however many tasks it
    * ran: beyond that, consecutive files share one segment (a sharded
    * write's files are consecutive key ranges, so each segment still
    * covers one). An append adds them as tail segments (existing
    * segments survive by reference; into an empty collection they
    * replace its placeholder); a truncate installs them as the whole
    * collection with [[overwriteSchema]]. Order-epoch rules are
    * [[append]]'s and [[register]]'s: a tail append keeps the epoch, a
    * truncate bumps it, and so does a sharded first append carrying a
    * null key. A collection dropped or re-laid out mid-write fails the
    * commit loudly (Spark then aborts it). */
  private[v2] def commitWritten(name: String, schema: StructType, truncate: Boolean,
                                shardKey: Option[String], sub: String,
                                written: Seq[WrittenSegment]): Unit =
    try {
      val landed = written.filter(_.count > 0L).toVector
      val groups =
        if (landed.isEmpty) Vector.empty
        else landed.grouped((landed.size + DefaultSegments - 1) / DefaultSegments).toVector
      // bloom footers are read before the store lock is taken
      val blooms = groups.map(g => segBlooms(name, g.map(_.path), schema))
      store.synchronized {
        val c = store.get(name).filter(landsFromTasks)
          .getOrElse(throw new IllegalStateException(
            s"graft-store: '$name' was dropped or re-laid out during the write"))
        val segSchema =
          if (truncate) overwriteSchema(name, schema)
          else { requireAppendable(name, c.schema, schema); c.schema }
        val segs = groups.zip(blooms).map { case (g, b) =>
          Segment(ParquetRows(g.map(_.path), segSchema, g.map(_.count).sum),
            g.map(_.zones).reduce(unionZones), b, g.map(_.bytes).sum)
        }
        if (truncate) {
          install(name, Collection(segSchema, shardKey,
            if (segs.isEmpty) Vector(Segment(Vector.empty[Row], Map.empty[String, (Any, Any)]))
            else segs,
            payloadDir = c.payloadDir))
          bumpOrderEpoch(name)
        } else if (segs.nonEmpty) {
          val first = c.rowCount == 0L
          install(name, c.copy(segments = (if (first) Vector.empty else c.segments) ++ segs))
          if (first && c.shardKey.isDefined && written.exists(_.nullKey)) bumpOrderEpoch(name)
        }
      }
    } finally unpin(sub)

  /** Driver half of a failed task-landed write: delete the files the
    * committed tasks reported and unpin `sub`; a file whose task died
    * before reporting stays for the next [[vacuum]]. */
  private[v2] def abortWritten(sub: String, written: Seq[WrittenSegment]): Unit =
    try written.foreach(w => GraftParquet.delete(w.path)) finally unpin(sub)

  /** Generation dirs an in-flight distributed write has pinned. */
  private[graft] def pinnedDirs: Set[String] = store.synchronized(pendingDirs.toSet)

  /** Register a collection CLUSTERED on a key: exactly one segment per
    * distinct key value (deterministic key order). This is the layout
    * contract behind storage-partitioned joins — the scan can then
    * report [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * and two collections clustered on their join key join with ZERO
    * shuffle (the DSv2 analogue of two bucketed tables, or of Mongo
    * collections sharded on the same key). Identity clustering is the
    * demo-friendly transform; a production store would typically use
    * `bucket(n, key)` so cardinality doesn't drive partition count. */
  def registerClustered(name: String, schema: StructType, rows: Seq[Row],
                        clusterKey: String,
                        payloadDir: Option[String] = None): Unit = store.synchronized {
    val idx = schema.fieldIndex(clusterKey)
    val segs = rows.toVector.groupBy(_.get(idx)).toVector
      .sortWith { case ((a, _), (b, _)) =>
        if (a == null) b != null else if (b == null) false else cmp(a, b) < 0 }
      .map { case (_, g) => Segment(g, zoneMaps(schema, g)) }
    val dir = payloadDir.orElse(store.get(name).flatMap(_.payloadDir))
    install(name, Collection(schema, None,
      dir.map(spill(name, schema, segs, _))
        .getOrElse(withMemBlooms(name, schema, segs)),
      clusterKey = Some(clusterKey), payloadDir = dir))
    bumpOrderEpoch(name) // clustering regroups rows arbitrarily
  }

  /** Hard ceiling on the dev-only driver-collect ingest paths ([[load]]
    * / [[loadClustered]]): materializing more rows than this on the
    * driver is a deployment mistake — [[loadDisk]] /
    * [[loadClusteredDisk]] ingest through executors with the driver
    * touching only footers. Overridable via `graft.store.load.max.rows`. */
  private def loadMaxRows: Long =
    sys.props.get("graft.store.load.max.rows").map(_.toLong).getOrElse(5000000L)

  private def guardLoad(name: String, df: DataFrame): Unit = {
    val n = df.count()
    require(n <= loadMaxRows,
      s"GraftStore.load('$name'): $n rows exceeds the driver-collect ceiling " +
        s"($loadMaxRows). This path materializes every row on the driver and " +
        "exists for tests/dev only — use loadDisk/loadClusteredDisk (executors " +
        "write the payload; the driver reads only parquet footers).")
  }

  /** Convenience: materialize a DataFrame into the store (the test/dev
    * ingest path; a real deployment writes through the connector's
    * [[org.apache.spark.sql.connector.write.BatchWrite]] or ingests via
    * [[loadDisk]]). Guarded: refuses row counts that signal someone
    * shipping the collect path by accident. */
  def load(name: String, df: DataFrame, shardKey: Option[String] = None,
           numSegments: Int = DefaultSegments): Unit = {
    guardLoad(name, df)
    register(name, df.schema, df.collect().toIndexedSeq, shardKey, numSegments)
  }

  /** [[registerClustered]] from a DataFrame. Guarded like [[load]]. */
  def loadClustered(name: String, df: DataFrame, clusterKey: String): Unit = {
    guardLoad(name, df)
    registerClustered(name, df.schema, df.collect().toIndexedSeq, clusterKey)
  }

  /** Disk-backed DISTRIBUTED ingest — the path that scales past driver
    * RAM: executors range-partition and write the parquet payload
    * directly (`repartitionByRange` + per-partition sort gives each
    * file a contiguous key span, so zone maps land disjoint), and the
    * driver touches only FOOTERS — zone maps and row counts come from
    * parquet column statistics, zero rows ever materialize driver-side.
    * Exactly how a lakehouse manifest is built, and the layout twin of
    * [[register]]'s driver-side sharding. */
  def loadDisk(name: String, df: DataFrame, shardKey: String,
               numSegments: Int, dir: String,
               bloomCols: Map[String, Long] = Map.empty): Unit = {
    if (bloomCols.nonEmpty)
      setProps(name, props(name) + ("bloom.columns" ->
        bloomCols.map { case (c, n) => s"$c:$n" }.mkString(",")))
    val sub = freshGenDir(name, dir)
    try {
      val segs = writeRangeSegments(name, df, Some(shardKey), numSegments, sub)
      store.synchronized {
        install(name, Collection(df.schema, Some(shardKey),
          if (segs.isEmpty) Vector(Segment(Vector.empty[Row], Map.empty[String, (Any, Any)]))
          else segs,
          payloadDir = Some(dir)))
        bumpOrderEpoch(name)
      }
    } finally unpin(sub)
  }

  /** Distributed parquet write into a fresh generation dir + footer-
    * derived segments: executors arrange and write, the driver touches
    * only footers. The arrangement (range shard, z-order, …) decides
    * the zone-map layout; `sub` comes pre-pinned from [[freshGenDir]]. */
  private def writeSegmentsVia(name: String, df: DataFrame, sub: String)
                              (arrange: DataFrame => DataFrame): Vector[Segment] = {
    requireDiskSchema(name, df.schema)
    val spark = df.sparkSession
    // the reader speaks INT64 micros; INT96 timestamps would not round-trip
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try arrange(df).write
      .options(bloomWriteOptions(bloomSpec(name)))
      .mode("overwrite").parquet(sub)
    finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    GraftParquet.listPartFiles(sub).map { case (p, bytes) =>
      val (n, zones) = GraftParquet.footerStats(p, df.schema)
      Segment(ParquetRows(Vector(p), df.schema, n), zones,
        segBlooms(name, Vector(p), df.schema), bytes)
    }.filter(_.count > 0L)
  }

  /** Range-sharded arrangement — shared by [[loadDisk]] and [[compact]].
    * Without a shard key the exchange is a plain round-robin
    * repartition (no pruning layout to build). */
  private def writeRangeSegments(name: String, df: DataFrame,
                                 shardKey: Option[String], numSegments: Int,
                                 sub: String): Vector[Segment] = {
    import org.apache.spark.sql.functions.col
    writeSegmentsVia(name, df, sub) { d =>
      shardKey match {
        case Some(k) => d.repartitionByRange(math.max(1, numSegments), col(k))
          .sortWithinPartitions(k)
        case None => d.repartition(math.max(1, numSegments))
      }
    }
  }

  /** DISTRIBUTED compaction: re-ingest the collection through its own
    * connector scan — executors read the fragmented segments and write
    * a fresh range layout; the driver swaps manifests. This is the
    * answer to tail-segment accumulation from per-epoch appends (small
    * files): zone spans become disjoint again and pruning recovers its
    * selectivity. Optimistic like the row-level commits: the Spark job
    * runs WITHOUT the store lock, and the swap validates the segment
    * list is still the one it read (reference equality), failing loudly
    * if a writer raced. Reorders rows ⇒ order epoch bumps (streaming
    * readers must restart, as after any rewrite). In-memory collections
    * just relayout. Returns (segments before, segments after). */
  def compact(name: String, spark: org.apache.spark.sql.SparkSession,
              numSegments: Int = -1): (Int, Int) = {
    val before = get(name)
    require(before.clusterKey.isEmpty,
      s"graft-store: '$name' is cluster-keyed — its layout is already one segment per key")
    val target =
      if (numSegments > 0) numSegments
      else math.max(1, math.min(before.segments.size, DefaultSegments))
    before.payloadDir match {
      case Some(dir) =>
        val df = spark.read.format("graft-store").option("name", name).load()
        val sub = freshGenDir(name, dir)
        try {
          val segs = writeRangeSegments(name, df, before.shardKey, target, sub)
          store.synchronized {
            val now = get(name)
            if (now.segments ne before.segments)
              throw new IllegalStateException(
                s"graft-store: collection '$name' was mutated during compaction; " +
                  "rerun against the new state")
            install(name, now.copy(segments =
              if (segs.isEmpty) Vector(Segment(Vector.empty[Row], Map.empty[String, (Any, Any)]))
              else segs))
            bumpOrderEpoch(name)
          }
        } finally unpin(sub)
      case None => store.synchronized {
        val now = get(name)
        if (now.segments ne before.segments)
          throw new IllegalStateException(
            s"graft-store: collection '$name' was mutated during compaction; " +
              "rerun against the new state")
        register(name, now.schema, now.rows, now.shardKey, target)
      }
    }
    (before.segments.size, get(name).segments.size)
  }

  /** DISTRIBUTED 2-D re-clustering (`CALL system.zorder`): re-ingest
    * the collection through its own connector scan, laid out by the
    * Morton interleave of two numeric columns
    * ([[graft.sources.Layout.mortonE]], each dimension normalized to
    * 16 bits over its observed min/max). A range shard is selective in
    * exactly ONE dimension — after z-order every segment covers a tight
    * RECTANGLE in (x, y) space, so zone maps prune on predicates over
    * EITHER column (or both). The footer-derived zone maps stay exact
    * min/max over the real values, so pruning correctness never depends
    * on the quantization; the layout only decides how tight they are.
    *
    * The min/max bounds probe is answered by the connector's aggregate
    * pushdown (zone maps), so the driver pays two metadata lookups, not
    * a scan. The re-layout drops the shard key (rows are no longer
    * range-contiguous in it — its zone maps keep pruning, just looser)
    * and records the layout in the collection props. Same optimistic
    * concurrency + order-epoch rules as [[compact]]. */
  def zorder(name: String, spark: org.apache.spark.sql.SparkSession,
             xCol: String, yCol: String, numSegments: Int = -1): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, expr}
    val before = get(name)
    require(before.clusterKey.isEmpty,
      s"graft-store: '$name' is cluster-keyed — one segment per key value; z-order does not apply")
    Seq(xCol, yCol).foreach { c =>
      val f = before.schema.fields.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(s"graft-store: no such column: $c"))
      require(f.dataType.isInstanceOf[NumericType],
        s"graft-store: z-order column $c must be numeric, got ${f.dataType.catalogString}")
    }
    val target =
      if (numSegments > 0) numSegments
      else math.max(1, before.segments.size)
    def zArranged(df: DataFrame): DataFrame = {
      val (xE, yE) = (s"cast(`$xCol` as bigint)", s"cast(`$yCol` as bigint)")
      val b = df.selectExpr(s"min($xE)", s"max($xE)", s"min($yE)", s"max($yE)").head()
      if (b.isNullAt(0)) return df.repartition(1) // empty/all-null: nothing to cluster
      def norm(e: String, lo: Long, hi: Long): String =
        s"(((coalesce($e, $lo)) - $lo) * 65535) div ${math.max(1L, hi - lo)}"
      df.withColumn("__z", expr(graft.sources.Layout.mortonE(
          graft.sources.Layout.clampE(norm(xE, b.getLong(0), b.getLong(1))),
          graft.sources.Layout.clampE(norm(yE, b.getLong(2), b.getLong(3))))))
        .repartitionByRange(target, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
    def swap(now: Collection, segs: Vector[Segment]): Unit = {
      if (now.segments ne before.segments)
        throw new IllegalStateException(
          s"graft-store: collection '$name' was mutated during z-order; " +
            "rerun against the new state")
      install(name, now.copy(shardKey = None, segments =
        if (segs.isEmpty) Vector(Segment(Vector.empty[Row], Map.empty[String, (Any, Any)]))
        else segs))
      setProps(name, props(name) + ("layout" -> s"zorder($xCol, $yCol)"))
      bumpOrderEpoch(name)
    }
    before.payloadDir match {
      case Some(dir) =>
        val df = spark.read.format("graft-store").option("name", name).load()
        val sub = freshGenDir(name, dir)
        try {
          val segs = writeSegmentsVia(name, df, sub)(zArranged)
          store.synchronized(swap(get(name), segs))
        } finally unpin(sub)
      case None =>
        // in-memory collections are driver-resident by contract: arrange
        // through the same local session and re-chunk into `target`
        val df = spark.read.format("graft-store").option("name", name).load()
        val arranged = zArranged(df).collect().toVector
        val per = math.max(1L, (arranged.size + target - 1L) / target).toInt
        val segs = arranged.grouped(per).map { chunk =>
          Segment(chunk, zoneMaps(before.schema, chunk),
            memBlooms(name, before.schema, chunk))
        }.toVector
        store.synchronized(swap(get(name), segs))
    }
    (before.segments.size, get(name).segments.size)
  }

  /** Expire time-travel history and reclaim unreferenced disk payload
    * (`CALL system.vacuum`): trims the collection's retained version
    * ring to the last `keepLast` generations, then sweeps the
    * collection's generation subdirectories, deleting every file not
    * referenced by ANY live collection or retained version STORE-WIDE
    * (a sanitized-name prefix collision between collections must never
    * delete a sibling's files) and not pinned by an in-flight
    * distributed write ([[pendingDirs]]). Segment structure sharing
    * makes this safe-by-construction for narrow mutations: a
    * generation that survived segment-local rewrite shares payload
    * FILES with its successors, and shared files stay referenced.
    *
    * The classic vacuum caveat applies (same as any MVCC store): a
    * scan that planned against a now-expired generation and is still
    * running loses its files. Expired `VERSION AS OF` reads fail
    * loudly with the retained window in the message.
    *
    * Returns (expired versions, deleted files, reclaimed bytes). */
  def vacuum(name: String, keepLast: Int = 1): (Int, Int, Long) = store.synchronized {
    require(keepLast >= 1,
      s"graft-store: vacuum keep_last must be >= 1, got $keepLast")
    name match {
      case SnapshotName(_, v) => throw new UnsupportedOperationException(
        s"graft-store: '$name' is a read-only VERSION AS OF $v snapshot")
      case _ => ()
    }
    val live = store.getOrElse(name, throw new NoSuchElementException(
      s"graft-store: no such collection: $name"))
    val all = versions.getOrElse(name, Vector.empty)
    val kept = all.takeRight(keepLast)
    versions(name) = kept
    val expired = all.size - kept.size
    live.payloadDir match {
      case Some(dir) =>
        // referenced = every parquet path any live collection or any
        // retained version (store-wide) can still reach
        def paths(c: Collection): Iterator[String] =
          c.segments.iterator.flatMap(_.payload match {
            case ParquetRows(ps, _, _, _) => ps
            case _ => Nil
          })
        val referenced: Set[String] =
          (store.valuesIterator.flatMap(paths) ++
            versions.valuesIterator.flatMap(_.iterator).map(_._3).flatMap(paths))
            .map(canonicalPath).toSet
        val prefix = name.replaceAll("[^A-Za-z0-9._-]", "_") + "-g"
        var files = 0
        var bytes = 0L
        // depth-first sweep: delete unreferenced files, then any
        // directory the sweep emptied
        def sweep(f: java.io.File): Unit = {
          if (f.isDirectory) {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(sweep)
            if (Option(f.listFiles()).forall(_.isEmpty)) f.delete()
          } else if (!referenced.contains(canonicalPath(f.getPath))) {
            val len = f.length()
            if (f.delete()) { files += 1; bytes += len }
          }
        }
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
            !pendingDirs.contains(canonicalPath(f.getPath)))
          .foreach(sweep)
        (expired, files, bytes)
      case None => (expired, 0, 0L)
    }
  }

  /** Disk-backed [[loadClustered]]: one `key=value` partition directory
    * per distinct cluster-key value, each directory one (multi-file)
    * segment — the layout contract behind storage-partitioned joins,
    * built without driver-side rows. The key column lives in the
    * directory NAME, not the files; the segment payload re-injects it
    * as a constant.
    *
    * The pre-write exchange is a RANGE repartition on (key, input id),
    * not a hash repartition on the key: hash-by-key hands every row of
    * a key to ONE writer, so a hot key's whole payload must fit a
    * single task (the classic skewed-writer OOM). Range-with-tiebreak
    * splits a hot key across `numSlices` writers — each key directory
    * then holds several files, and the segment reads them in order;
    * writer memory is bounded by the SLICE, not the key. */
  def loadClusteredDisk(name: String, df: DataFrame, clusterKey: String,
                        dir: String, numSlices: Int = 64): Unit = {
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
    requireDiskSchema(name, df.schema)
    val sub = freshGenDir(name, dir)
    try {
      df.withColumn("__slice", monotonically_increasing_id())
        .repartitionByRange(math.max(1, numSlices), col(clusterKey), col("__slice"))
        .drop("__slice")
        .write.partitionBy(clusterKey).mode("overwrite").parquet(sub)
      val schema = df.schema
      val keyIdx = schema.fieldIndex(clusterKey)
      val keyType = schema(keyIdx).dataType
      def typedKey(s: String): Any = keyType match {
        case StringType => s
        case LongType => s.toLong
        case IntegerType => s.toInt
        case DoubleType => s.toDouble
        case FloatType => s.toFloat
        case BooleanType => s.toBoolean
        case other => throw new IllegalArgumentException(
          s"graft-store: unsupported cluster-key type for disk layout: $other")
      }
      val segs = GraftParquet.listKeyDirs(sub, clusterKey).map { case (raw, files) =>
        val key = raw.map(typedKey).orNull
        val stats = files.map(f => GraftParquet.footerStats(f._1, schema))
        val count = stats.map(_._1).sum
        var zones = stats.map(_._2).reduceOption(unionZones).getOrElse(Map.empty)
        if (key != null) zones += (clusterKey -> (key, key))
        (key, Segment(ParquetRows(files.map(_._1), schema, count, Map(keyIdx -> key)), zones,
          bytes = files.map(_._2).sum))
      }.sortWith { case ((a, _), (b, _)) =>
        if (a == null) b != null else if (b == null) false else cmp(a, b) < 0
      }.map(_._2)
      store.synchronized {
        install(name, Collection(schema, None,
          if (segs.isEmpty) Vector(Segment(Vector.empty[Row], Map.empty[String, (Any, Any)]))
          else segs,
          clusterKey = Some(clusterKey), payloadDir = Some(dir)))
        bumpOrderEpoch(name)
      }
    } finally unpin(sub)
  }

  /** Replace a collection's rows wholesale, PRESERVING its layout
    * (shard/cluster key, segment count) — the commit primitive for
    * copy-on-write row-level operations (SQL UPDATE/MERGE). */
  def replaceAll(name: String, schema: StructType, rows: Seq[Row]): Unit =
    store.synchronized {
      store.get(name) match {
        case Some(c) => c.clusterKey match {
          case Some(k) => registerClustered(name, c.schema, rows, k)
          case None => register(name, c.schema, rows, c.shardKey,
            math.max(1, c.segments.size))
        }
        case None => register(name, schema, rows)
      }
    }

  /** Append rows, preserving the collection's shard layout (re-shards —
    * the moral equivalent of a compaction after an append batch).
    * `numSegments <= 0` (the default) means "preserve the collection's
    * existing segment count" — an append must not silently re-lay a
    * 4-segment collection out as 8. An EMPTY collection (a freshly
    * CREATEd catalog table is one empty segment) has no established
    * layout yet, so the first real append uses the default 8 — pinning
    * it to the placeholder's 1 segment would kill pruning forever. */
  def append(name: String, schema: StructType, rows: Seq[Row],
             numSegments: Int = -1): Unit = store.synchronized {
    val segCount =
      if (numSegments > 0) numSegments
      else store.get(name).filter(_.rowCount > 0)
        .map(c => math.max(1, c.segments.size)).getOrElse(DefaultSegments)
    store.get(name) match {
      case Some(c) =>
        requireAppendable(name, c.schema, schema)
        c.clusterKey match {
          case Some(k) => registerClustered(name, c.schema, c.rows ++ rows, k)
          // disk-backed: new rows land as a fresh TAIL segment, existing
          // segments survive by reference — appending to a collection
          // bigger than driver RAM must not re-shard it (the compaction
          // operator exists for when small tail segments accumulate).
          // Row positions are unchanged (strictly-after tail), so the
          // order epoch never bumps on this path; the cost is zone
          // spans that may overlap the existing layout (looser pruning,
          // never wrong).
          case None if c.payloadDir.isDefined && c.rowCount > 0 =>
            appendTailSegment(name, rows.toVector)
          case None =>
            // Does this append preserve the existing row order? Unsharded:
            // always (rows extend). Sharded: the re-shard's stable sort
            // keeps the old prefix intact iff every new key ≥ the current
            // max (a pure tail append); anything else interleaves new rows
            // into the consumed prefix, so streaming offsets must break
            // LOUDLY — the order epoch records it. The old maximum comes
            // from the zone maps (exact per-segment min/max), never from
            // materializing rows; a non-empty segment with no zone entry
            // for the key leaves the maximum unknowable → conservative
            // not-tail-safe.
            val tailSafe = c.shardKey match {
              case None => true
              case Some(key) =>
                val idx = c.schema.fieldIndex(key)
                val zonesComplete = c.segments.forall(s =>
                  s.count == 0 || s.zones.contains(key))
                val oldMax = c.segments.flatMap(_.zones.get(key)).map(_._2)
                  .reduceOption((a, b) => if (cmp(a, b) >= 0) a else b)
                zonesComplete && rows.forall(_.get(idx) != null) &&
                  oldMax.forall(mx => rows.forall(r => cmp(r.get(idx), mx) >= 0))
            }
            val segs = shard(c.schema, c.shardKey, c.rows ++ rows, segCount)
            install(name, Collection(c.schema, c.shardKey,
              c.payloadDir.map(spill(name, c.schema, segs, _))
                .getOrElse(withMemBlooms(name, c.schema, segs)),
              payloadDir = c.payloadDir))
            if (!tailSafe) bumpOrderEpoch(name)
        }
      case None => register(name, schema, rows, None, segCount)
    }
  }

  /** Re-register `rows` under `coll`'s existing layout (cluster key, or
    * shard key + segment count). Callers hold the store lock. */
  private def relayout(name: String, coll: Collection, rows: Seq[Row]): Unit =
    coll.clusterKey match {
      case Some(k) => registerClustered(name, coll.schema, rows, k)
      case None => register(name, coll.schema, rows, coll.shardKey,
        math.max(1, coll.segments.size))
    }

  /** SEGMENT-LOCAL rewrite: each segment either survives BY REFERENCE
    * (`transform` returns None — zero IO, zero memory) or is rebuilt by
    * STREAMING its replacement iterator straight to the new payload —
    * disk segments spill to a fresh generation file with exact
    * footer-derived zone maps; memory segments materialize only
    * themselves. This is what keeps mutations O(touched segments) on a
    * collection that is far larger than driver RAM — the global
    * relayout (materialize everything, re-shard) would be the ingest
    * OOM all over again. Row positions may shift, so the order epoch
    * always bumps. Callers hold the store lock. */
  private def rewriteSegments(name: String, coll: Collection,
      transform: (Segment, Int, Long) => Option[Iterator[Row]]): Unit = {
    val bases = coll.segments.scanLeft(0L)(_ + _.count)
    lazy val sub = {
      val d = s"${coll.payloadDir.get}/${name.replaceAll("[^A-Za-z0-9._-]", "_")}-g${spillGen.incrementAndGet()}"
      new java.io.File(d).mkdirs()
      d
    }
    val segs = coll.segments.zipWithIndex.map { case (seg, i) =>
      transform(seg, i, bases(i)) match {
        case None => seg
        case Some(it) => coll.payloadDir match {
          case Some(_) =>
            val path = s"$sub/seg-$i.parquet"
            // write() drains the iterator, so the disk reader under a
            // derived iterator self-closes at exhaustion
            val n = GraftParquet.write(path, coll.schema, it, bloomSpec(name))
            if (n == 0L) Segment(Vector.empty[Row], Map.empty[String, (Any, Any)])
            else {
              val (cnt, zones) = GraftParquet.footerStats(path, coll.schema)
              Segment(ParquetRows(Vector(path), coll.schema, cnt), zones,
                segBlooms(name, Vector(path), coll.schema), GraftParquet.fileBytes(path))
            }
          case None =>
            val rows = it.toVector
            Segment(rows, zoneMaps(coll.schema, rows),
              memBlooms(name, coll.schema, rows))
        }
      }
    }
    install(name, coll.copy(segments = segs))
    bumpOrderEpoch(name)
  }

  /** Atomic `DELETE FROM ... WHERE`, SEGMENT-LOCAL: zone maps first
    * prove which segments can possibly hold a matching row — everything
    * else survives by reference — and candidate segments stream through
    * the filter into fresh payloads. A narrow delete on a sharded
    * collection rewrites one segment, never the table, and never
    * materializes the collection. Runs under the store lock, so a
    * concurrent append/write cannot be silently lost. */
  def deleteWhere(name: String, filters: Array[Filter]): Unit =
    store.synchronized {
      val coll = get(name)
      rewriteSegments(name, coll, (seg, _, _) =>
        // DELETE matches rows passing ALL filters; a segment where the
        // zone maps refute any one filter cannot contain a match
        if (!filters.forall(mightMatch(_, seg))) None
        else Some(seg.iterator.filterNot(r =>
          filters.forall(eval(_, r, coll.schema)))))
    }

  /** Atomic `TRUNCATE TABLE`: drop every row, keep the collection (and
    * its layout) addressable. */
  def truncate(name: String): Unit = store.synchronized {
    relayout(name, get(name), Vector.empty)
  }

  /** Atomic commit for a copy-on-write row-level operation (UPDATE/
    * MERGE): verifies the collection's segment list is EXACTLY the one
    * the operation's scan planned against (reference equality — every
    * mutation path installs a fresh segment vector, so `eq` is an exact
    * and O(1) staleness test), then swaps the scanned segments' rows for
    * the rewrite output, preserving layout. A concurrent mutation
    * between scan planning and commit fails LOUDLY: merging against a
    * moved collection would drop or duplicate rows. */
  def commitReplace(name: String, schema: StructType, replacedIds: Set[Int],
                    plannedSegments: Vector[Segment], newRows: Seq[Row]): Unit =
    store.synchronized {
      val coll = get(name)
      if (coll.segments ne plannedSegments)
        throw new IllegalStateException(
          s"graft-store: collection '$name' was mutated between row-level " +
            "scan planning and commit; aborting the replace instead of " +
            "merging against moved segments")
      rowLevelSegmentsReplaced.set(replacedIds.size.toLong)
      coll.clusterKey match {
        // a cluster-keyed collection must rebuild globally: an UPDATE
        // may MOVE a row between key segments
        case Some(_) =>
          val untouched = coll.segments.zipWithIndex.collect {
            case (seg, i) if !replacedIds.contains(i) => seg.rows
          }.flatten
          replaceAll(name, schema, untouched ++ newRows)
        // zero matched segments (the runtime group filter pruned them
        // all — e.g. a MERGE whose every source key is NOT MATCHED):
        // the rewrite output is pure inserts, so APPEND it; replacing
        // the collection here would delete every existing row.
        case None if replacedIds.isEmpty =>
          if (newRows.nonEmpty) append(name, schema, newRows)
        // range-sharded: untouched segments survive BY REFERENCE; the
        // rewrite output (already driver-side — it arrived in commit
        // messages) re-sorts by the shard key and refills EXACTLY the
        // replaced ordinals. Zone maps are recomputed per refilled
        // segment, so pruning stays correct even if the new spans
        // overlap the untouched ones (looser, never wrong) — the
        // O(collection) global re-shard was the ingest OOM in
        // disguise for disk-backed collections.
        case None =>
          val slots = replacedIds.toVector.sorted
          val sorted = coll.shardKey match {
            case Some(k) =>
              val idx = coll.schema.fieldIndex(k)
              newRows.toVector.sortWith { (a, b) =>
                (a.get(idx), b.get(idx)) match {
                  case (null, null) => false
                  case (null, _) => true
                  case (_, null) => false
                  case (x, y) => cmp(x, y) < 0
                }
              }
            case None => newRows.toVector
          }
          val per = math.max(1, math.ceil(sorted.size.toDouble / slots.size).toInt)
          val chunks = sorted.grouped(per).toVector.padTo(slots.size, Vector.empty[Row])
          val refills: Map[Int, Vector[Row]] = slots.zip(chunks).toMap
          rewriteSegments(name, coll, (_, i, _) =>
            refills.get(i).map(_.iterator))
      }
    }

  /** Atomic commit for a DELTA row-level operation (UPDATE/MERGE/DELETE
    * through [[org.apache.spark.sql.connector.write.SupportsDelta]]):
    * only the CHANGED rows crossed the wire — deletes and updates are
    * addressed by `_pos` (the row's ordinal in the collection's stable
    * row order, the same order the streaming offsets ride), inserts
    * append. Same staleness validation as [[commitReplace]]: positions
    * minted at scan time are meaningless against a mutated collection,
    * so a concurrent writer fails the commit loudly. Layout is
    * preserved via [[replaceAll]]. */
  def commitDelta(name: String, schema: StructType,
                  plannedSegments: Vector[Segment], deleted: Set[Long],
                  updated: Map[Long, Row], inserted: Seq[Row]): Unit =
    store.synchronized {
      val coll = get(name)
      if (coll.segments ne plannedSegments)
        throw new IllegalStateException(
          s"graft-store: collection '$name' was mutated between delta " +
            "scan planning and commit; row positions are stale — aborting")
      rowLevelRowsShipped.set(deleted.size.toLong + updated.size + inserted.size)
      coll.clusterKey match {
        // cluster-keyed: an update may move a row between key segments —
        // rebuild globally (collections small enough to cluster in the
        // test double; a production store would re-route by key)
        case Some(_) =>
          val out = Vector.newBuilder[Row]
          var pos = 0L
          coll.segments.foreach(_.iterator.foreach { r =>
            if (!deleted.contains(pos)) out += updated.getOrElse(pos, r)
            pos += 1
          })
          replaceAll(name, schema, out.result() ++ inserted)
        // range-sharded: patch ONLY segments that own a delta position —
        // everything else survives by reference; inserts land as a
        // fresh tail segment. A 1-row UPDATE on a disk collection
        // rewrites 1 segment file and never materializes the rest.
        case None =>
          rewriteDeltas(name, coll, deleted, updated)
          if (inserted.nonEmpty) appendTailSegment(name, inserted.toVector)
      }
    }

  /** Position-addressed delete/update patches, segment-locally. Callers
    * hold the store lock. */
  private def rewriteDeltas(name: String, coll: Collection,
                            deleted: Set[Long], updated: Map[Long, Row]): Unit =
    rewriteSegments(name, coll, (seg, _, base) => {
      val end = base + seg.count
      val touched = deleted.exists(p => p >= base && p < end) ||
        updated.keys.exists(p => p >= base && p < end)
      if (!touched) None
      else Some(seg.iterator.zipWithIndex.flatMap { case (r, j) =>
        val pos = base + j
        if (deleted.contains(pos)) None else Some(updated.getOrElse(pos, r))
      })
    })

  /** Append `rows` as a fresh TAIL segment (sorted by the shard key for
    * a tight zone map), leaving every existing segment untouched — the
    * O(batch) append for collections too large to re-shard per batch.
    * Existing row positions are unchanged (new rows land strictly
    * after), so the order epoch does NOT bump. Callers hold the store
    * lock. */
  private def appendTailSegment(name: String, rows: Vector[Row]): Unit = {
    val coll = get(name)
    val segs = shard(coll.schema, coll.shardKey, rows, 1)
      .filter(_.count > 0)
    val spilled = coll.payloadDir match {
      case Some(dir) => spill(name, coll.schema, segs, dir)
      case None => withMemBlooms(name, coll.schema, segs)
    }
    if (spilled.nonEmpty)
      install(name, coll.copy(segments = coll.segments ++ spilled))
  }

  // ----------------------------------------------------- table props

  /** Per-collection table properties (the catalog's TBLPROPERTIES /
    * the provider's options) — e.g. `rowlevel` = `delta` (default) |
    * `group` selects the row-level-operation strategy. Metadata-only;
    * lives and dies with the collection. */
  private val tableProps =
    scala.collection.mutable.Map.empty[String, Map[String, String]]
  def setProps(name: String, props: Map[String, String]): Unit =
    store.synchronized { if (props.nonEmpty) tableProps(name) = props }
  def props(name: String): Map[String, String] =
    store.synchronized(tableProps.getOrElse(name, Map.empty))

  def get(name: String): Collection = store.synchronized {
    name match {
      // `coll@v<n>` resolves to the retained version-n snapshot — the
      // read path for time travel; [[install]] keeps such names
      // unwritable
      case SnapshotName(base, v) if store.contains(base) =>
        getVersion(base, v.toLong)
      case _ => store.getOrElse(name,
        throw new NoSuchElementException(s"graft-store: no such collection: $name"))
    }
  }

  // ------------------------------------------------- streaming commits

  /** Epoch ids already committed per (collection, streaming query):
    * micro-batch re-delivery after a stream restart re-commits the last
    * epoch, and exactly-once means that replay must be a no-op. Keyed by
    * the STREAMING QUERY ID as well as the collection — a second query
    * writing to the same collection, or a restart with a fresh
    * checkpoint (epoch numbering restarts at 0), is a legitimate new
    * writer whose epochs must land, not be skipped as replays. A real
    * store would persist this ledger next to the data (it IS the
    * transaction log); here it lives exactly as long as the store
    * itself, which is the same durability domain. */
  private val committedEpochs =
    scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.Set[Long]]

  /** Idempotent per-epoch streaming commit: appends (or overwrites, for
    * Complete-mode sinks) exactly once per (collection, query, epoch); a
    * replay of an already-committed epoch returns false and changes
    * nothing. The landed layout keeps the collection's existing shard
    * key (or the write's declared one for a fresh/truncated collection)
    * — a streaming sink must not silently strip the zone-map layout its
    * batch twin preserves. */
  def commitEpoch(name: String, schema: StructType, rows: Seq[Row],
                  epochId: Long, truncate: Boolean,
                  shardKey: Option[String] = None,
                  numSegments: Int = -1,
                  queryId: String = ""): Boolean = store.synchronized {
    val seen = committedEpochs.getOrElseUpdate((name, queryId),
      scala.collection.mutable.Set.empty)
    if (seen.contains(epochId)) false
    else {
      val key = (if (exists(name)) get(name).shardKey else None).orElse(shardKey)
      if (truncate) register(name, overwriteSchema(name, schema), rows, key,
        if (numSegments > 0) numSegments
        else store.get(name).map(c => math.max(1, c.segments.size)).getOrElse(DefaultSegments))
      else if (exists(name)) append(name, schema, rows, numSegments)
      else register(name, schema, rows, key,
        if (numSegments > 0) numSegments else DefaultSegments)
      seen += epochId
      true
    }
  }
  def exists(name: String): Boolean = store.synchronized(store.contains(name))
  def names: Seq[String] = store.synchronized(store.keys.toVector.sorted)
  /** Metadata-only rename (the catalog surface needs it). */
  def rename(from: String, to: String): Unit = store.synchronized {
    require(store.contains(from), s"graft-store: no such collection: $from")
    require(!store.contains(to), s"graft-store: collection exists: $to")
    store(to) = store.remove(from).get
    versions.remove(from).foreach(versions(to) = _)
    generation.remove(from).foreach(generation(to) = _)
    committedEpochs.keys.filter(_._1 == from).toVector.foreach { k =>
      committedEpochs((to, k._2)) = committedEpochs.remove(k).get
    }
    tableProps.remove(from).foreach(tableProps(to) = _)
  }
  def drop(name: String): Unit = store.synchronized {
    store.remove(name)
    // a re-created collection starts a fresh ledger and a fresh history
    versions.remove(name)
    generation.remove(name)
    committedEpochs.keys.filter(_._1 == name).toVector
      .foreach(committedEpochs.remove)
    tableProps.remove(name)
  }

  // ------------------------------------------------------------ filters

  /** The filter classes the scan claims (evaluates exactly per row AND
    * uses for zone-map pruning); everything else is left to Spark as a
    * residual.
    *
    * Comparison filters are only claimed on columns whose type [[cmp]]
    * can actually order — a claimed filter is REMOVED from Spark's
    * residual, so claiming (say) a Timestamp comparison that cmp can't
    * evaluate wouldn't degrade gracefully, it would crash the scan (or
    * worse, silently drop the predicate). Null tests need no ordering
    * and stay claimable on any column. */
  private def claimable(a: String, schema: StructType): Boolean =
    schema.fields.find(_.name == a).exists(f => f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | StringType |
           BooleanType => true
      case _ => false
    })
  private[v2] def supported(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, _) => claimable(a, schema)
    case GreaterThan(a, _) => claimable(a, schema)
    case GreaterThanOrEqual(a, _) => claimable(a, schema)
    case LessThan(a, _) => claimable(a, schema)
    case LessThanOrEqual(a, _) => claimable(a, schema)
    case In(a, _) => claimable(a, schema)
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case And(l, r) => supported(l, schema) && supported(r, schema)
    case _ => false
  }

  /** Exact row-level evaluation of a claimed filter (three-valued null
    * semantics collapse to "keep only definite true", which is what a
    * Filter means). */
  private[v2] def eval(f: Filter, row: Row, schema: StructType): Boolean = {
    def v(attr: String): Any = row.get(schema.fieldIndex(attr))
    f match {
      case EqualTo(a, x)            => val y = v(a); y != null && cmp(y, x) == 0
      case GreaterThan(a, x)        => val y = v(a); y != null && cmp(y, x) > 0
      case GreaterThanOrEqual(a, x) => val y = v(a); y != null && cmp(y, x) >= 0
      case LessThan(a, x)           => val y = v(a); y != null && cmp(y, x) < 0
      case LessThanOrEqual(a, x)    => val y = v(a); y != null && cmp(y, x) <= 0
      case In(a, xs)                => val y = v(a); y != null && xs.exists(x => x != null && cmp(y, x) == 0)
      case IsNull(a)                => v(a) == null
      case IsNotNull(a)             => v(a) != null
      case And(l, r)                => eval(l, row, schema) && eval(r, row, schema)
      case other => throw new IllegalStateException(s"unclaimed filter reached eval: $other")
    }
  }

  /** Can `seg` possibly contain a row passing `f`? Conservative: any
    * filter shape the zone maps can't reason about keeps the segment. */
  private[v2] def mightMatch(f: Filter, seg: Segment): Boolean = f match {
    case EqualTo(a, x) =>
      seg.zones.get(a).forall { case (lo, hi) =>
        cmp(x, lo) >= 0 && cmp(x, hi) <= 0 } &&
        seg.blooms.get(a).forall(_.mightContain(x))
    case GreaterThan(a, x) => seg.zones.get(a).forall { case (_, hi) => cmp(hi, x) > 0 }
    case GreaterThanOrEqual(a, x) => seg.zones.get(a).forall { case (_, hi) => cmp(hi, x) >= 0 }
    case LessThan(a, x) => seg.zones.get(a).forall { case (lo, _) => cmp(lo, x) < 0 }
    case LessThanOrEqual(a, x) => seg.zones.get(a).forall { case (lo, _) => cmp(lo, x) <= 0 }
    case In(a, xs) =>
      seg.zones.get(a).forall { case (lo, hi) =>
        xs.exists(x => x != null && cmp(x, lo) >= 0 && cmp(x, hi) <= 0) } &&
        seg.blooms.get(a).forall(b => xs.exists(x => x != null && b.mightContain(x)))
    case And(l, r) => mightMatch(l, seg) && mightMatch(r, seg)
    case _ => true // IsNull/IsNotNull and anything else: no zone info
  }
}
