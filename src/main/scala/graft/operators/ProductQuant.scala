package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable._

/** Product quantization (IVF-PQ's compression half) over the
  * `embeddings` table — the memory-side ANN lever: a 64-dim float
  * vector compresses to m=4 byte-sized codes (64× smaller), and search
  * scores candidates against the codebook instead of the raw vectors.
  * At 100 TB of embeddings that is the difference between an index that
  * fits in executor memory and one that doesn't.
  *
  * Every arithmetic step is integer-exact in both engines (same
  * playbook as [[Similarity.ivfIndex]]), so the WHOLE pipeline — seed
  * selection, Lloyd training per subspace, corpus encoding, and the
  * asymmetric-distance (ADC) search — is DuckDB-oracle-checked, not
  * rows-only:
  *  - vectors quantized to round(x·1000) int64; distances are exact
  *    int64 SQUARED L2 (PQ's canonical metric; no sqrt, no floats);
  *  - seeds: per subspace, the k training subvectors with the smallest
  *    portable md5-48 of ("pq_" + s + "_" + vec_id);
  *  - centroid update: exact integer dimension sums, truncating
  *    division (cast-to-long ≡ DuckDB trunc); empty cluster keeps its
  *    previous centroid;
  *  - ties everywhere break to the smaller centroid id / vec_id.
  *
  * Scale shape: trains on a 1/trainMod sample; each Lloyd step is one
  * narrow-map encode + ONE partial-aggregated shuffle on (s, cid)
  * (subdim long sums as agg columns — map-side combine reduces every
  * partition to ≤ m·k rows before the exchange); the m·k·subdim model
  * collects to the driver (a model, not data) and is inlined into the
  * native [[graft.plans.PqCodes]] / [[graft.plans.PqAdc]] kernels, so
  * corpus encoding is a shuffle-free narrow map and the search is the
  * corpus-scan × broadcast-query-batch pattern of [[Similarity.cosineTopK]]. */
object ProductQuant {

  val M = 4          // subspaces
  val K = 16         // centroids per subspace
  val SubDim: Int = EmbeddingDim / M
  val Iters = 2
  val TrainMod: Long = 3

  private val quantE =
    "transform(cast(embedding as array<double>), x -> cast(round(x * 1000) as bigint))"

  private def codesCol(q: Column, cents: Seq[Seq[Seq[Long]]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.PqCodes(ColumnBridge.expression(q), cents))
  }
  private def adcCol(q: Column, codes: Column, cents: Seq[Seq[Seq[Long]]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.PqAdc(
      ColumnBridge.expression(q), ColumnBridge.expression(codes), cents))
  }

  /** Train the m×k×subdim codebook on every `trainMod`-th vector. */
  def pqTrain(embeddings: DataFrame, iters: Int = Iters,
              trainMod: Long = TrainMod): Seq[Seq[Seq[Long]]] = {
    val vecs = embeddings.selectExpr("vec_id", s"$quantE AS q")
    val train = vecs.where(s"vec_id % $trainMod = 0")

    // per-subspace seeds by portable hash (deterministic pseudo-random
    // spread, cross-engine identical)
    val subs = train.select(col("vec_id"), posexplode_outer(expr(
        s"transform(sequence(0, ${M - 1}), s -> slice(q, s * $SubDim + 1, $SubDim))")))
      .toDF("vec_id", "s", "subq")
      .where(col("s").isNotNull)
    val seeds = subs
      .selectExpr("s", "vec_id", "subq",
        s"${sparkHash48("concat('pq_', cast(s as string), '_', cast(vec_id as string))")} AS h")
      .withColumn("rn", row_number().over(Window.partitionBy("s").orderBy("h", "vec_id")))
      .where(s"rn <= $K")
      .collect()

    var cents: Vector[Vector[Array[Long]]] = {
      val bySeed = seeds.map(r =>
        (r.getInt(0), r.getInt(4) - 1) -> r.getSeq[Long](2).toArray).toMap
      require(bySeed.size == M * K,
        s"PQ training needs >= $K sample vectors per subspace " +
          s"(got ${seeds.length / M} — corpus too small for k=$K)")
      Vector.tabulate(M)(s => Vector.tabulate(K)(c => bySeed((s, c))))
    }

    val sumCols = (0 until SubDim).map(d => sum(element_at(col("subq"), d + 1)).as(s"s$d"))
    (1 to iters).foreach { _ =>
      val centsSeq: Seq[Seq[Seq[Long]]] = cents.map(_.map(_.toSeq: Seq[Long]))
      val means = train
        .withColumn("codes", codesCol(col("q"), centsSeq))
        .select(col("q"), posexplode_outer(col("codes"))).toDF("q", "s", "cid")
        .where(col("s").isNotNull)
        .withColumn("subq", expr(s"slice(q, s * $SubDim + 1, $SubDim)"))
        .groupBy("s", "cid")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect().map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getInt(1)) ->
            Array.tabulate(SubDim)(d => (r.getLong(3 + d).toDouble / n).toLong)
        }.toMap
      cents = Vector.tabulate(M)(s => Vector.tabulate(K)(c =>
        means.getOrElse((s, c), cents(s)(c))))
    }
    cents.map(_.map(_.toSeq: Seq[Long]))
  }

  /** Encode the corpus: (vec_id, codes array<int>) — narrow map, no
    * shuffle, 64 bytes → m bytes per vector. */
  def pqEncode(embeddings: DataFrame, cents: Seq[Seq[Seq[Long]]]): DataFrame =
    embeddings.selectExpr("vec_id", s"$quantE AS q")
      .select(col("vec_id"), codesCol(col("q"), cents).as("codes"))

  /** ADC top-k: each query vector scans the ENCODED corpus (broadcast
    * query batch × corpus scan — the corpus itself never shuffles),
    * scoring candidates by exact-integer asymmetric distance. */
  def pqSearch(embeddings: DataFrame, cents: Seq[Seq[Seq[Long]]],
               queryMaxId: Long = 10, k: Int = 5): DataFrame = {
    val codes = pqEncode(embeddings, cents)
    val queries = embeddings.where(s"vec_id < $queryMaxId")
      .selectExpr("vec_id AS query_id", s"$quantE AS qq")
    val scored = codes.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        adcCol(col("qq"), col("codes"), cents).as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(s"rank <= $k")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("adc"))
  }

  // ---------------------------------------------------------------- queries

  /** Per-(session, sfDir) memo of the default-parameter PQ codebooks —
    * q75 and q86 train identical codebooks; the model is a driver-side
    * k×M×SubDim value, so the memo just skips the repeated Lloyd jobs. */
  private val pqMemo = Memos.dirMemo[Seq[Seq[Seq[Long]]]]
  private def pqTrainFor(s: SparkSession, dir: String): Seq[Seq[Seq[Long]]] =
    pqMemo((s, dir))(pqTrain(Tables.embeddings(s, dir)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q75_ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      pqSearch(e, pqTrainFor(s, dir)).orderBy("query_id", "rank")
    }),

    // The composed index — IVF-PQ, the shape production ANN systems
    // actually deploy: the coarse IVF quantizer prunes the corpus to
    // the probed inverted lists (so the scan is a FRACTION of the
    // corpus), and PQ codes rank those candidates by exact-integer
    // asymmetric distance against 4-byte codes instead of 256-byte
    // vectors. Both halves are the independently-oracle-proven q36 and
    // q75 pipelines; this query joins them on the candidate set.
    "q86_ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cents, asg) = Similarity.ivfIndexFor(s, dir)
      val pq = pqTrainFor(s, dir)
      val cands = broadcast(Similarity.ivfProbes(e, cents))
        .join(asg, "cid")
        .where(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id")
      val queries = e.where("vec_id < 10")
        .selectExpr("vec_id AS query_id", s"$quantE AS qq")
      val scored = cands
        .join(pqEncode(e, pq), "vec_id")
        .join(broadcast(queries), "query_id")
        .select(col("query_id"), col("vec_id"),
          adcCol(col("qq"), col("codes"), pq).as("adc"))
      val w = Window.partitionBy("query_id").orderBy(col("adc").asc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w)).where("rank <= 5")
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("adc"))
        .orderBy("query_id", "rank")
    }),

    // Scalar int8 quantization — the OTHER compression lever next to PQ
    // (q75): per-dimension symmetric scaling to one signed byte per
    // component (4× smaller than float32, 64× less than array<double>),
    // with similarity scored as the exact INTEGER dot product of codes.
    // This is the faiss SQ8 / "int8 embedding" deployment shape: simpler
    // than PQ, no training loop, SIMD-friendly, and usually the first
    // thing production serving tries before paying for codebooks.
    // Scales derive from one tiny per-dim aggregate (64 rows — a model,
    // not data); encoding is a shuffle-free narrow map; search is the
    // corpus-scan × broadcast-query-batch pattern of cosineTopK. Every
    // step is deterministic cross-engine: max(abs) over the same float32
    // values, IEEE double division, and truncation-toward-zero (Spark
    // cast ≡ DuckDB TRUNC), so codes and dot products hash-match exactly.
    "q121_int8_quant" -> ((s, dir) => {
      int8TopK(Tables.embeddings(s, dir)).orderBy("query_id", "rank")
    }),

    // Quantization ablation as a gated metric (the q131 pattern, for
    // compression instead of indexing): per-query recall@5 of the int8
    // ranking against exact float-cosine top-5 — what 4× compression
    // costs in ranking quality, measured BEFORE a serving rollout
    // swaps int8 in. Note the metrics differ by design: int8 scores a
    // per-dim-whitened integer dot, cosine normalizes per vector — the
    // overlap quantifies exactly that distortion. Both rank lists are
    // individually deterministic (q121/q24 gates), so the hit count is
    // an exact integer; the top-5 frames are query-set-sized.
    "q133_int8_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.recallAtK(
        Similarity.cosineTopK(e, queryMaxId = 8), int8TopK(e))
    }),

    // q201 — BINARY (sign) quantization, the floor of the compression
    // ladder float32 → int8 (q121) → 1 bit/dim: bit d set iff x_d > 0,
    // similarity = Hamming distance. This is Charikar's sign-random-
    // projection identity (E[hamming] ∝ angle) applied with the
    // identity projection — the "binary embeddings" serving shape the
    // vector stores ship (32× smaller than float32, distance = XOR +
    // popcount). Two 32-bit words per vector, NOT one 64-bit word: the
    // sign bit of a packed i64 overflows DuckDB's strict left-shift,
    // and two non-negative words keep every engine's integer semantics
    // identical. The one-time encode is an O(d) in-row fold; the HOT
    // path (every query × corpus pair) is bit_count(lo ^ lo') +
    // bit_count(hi ^ hi') — pure codegen'd integer primitives.
    "q201_binary_quant" -> ((s, dir) =>
      binaryTopK(Tables.embeddings(s, dir)).orderBy("query_id", "rank")),

    // The q133 ablation for the ladder's floor: recall@5 of Hamming
    // ranking vs exact float cosine — what 32× compression costs,
    // measured before a serving tier adopts the two-stage
    // binary-shortlist + exact-rerank pattern. Honest number: measured
    // 10/40 (0.25) at sf0.01 on these synthetic Gaussian-ish
    // embeddings — 64 sign bits is a SHORTLIST stage, not a ranker
    // (at top-5 the int8 gate q133 scores far higher); the gate exists
    // to pin exactly that gap, not to hide it.
    "q202_binary_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.recallAtK(
        Similarity.cosineTopK(e, queryMaxId = 8), binaryTopK(e))
    })
  )

  /** (vec_id, lo, hi): the 64 sign bits packed as two non-negative
    * 32-bit words. Narrow map, no shuffle. */
  private[graft] def binaryEncode(emb: DataFrame): DataFrame = {
    def word(lo: Int, hi: Int) =
      s"""aggregate(sequence($lo, ${hi - 1}), 0L, (acc, i) ->
         |  acc + IF(cast(element_at(embedding, cast(i + 1 AS int)) AS double) > 0D,
         |           shiftleft(1L, cast(i - $lo AS int)), 0L))""".stripMargin
    emb.selectExpr("vec_id", s"${word(0, 32)} AS lo", s"${word(32, 64)} AS hi")
  }

  /** Hamming top-5 for queries vec_id < 8 (the q133 gate's query set):
    * encoded corpus scan × broadcast encoded queries, rank by
    * (hamming ASC, vec_id ASC). */
  private[graft] def binaryTopK(emb: DataFrame, queryMaxId: Long = 8,
      k: Int = 5): DataFrame = {
    val enc = binaryEncode(emb)
    val queries = enc.where(s"vec_id < $queryMaxId")
      .toDF("query_id", "qlo", "qhi")
    val scored = enc.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id",
        "cast(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS bigint) AS hamming")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(s"rank <= $k")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("hamming"))
  }

  /** Per-dimension symmetric int8 scale: s_d = max |x_d| over the corpus
    * (64 doubles — bounded model state, like the IVF centroids). */
  private[graft] def int8Scales(emb: DataFrame): Array[Double] =
    emb.select(posexplode(col("embedding"))).toDF("d", "x")
      .groupBy("d").agg(max(abs(col("x").cast("double"))).as("s"))
      .orderBy("d").collect().map(_.getDouble(1))

  /** Encode each vector as 64 signed-byte codes: trunc(x/s·127) ∈
    * [−127, 127] (0 on an all-zero dimension). Kept as array<bigint> in
    * the plan — the BYTE width is the storage claim, the arithmetic is
    * identical. */
  private[graft] def int8Encode(emb: DataFrame, scales: Array[Double]): DataFrame = {
    val sArr = array(scales.map(lit): _*)
    emb.withColumn("__s", sArr)
      .withColumn("codes", expr(
        "zip_with(embedding, __s, (x, s) -> " +
          "CASE WHEN s = 0D THEN 0L " +
          "ELSE cast(cast(x as double) / s * 127D as bigint) END)"))
      .drop("__s")
  }

  /** Brute-force top-k by exact int8 dot product for the bounded query
    * set (the q24/q75 verification harness shape; the 100 TB serving
    * path composes these codes with the IVF probe exactly as q86 does
    * with PQ codes). */
  def int8TopK(emb: DataFrame, queryMaxId: Long = 8, k: Int = 5): DataFrame = {
    val coded = int8Encode(emb.select("vec_id", "embedding"), int8Scales(emb))
      .select("vec_id", "codes")
    val queries = coded.where(col("vec_id") < queryMaxId)
      .toDF("query_id", "qc")
    val scored = coded.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("aggregate(zip_with(qc, codes, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
          .as("dp"))
    val w = Window.partitionBy("query_id").orderBy(col("dp").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(s"rank <= $k")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("dp"))
  }

  /** PQ CTE chain — subspaces, per-subspace Lloyd, corpus codes — over
    * a quantized source relation `vecsRel` (vec_id, q). CTE names take
    * prefix `p` so the chain composes with the IVF chain (q86) without
    * name collisions. Final codebook CTE: `${p}cents$iters`; codes:
    * `${p}codes`. */
  private[operators] def duckPqCodesCtes(p: String, vecsRel: String,
      m: Int = M, k: Int = K, subdim: Int = SubDim,
      iters: Int = Iters, trainMod: Long = TrainMod): String = {
    val dist =
      "list_sum(list_transform(list_zip(t.subq, c.c), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    def assignCte(name: String, src: String, centsName: String): String =
      s"""$name AS (
         |  SELECT vec_id, s, subq, cid FROM (
         |    SELECT t.vec_id, t.s, t.subq, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s ORDER BY $dist ASC, c.cid) AS rn
         |    FROM $src t JOIN $centsName c ON c.s = t.s) WHERE rn = 1)""".stripMargin
    val lloyd = (1 to iters).map { it =>
      s"""${assignCte(s"${p}a$it", s"${p}train", s"${p}cents${it - 1}")},
         |${p}m$it AS (
         |  SELECT s, cid, i - 1 AS dim,
         |    CAST(trunc(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval
         |  FROM (SELECT s, cid, unnest(subq) AS x, generate_subscripts(subq, 1) AS i FROM ${p}a$it)
         |  GROUP BY s, cid, dim),
         |${p}cents$it AS (
         |  SELECT c0.s, c0.cid, coalesce(mm.mc, c0.c) AS c
         |  FROM ${p}cents${it - 1} c0 LEFT JOIN (
         |    SELECT s, cid, list(mval ORDER BY dim) AS mc FROM ${p}m$it GROUP BY s, cid) mm
         |  ON mm.s = c0.s AND mm.cid = c0.cid)""".stripMargin
    }.mkString(",\n")
    s"""${p}subs AS (
       |  SELECT vec_id, s,
       |    q[CAST(s * $subdim + 1 AS INT):CAST(s * $subdim + $subdim AS INT)] AS subq
       |  FROM $vecsRel, (SELECT unnest(range($m)) AS s)),
       |${p}train AS (SELECT vec_id, s, subq FROM ${p}subs WHERE vec_id % $trainMod = 0),
       |${p}cents0 AS (
       |  SELECT s, rn - 1 AS cid, subq AS c FROM (
       |    SELECT s, subq, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h, vec_id) AS rn
       |    FROM (SELECT s, vec_id, subq,
       |      ${duckHash48("concat('pq_', CAST(s AS VARCHAR), '_', CAST(vec_id AS VARCHAR))")} AS h
       |      FROM ${p}train)) WHERE rn <= $k),
       |$lloyd,
       |${assignCte(s"${p}codes", s"${p}subs", s"${p}cents$iters")}""".stripMargin
  }

  /** The ADC distance between a query subvector (alias `qs`) and the
    * centroid a candidate's code points at (alias `pc`). */
  private def duckAdcDist =
    "list_sum(list_transform(list_zip(qs.subq, pc.c), z -> (z[1] - z[2]) * (z[1] - z[2])))"

  /** DuckDB twin of q75: the same seeds, `Iters` unrolled Lloyd
    * iterations per subspace (uniformly, keyed by (s, cid)),
    * full-corpus encoding, and ADC scoring over ALL candidates. */
  private def duckPqSql(m: Int = M, k: Int = K, subdim: Int = SubDim,
                        iters: Int = Iters, trainMod: Long = TrainMod,
                        queryMaxId: Long = 10, topk: Int = 5): String =
    s"""WITH vecs AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |${duckPqCodesCtes("", "vecs", m, k, subdim, iters, trainMod)},
       |adc AS (
       |  SELECT qs.vec_id AS query_id, cd.vec_id,
       |    CAST(SUM($duckAdcDist) AS BIGINT) AS adc
       |  FROM subs qs
       |  JOIN codes cd ON qs.vec_id < $queryMaxId AND cd.vec_id <> qs.vec_id AND cd.s = qs.s
       |  JOIN cents$iters pc ON pc.s = cd.s AND pc.cid = cd.cid
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc FROM (
       |  SELECT query_id, vec_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id) AS rank
       |  FROM adc) WHERE rank <= $topk ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of q86: IVF candidate generation composed with
    * PQ-coded ADC ranking — the two proven chains joined on the
    * candidate set. */
  private def duckIvfPqSql(iters: Int = Iters, topk: Int = 5): String =
    s"""WITH ${Similarity.duckIvfCandsCtes()},
       |${duckPqCodesCtes("pq_", "vecs")},
       |adc AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST(SUM($duckAdcDist) AS BIGINT) AS adc
       |  FROM cands c
       |  JOIN pq_subs qs ON qs.vec_id = c.query_id
       |  JOIN pq_codes cd ON cd.vec_id = c.vec_id AND cd.s = qs.s
       |  JOIN pq_cents$iters pc ON pc.s = cd.s AND pc.cid = cd.cid
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc FROM (
       |  SELECT query_id, vec_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id) AS rank
       |  FROM adc) WHERE rank <= $topk ORDER BY query_id, rank""".stripMargin

  /** DuckDB CTE chain of the int8 path through `dots` (query_id,
    * vec_id, integer dp) — shared by the q121 gate and the q133
    * quantization-recall measurement. */
  private val int8DotsCtes: String =
    """e AS (
      |  SELECT vec_id, UNNEST(embedding)::DOUBLE AS x,
      |    generate_subscripts(embedding, 1) AS d
      |  FROM embeddings),
      |scales AS (SELECT d, MAX(ABS(x)) AS s FROM e GROUP BY d),
      |codes AS (
      |  SELECT vec_id, d,
      |    CASE WHEN s = 0 THEN 0
      |         ELSE CAST(TRUNC(x / s * 127) AS BIGINT) END AS c
      |  FROM e JOIN scales USING (d)),
      |dots AS (
      |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
      |    CAST(SUM(q.c * b.c) AS BIGINT) AS dp
      |  FROM codes q JOIN codes b ON q.d = b.d AND b.vec_id <> q.vec_id
      |  WHERE q.vec_id < 8
      |  GROUP BY 1, 2)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q75_ann_pq" -> duckPqSql(),
    "q86_ann_ivfpq" -> duckIvfPqSql(),

    // the int8 ranking overlapped with exact float-cosine top-5: the
    // quantization ablation a serving rollout measures before swapping
    // int8 in (how much ranking does 4x compression cost?)
    "q133_int8_recall" ->
      s"""WITH $int8DotsCtes,
        |i8top AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS rank
        |    FROM dots) WHERE rank <= 5),
        |vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |bscored AS (
        |  SELECT q.vec_id AS query_id, b.vec_id,
        |    round(list_sum(list_transform(list_zip(q.v, b.v), s -> s[1] * s[2])) /
        |      (sqrt(list_sum(list_transform(q.v, x -> x * x))) * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
        |  FROM vecs q JOIN vecs b ON q.vec_id < 8 AND b.vec_id <> q.vec_id),
        |btop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM bscored) WHERE rank <= 5)
        |SELECT b.query_id AS query_id, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
        |  CAST(COUNT(*) AS BIGINT) AS k
        |FROM btop b LEFT JOIN i8top i
        |  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
        |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,

    // Relational twin of the int8 path: unnest to (vec_id, dim, x),
    // per-dim scales, TRUNC-quantized codes, integer dot via a dim join.
    "q121_int8_quant" ->
      s"""WITH $int8DotsCtes
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dp FROM (
        |  SELECT query_id, vec_id, dp,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS rank
        |  FROM dots) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // two non-negative 32-bit sign words per vector; hamming =
    // popcount(xor) per word, summed
    "q201_binary_quant" ->
      s"""WITH $binaryScoredCtes
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, hamming FROM (
        |  SELECT query_id, vec_id, hamming,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming ASC, vec_id) AS rank
        |  FROM hscored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q202_binary_recall" ->
      s"""WITH $binaryScoredCtes,
        |htop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming ASC, vec_id) AS rank
        |    FROM hscored) WHERE rank <= 5),
        |vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |bscored AS (
        |  SELECT q.vec_id AS query_id, b.vec_id,
        |    round(list_sum(list_transform(list_zip(q.v, b.v), s -> s[1] * s[2])) /
        |      (sqrt(list_sum(list_transform(q.v, x -> x * x))) * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
        |  FROM vecs q JOIN vecs b ON q.vec_id < 8 AND b.vec_id <> q.vec_id),
        |btop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM bscored) WHERE rank <= 5)
        |SELECT b.query_id AS query_id, CAST(COUNT(h.vec_id) AS BIGINT) AS n_hit,
        |  CAST(COUNT(*) AS BIGINT) AS k
        |FROM btop b LEFT JOIN htop h
        |  ON b.query_id = h.query_id AND b.vec_id = h.vec_id
        |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin)

  /** Sign-word encode + all query×corpus Hamming scores (`hscored`) —
    * shared by the q201 ranking twin and the q202 recall twin. */
  private val binaryScoredCtes: String =
    """bvecs AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |enc AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(0, 32), i ->
      |      CASE WHEN v[CAST(i + 1 AS INT)] > 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(32, 64), i ->
      |      CASE WHEN v[CAST(i + 1 AS INT)] > 0 THEN (1::BIGINT << CAST(i - 32 AS INT)) ELSE 0 END)) AS BIGINT) AS hi
      |  FROM bvecs),
      |hscored AS (
      |  SELECT q.vec_id AS query_id, e.vec_id,
      |    CAST(bit_count(xor(e.lo, q.lo)) + bit_count(xor(e.hi, q.hi)) AS BIGINT) AS hamming
      |  FROM enc e JOIN enc q ON q.vec_id < 8 AND e.vec_id <> q.vec_id)""".stripMargin
}
