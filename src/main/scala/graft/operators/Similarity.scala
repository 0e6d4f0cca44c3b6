package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, dim 64).
  *
  * - Brute-force cosine top-k: the exactness baseline. Queries are a
  *   small set broadcast against the corpus; per-query top-k via window.
  *   At 100 TB this is the per-query-batch scan pattern (corpus scan ×
  *   broadcast queries — no shuffle of the corpus itself).
  * - Random-hyperplane LSH bucketing: the scale path. Sign-bit bucket ids
  *   computed from fixed ±1 planes over *integer-quantized* components
  *   (`round(x*1000)`), making the bucket assignment integer-exact and
  *   therefore DuckDB-oracle-checkable — no FP-order hazards. Candidate
  *   generation is then an equi-join on bucket id.
  *
  * All expression-only (zip_with/aggregate fold left-to-right
  * deterministically); cosine outputs are rounded to 6 dp before ranking
  * so both engines rank identical values.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns, as a SQL
    * expression folding in index order — the DECLARATIVE twin of the
    * native [[graft.plans.CosineSim]], kept for the bit-identity spec
    * (same role as Dedup.signaturesSql vs MinHashSig). */
  private[graft] def cosineE(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0D, (acc, v) -> acc + v)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** Native cosine (fold-order-identical to [[cosineE]]) — the exact
    * confirm/scoring kernel on every candidate join's hot path. */
  private[graft] def cosineN(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Hard-negative triplet mining for contrastive training (q153) —
    * FaceNet-style batch-hard selection: for each anchor, the HARDEST
    * positive (lowest cosine among same-label vectors) and the top-`k`
    * hardest negatives (highest cosine among different-label vectors),
    * each flagged `semi_hard` = sim_neg < pos_sim (the negative sits
    * beyond the hardest positive — the band FaceNet trains on; a FALSE
    * flag marks a violating "hardest-hard" negative worth upweighting).
    * Anchors whose label has no second member are dropped (no positive
    * exists ⇒ no triplet) — the inner join encodes that.
    *
    * Scale: anchors are a bounded broadcast onto ONE embedding scan
    * (identical candidate frame to q24); the hardest positive is a
    * #anchors-row MIN aggregate broadcast back; negatives take a
    * per-anchor rank-k window (WindowGroupLimit caps map-side, the q39
    * shape). Cosines are the native fold rounded to 6 dp BEFORE
    * ranking and comparison, so ranks, the min, and the semi_hard flag
    * are all integer-exact cross-engine. */
  def hardNegatives(embeddings: DataFrame, queryMaxId: Long = 10,
                    k: Int = 5): DataFrame = {
    val vecs = embeddings.selectExpr("vec_id", "label",
      "cast(embedding as array<double>) AS v")
    val anchors = vecs.where(s"vec_id < $queryMaxId").toDF("query_id", "alabel", "q")
    val scored = vecs.crossJoin(broadcast(anchors))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("alabel"), col("vec_id"), col("label"),
        round(cosineN(col("q"), col("v")), 6).as("sim"))
    val posMin = scored.where("label = alabel")
      .groupBy("query_id").agg(min("sim").as("pos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.where("label != alabel")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .join(broadcast(posMin), "query_id")
      .selectExpr("query_id", "cast(rank as bigint) AS rank",
        "vec_id AS neg_id", "sim", "pos_sim", "sim < pos_sim AS semi_hard")
      .orderBy("query_id", "rank")
  }

  /** Brute-force cosine top-k neighbors for each query vector. */
  def cosineTopK(embeddings: DataFrame, queryMaxId: Long = 10, k: Int = 5): DataFrame = {
    val vecs = embeddings.selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    val queries = vecs.where(s"vec_id < $queryMaxId").toDF("query_id", "q")
    val scored = vecs.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), round(cosineN(col("q"), col("v")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  /** q178 — Matryoshka coarse-to-fine retrieval (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): shortlist with the FIRST
    * `prefixDims` coordinates (MRL-trained embeddings concentrate
    * coarse similarity in the prefix — the published recipe for cheap
    * first-stage ANN), then rerank the shortlist with the full vector.
    * A new ANN *method* next to the bucket families (LSH q25/q26, IVF
    * q36, PQ q86, int8 q121): no index at all — the cost lever is the
    * 4× cheaper coarse dot product, the standard funnel a 100 TB
    * retrieval tier runs in front of exact scoring.
    *
    * Scale shape: the query side is a bounded broadcast onto ONE
    * embedding scan (the q24 frame); the coarse rank is a per-query
    * window capped map-side (WindowGroupLimit), so only shortlist-sized
    * frames reach the exact rerank. Both cosines are the native fold
    * e6-rounded BEFORE their window, so shortlist membership and final
    * ranks are integer-exact cross-engine — the boundary rule every
    * sim gate here uses.
    *
    * Honest-negative finding, measured then designed around (the q171
    * noise convention): the fixture embeddings are NOT MRL-trained, so
    * the prefix carries only its proportional share of the similarity
    * signal — measured recall@5 vs exact (sf0.001, shortlist 50) is
    * 0.54 / 0.74 / 0.96 at prefix 16 / 32 / 48. MRL training is what
    * concentrates signal in the prefix (the paper's whole point); on
    * untrained vectors this curve IS the expected behavior, so the
    * defaults sit at the measured knee (prefix 32, shortlist 50) and
    * LlmOpsSpec pins the ladder's monotonicity and floors rather than
    * pretending a trained-embedding recall. */
  def matryoshkaTopK(embeddings: DataFrame, queryMaxId: Long = 10,
                     k: Int = 5, prefixDims: Int = 32,
                     shortlist: Int = 50): DataFrame = {
    val vecs = embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      .selectExpr("vec_id", "v", s"slice(v, 1, $prefixDims) AS vp")
    val queries = vecs.where(s"vec_id < $queryMaxId").toDF("query_id", "q", "qp")
    val coarse = vecs.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("q"), col("v"),
        round(cosineN(col("qp"), col("vp")), 6).as("coarse_sim"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_sim").desc, col("vec_id"))
    val short = coarse.withColumn("crank", row_number().over(wc))
      .where(col("crank") <= shortlist)
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    short
      .select(col("query_id"), col("vec_id"), col("coarse_sim"),
        round(cosineN(col("q"), col("v")), 6).as("sim"))
      .withColumn("rank", row_number().over(wf))
      .where(col("rank") <= k)
      .selectExpr("query_id", "cast(rank as bigint) AS rank", "vec_id",
        "sim", "coarse_sim")
      .orderBy("query_id", "rank")
  }

  /** Integer-quantized embedding: round(x*1000) per component — exact in
    * both engines, basis for the LSH dot products. */
  private val quantE = "transform(cast(embedding as array<double>), x -> cast(round(x * 1000) as bigint))"

  /** Sign-bit LSH bucket id from the fixed ±1 hyperplanes. */
  def lshBuckets(embeddings: DataFrame): DataFrame = {
    val dots = (0 until LshPlanes).map { j =>
      s"aggregate(zip_with(q, array(${planeElems(j)}), (x, s) -> x * s), 0L, (acc, v) -> acc + v)"
    }
    val bucketE = dots.zipWithIndex
      .map { case (d, j) => s"if($d >= 0, ${1L << j}L, 0L)" }
      .mkString(" + ")
    embeddings.selectExpr("vec_id", s"$quantE AS q")
      .selectExpr("vec_id", s"cast($bucketE as bigint) AS bucket")
  }

  /** Per-vector band signatures: (vec_id, band, bucket) — one row per
    * band, bucket = the band's sign-bit string, computed by the native
    * [[graft.plans.LshBandSigs]] expression (one compiled pass over all
    * bands·nbits·dim plane components). Plane j of the shared md5-parity
    * family serves band/bit via j = band·nbits + bit. */
  def lshBandSignatures(embeddings: DataFrame, bands: Int, nbits: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val planes: Seq[Seq[Long]] =
      (0 until bands * nbits).map(j => (0 until EmbeddingDim).map(i => planeSign(j, i).toLong))
    embeddings.selectExpr("vec_id", s"$quantE AS q")
      .withColumn("sigs",
        ColumnBridge.column(graft.plans.LshBandSigs(ColumnBridge.expression(col("q")), planes, bands)))
      .select(col("vec_id"), posexplode(col("sigs")))
      .toDF("vec_id", "band", "bucket")
  }

  /** Multi-band LSH near-neighbor candidates: pairs sharing a bucket in
    * ANY band, with exact cosine attached.
    *
    * Candidate generation stays an equi-join on (band, bucket) — never a
    * cross product — and, unlike round 2's single fixed-256-bucket table,
    * the per-band bucket count scales with the corpus
    * ([[graft.functions.Portable.lshBandBits]]: 2^bits ≈ 8n), so expected
    * bucket occupancy — and with it the self-join's output — stays
    * LINEAR-ish in n at any scale. Recall is recovered across
    * [[graft.functions.Portable.LshBands]] independent band tables
    * (union + distinct on the pair), the same band-union shape Dedup's
    * MinHash LSH uses. The chosen shape is logged (no silent caps: every
    * sharing pair is emitted). */
  def lshCandidatesBanded(embeddings: DataFrame, bands: Int = LshBands,
      nHint: Option[Long] = None): DataFrame = {
    // nbits only needs the corpus SIZE; callers that already know it
    // (memoized table counts, fixed fixtures) pass the hint and skip a
    // full count job per invocation.
    val n = nHint.getOrElse(embeddings.count())
    val nbits = lshBandBits(n)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"lshCandidatesBanded: n=$n bands=$bands bits/band=$nbits " +
        s"(~${8 * n} buckets/band; expected candidates O(n), no caps applied)")
    val sigs = lshBandSignatures(embeddings, bands, nbits)
    val a = sigs.toDF("vec_a", "band", "bucket")
    val b = sigs.toDF("vec_b", "band", "bucket")
    val pairs = a.join(b, Seq("band", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val vecs = embeddings.selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    pairs
      .join(vecs.toDF("vec_a", "va"), "vec_a")
      .join(vecs.toDF("vec_b", "vb"), "vec_b")
      .select(col("vec_a"), col("vec_b"), round(cosineN(col("va"), col("vb")), 6).as("sim"))
  }

  // ---------------------------------------------------------------- IVF

  /** Training sample: every `IvfTrainMod`-th vector by id. Lloyd only
    * needs a representative sample to place centroids — training on the
    * full corpus is the 100 TB anti-pattern the index exists to avoid. */
  val IvfTrainMod: Long = 3

  /** CORPUS-SCALED IVF centroid count — [[graft.functions.Portable.ivfK]]
    * (≈√n, floor 16, cap 2^16) over the memoized embeddings row count,
    * the single source for the index builders, the DuckDB twins (which
    * re-derive the identical value from count(*) in SQL — the
    * lshBandBits pattern), and the q163 balance gate's fair-share
    * arithmetic. A FIXED k was the one standing scale-killer: with
    * k=16, SemDeDup's cluster-local pairs grew as n²/16 and the
    * cid-keyed shuffle had 16 distinct keys forever; with k≈√n both
    * the per-cluster population and the shuffle's parallelism track
    * the corpus. */
  def ivfKFor(s: SparkSession, dir: String): Int =
    ivfK(embeddingsCount(s, dir))

  /** Per-row scores against every centroid as struct(sim, ncid, cid)
    * per centroid — the (sim, -cid, cid) ranking structs.
    *
    * The k·dim inner loop is the native codegen'd
    * [[graft.plans.CentroidSims]] expression (round 2 built k
    * string-parsed struct literals — Catalyst re-parsed them on every
    * action; round 3's first cut used `transform`+`aggregate` lambdas —
    * interpreted HOF eval, ~3.5 s of the bench on its own). Only the
    * k-element ranking-struct wrap remains on the HOF path (k=16
    * elements per row — negligible). Spark's own `round(_, 6)` is
    * applied here so the rounding rule is identical to every other
    * oracle-matched similarity in this file. Requires the invariant
    * (held by construction in [[ivfIndex]]) that cids are the positions
    * 0..k-1. */
  private def centScores(cents: Seq[(Long, Array[Long])]): Column = {
    val sorted = cents.sortBy(_._1)
    require(sorted.map(_._1) == sorted.indices.map(_.toLong),
      s"centroid ids must be positional 0..k-1, got ${sorted.map(_._1)}")
    import org.apache.spark.sql.graft.ColumnBridge
    val sims = ColumnBridge.column(
      graft.plans.CentroidSims(ColumnBridge.expression(col("q")), sorted.map(_._2.toSeq)))
    transform(sims, (s, i) =>
      struct(round(s, 6).as("sim"), (-i).cast("long").as("ncid"), i.cast("long").as("cid")))
  }

  /** (vec_id, q, …) + the centroid model → nearest-centroid id, as a pure
    * projection: argmax via `array_max` over the score structs (max sim,
    * ties to the smallest cid). NO join and NO shuffle — "broadcast the
    * model, assign with a narrow map", the shape that scales to any
    * corpus size; the lineage stays flat across Lloyd iterations. */
  private def assignTo(vecsQ: DataFrame, cents: Seq[(Long, Array[Long])]): DataFrame =
    vecsQ.withColumn("cid", array_max(centScores(cents)).getField("cid"))

  /** Assign raw (vec_id, embedding) rows against an inlined centroid
    * model — the narrow-map kernel of q161's incremental indexing and
    * the streaming ANN ingest (AnnIngest): one projection, zero
    * shuffles, centroids ride as literals. */
  private[graft] def assignAgainst(emb: DataFrame,
                                   cents: Seq[(Long, Array[Long])]): DataFrame =
    assignTo(emb.selectExpr("vec_id", s"$quantE AS q"), cents)
      .select("vec_id", "cid")

  /** Centroid model from its persisted parquet form (cid, c) — the
    * bounded collect every index consumer shares. */
  private[graft] def centroidModel(cents: DataFrame): Seq[(Long, Array[Long])] =
    cents.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq

  /** IVF coarse index over integer-quantized (e3) vectors. Returns
    * (centroids(cid, c: array<bigint>), assignments(vec_id, cid)).
    *
    * Every arithmetic step is cross-engine exact, so q36 is fully
    * DuckDB-oracle-checkable (not rows-only):
    *  - vectors quantized to round(x*1000) int64;
    *  - seeds: the k training vectors with the smallest portable
    *    md5-48 hash of vec_id (deterministic pseudo-random spread);
    *  - assignment: exact integer dot/norms, one float divide, round 6;
    *  - centroid update: exact integer dimension sums, then a
    *    truncating integer division (cast-to-long ≡ DuckDB trunc).
    *
    * Scale shape: trains on a 1/[[IvfTrainMod]] sample; each iteration
    * is one narrow-map assignment + one partial-aggregated groupBy; the
    * k×dim centroid model is collected to the driver per iteration
    * (k·64 longs — a model, not data) and re-broadcast as literals, so
    * the lineage is truncated every iteration and the final full-corpus
    * assignment is a single narrow map with no shuffle at all. */
  def ivfIndex(embeddings: DataFrame, k: Int = IvfKFloor, iters: Int = 2,
               trainMod: Long = IvfTrainMod): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.selectExpr("vec_id", s"$quantE AS q")
    val train = vecs.where(s"vec_id % $trainMod = 0")

    val seeds: Array[(Long, Array[Long])] = train
      .selectExpr("vec_id", "q", s"${sparkHash48("cast(vec_id as string)")} AS h")
      .orderBy(col("h"), col("vec_id")).limit(k) // TakeOrdered top-k, no global sort
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toArray) }

    // centroid update in ONE partial-aggregated shuffle: 64 dimension-wise
    // long sums as agg columns (exact in any shuffle order) instead of
    // round 2's posexplode → groupBy(cid,dim) → groupBy(cid) two-shuffle
    // chain — at 100 TB the map-side combine reduces each partition to
    // ≤k rows of 64 longs before the exchange. The k×64 sums collect to
    // the driver (a model, not data) and the truncating division happens
    // there: (s.toDouble/n).toLong truncates toward zero, exactly
    // Spark's cast(double as bigint) and DuckDB's trunc().
    val sumCols = (0 until EmbeddingDim).map(d => sum(element_at(col("q"), d + 1)).as(s"s$d"))
    var cents = seeds
    (1 to iters).foreach { _ =>
      val means = assignTo(train, cents)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect().map { r =>
          val n = r.getLong(1)
          r.getLong(0) -> Array.tabulate(EmbeddingDim)(d => (r.getLong(2 + d).toDouble / n).toLong)
        }.toMap
      // an empty cluster keeps its previous centroid
      cents = cents.map { case (cid, c) => (cid, means.getOrElse(cid, c)) }
    }

    val centroids = cents.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "c")
    (centroids, assignTo(vecs, cents).select("vec_id", "cid"))
  }

  /** IVF search: rank centroids per query (same exact integer arithmetic
    * as training), expand the top-`nprobe` inverted lists, then exact
    * double cosine + top-k within the candidates (identical scoring to
    * [[cosineTopK]], so nprobe = k is exactly brute force — the spec
    * asserts it). The centroid model is collected (k rows) and inlined,
    * so probe selection is a narrow map over the query set. */
  /** Tool-facing alias of [[ivfProbes]] (RecallSweep measures candidate
    * fractions without widening the operator API). */
  def ivfProbesPublic(embeddings: DataFrame, centroids: DataFrame,
      queryMaxId: Long = 10, nprobe: Int = 0): DataFrame =
    ivfProbes(embeddings, centroids, queryMaxId, nprobe)

  /** Per-query top-`nprobe` centroid ids — the probe-selection half of
    * [[ivfSearch]], shared with the composed IVF-PQ search (q86) and the
    * semantic-decontamination probe side (q169, which selects its query
    * set by predicate via `queryWhere` instead of an id ceiling).
    * `nprobe = 0` (the default) derives the budget from the index's OWN
    * width — [[graft.functions.Portable.ivfNprobe]] of the centroid
    * count — so probe volume scales with the corpus-scaled k instead of
    * silently shrinking to a fixed 12-of-k fraction as k grows. */
  private[operators] def ivfProbes(embeddings: DataFrame, centroids: DataFrame,
                                   queryMaxId: Long = 10, nprobe: Int = 0,
                                   queryWhere: String = ""): DataFrame = {
    val cents: Array[(Long, Array[Long])] = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val np = if (nprobe > 0) nprobe else ivfNprobe(cents.length)
    val pred = if (queryWhere.nonEmpty) queryWhere else s"vec_id < $queryMaxId"
    // top-nprobe by (sim desc, cid asc): ascending lexicographic sort on
    // (sim, ncid) structs, reversed — same ranking as round 2, over the
    // single-literal centroid matrix instead of k parsed struct literals
    embeddings.where(pred)
      .selectExpr("vec_id AS query_id", s"$quantE AS q")
      .withColumn("cid", explode(
        transform(slice(reverse(array_sort(centScores(cents))), 1, np),
          p => p.getField("cid"))))
      .select("query_id", "cid")
  }

  def ivfSearch(embeddings: DataFrame, centroids: DataFrame, assignments: DataFrame,
                queryMaxId: Long = 10, nprobe: Int = 0, k: Int = 5): DataFrame = {
    val probes = ivfProbes(embeddings, centroids, queryMaxId, nprobe)
    val vecs = embeddings.selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    val queries = vecs.where(s"vec_id < $queryMaxId").toDF("query_id", "q")
    val cands = broadcast(probes).join(assignments, "cid")
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val scoredCands = cands
      .join(vecs, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"), round(cosineN(col("q"), col("v")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scoredCands.withColumn("rank", row_number().over(w)).where(s"rank <= $k")
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
  }

  // ------------------------------------------------------- shared memos

  /** Per-(session, sfDir) memo of the embeddings row count. Banded LSH
    * only needs the corpus SIZE to pick bits/band; one count per dataset
    * per session serves every caller instead of one count per query run. */
  private val embCountMemo = Memos.dirMemo[Long]
  private def embeddingsCount(s: SparkSession, dir: String): Long =
    embCountMemo((s, dir))(Tables.embeddings(s, dir).count())

  /** The planted near-dup corpus shared by q59/q79: exact copies (+1e6
    * ids) and 1.02-scaled copies (+2e6 ids — same dot signs, so they
    * collide with their originals in every band). */
  private def plantedCorpus(e: DataFrame): DataFrame =
    e.unionByName(e.where("vec_id % 25 = 0")
        .selectExpr("vec_id + 1000000 AS vec_id", "embedding"))
      .unionByName(e.where("vec_id % 25 = 5")
        .selectExpr("vec_id + 2000000 AS vec_id",
          "transform(embedding, x -> x * 1.02D) AS embedding"))

  /** Per-(session, sfDir) memo of the planted-corpus cluster labels —
    * the sub-pipeline q59 and q79 share (banded LSH pairs → ≥0.9 cosine
    * → label propagation). [[Dedup.labelPropagateStats]] returns a
    * localCheckpoint'd leaf (executor-local blocks, lineage truncated),
    * so the second caller reads the MATERIALIZED labels instead of
    * re-running the identical 10-round pipeline. */
  private val labelsMemo = Memos.dirMemo[DataFrame]
  private def plantedLabels(s: SparkSession, dir: String): DataFrame =
    labelsMemo((s, dir)) {
      val e = Tables.embeddings(s, dir)
        .selectExpr("vec_id", "cast(embedding as array<double>) AS embedding")
      val corpus = plantedCorpus(e)
      // one exact corpus count per dataset per session (hoisted from
      // lshCandidatesBanded so repeat runs don't re-pay it)
      val pairs = lshCandidatesBanded(corpus, nHint = Some(corpus.count()))
        .where("sim >= 0.9").selectExpr("vec_a AS a", "vec_b AS b")
      val (labels, _) = Dedup.labelPropagateStats(pairs, maxIters = 10)
      labels
    }

  /** q159 — SemDeDup (Abbas et al., 2023): semantic near-duplicate
    * pruning over embeddings. Cluster with the SHARED IVF k-means (the
    * q36/q86 memoized index — SemDeDup's own recipe), then inside each
    * cluster drop every vector that has a SMALLER-id neighbor at
    * cosine ≥ τ: the q20 keep-first semantics lifted from exact text
    * equality to semantic proximity. Output (vec_id, cid, keep) for
    * the whole corpus.
    *
    * Scale: the pair join is CLUSTER-LOCAL (join key = cid), so
    * candidate volume is Σ|cluster|² — the paper's exact trick for
    * never going corpus²; k grows with n at real scale (and an
    * oversized cluster can be sub-split by the PQ codes, q86) so
    * |cluster| stays bounded. Similarity is the native CosineSim
    * kernel e6-integer-rounded BEFORE the threshold compare, so both
    * engines make identical keep decisions at the boundary. */
  def semanticDedup(embeddings: DataFrame, assignments: DataFrame,
                    tauE6: Long = 900000L): DataFrame = {
    val v = embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      .join(assignments, "vec_id")
    val dups = v.toDF("vec_a", "va", "cid")
      .join(v.toDF("vec_b", "vb", "cid"), Seq("cid"))
      .where(col("vec_a") < col("vec_b"))
      .where(round(cosineN(col("va"), col("vb")) * 1e6).cast("long") >= tauE6)
      .select(col("vec_b").as("vec_id")).distinct()
    assignments.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .selectExpr("vec_id", "cid", "dup IS NULL AS keep")
      .orderBy("vec_id")
  }

  /** Per-(session, sfDir) memo of the τ=0.30 semantic keep flags over
    * the shared IVF index — q159 and the composed pipeline (q165) read
    * the identical decision set; the cluster-local pair join runs once
    * per dataset per session (localCheckpoint: n rows of three
    * scalars). */
  private val semKeepMemo = Memos.dirMemo[DataFrame]
  private[operators] def semanticKeepFor(s: SparkSession, dir: String): DataFrame =
    semKeepMemo((s, dir)) {
      semanticDedup(Tables.embeddings(s, dir), ivfIndexFor(s, dir)._2,
        tauE6 = 300000L).localCheckpoint()
    }

  /** The incremental half of streamed SemDeDup: cluster-local τ-pairs
    * between a NEW vector set and the full seen-so-far store (both
    * id-directions in one join — the dropped side is the LARGER id of
    * any pair, which covers the retro-displacement where a late
    * small-id arrival kills an already-kept vector), never
    * store×store. Arithmetic is bit-identical to [[semanticDedup]]:
    * the native cosine kernel, e6-integer-rounded before the
    * threshold compare. */
  private[graft] def semanticDropsAgainst(newVecs: DataFrame, all: DataFrame,
      tauE6: Long): DataFrame = {
    val a = newVecs.selectExpr("vec_id AS id_n",
      "cast(embedding as array<double>) AS vn", "cid")
    val b = all.selectExpr("vec_id AS id_a",
      "cast(embedding as array<double>) AS va", "cid")
    a.join(b, Seq("cid"))
      .where(col("id_n") =!= col("id_a"))
      .where(round(cosineN(col("vn"), col("va")) * 1e6).cast("long") >= tauE6)
      .selectExpr("greatest(id_n, id_a) AS vec_id").distinct()
  }

  /** q169 — SEMANTIC decontamination: drop training vectors whose
    * embedding sits within cosine τ of ANY benchmark/eval vector — the
    * embedding-space analog of the n-gram decontamination family
    * (q62 exact / q93 Bloom / q125 fuzzy), which paraphrased or
    * re-tokenized leakage slips past (the screen the phi-family data
    * pipelines run beside n-gram overlap; Gunasekar et al. 2023 §2.4).
    * Eval set = `evalPred` over vec_id (a benchmark registry in
    * production); the rest of the corpus is the training side.
    *
    * Plan shape (the q36 probe path pointed at decontamination):
    * the eval side ranks the inlined k×64 centroid model and probes its
    * top-nprobe inverted lists (a narrow map over the eval set — NEVER
    * eval × corpus brute force); candidates come from the cid equi-join
    * against the persisted assignments, confirm is one exact cosine on
    * candidate pairs, e6-integer-rounded BEFORE the threshold compare
    * (the q159 boundary convention). Benchmark sets are tiny and fixed
    * in production, so the probe frame broadcasts; candidate volume is
    * (probed-list mass) × |eval|, linear in n at the derived k. Output:
    * every train vector with its hit count and the keep flag. */
  def semanticDecontam(embeddings: DataFrame, centroids: DataFrame,
                       assignments: DataFrame, tauE6: Long = 300000L,
                       evalPred: String = "vec_id % 13 = 5",
                       maxEvalRows: Long = Curation.BoundedEvalRows): DataFrame = {
    val probes = ivfProbes(embeddings, centroids, queryWhere = evalPred)
    val vecs = embeddings.selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    val train = assignments.where(s"NOT ($evalPred)")
    // both eval-side frames ride the boundedBroadcast contract guard
    // (the test carve grows with SF; a production benchmark is fixed) —
    // the probe frame is nprobe× the eval set, so it shares the bound
    val hits = Curation.boundedBroadcast("semanticDecontam.probes", probes,
        maxEvalRows).join(train, "cid")
      .select("query_id", "vec_id")
      .join(vecs, "vec_id")
      .join(Curation.boundedBroadcast("semanticDecontam.eval",
        vecs.where(evalPred).toDF("query_id", "q"), maxEvalRows), "query_id")
      .where(round(cosineN(col("q"), col("v")) * 1e6).cast("long") >= tauE6)
      .groupBy("vec_id").agg(count(lit(1)).as("n_hits"))
    train.join(hits, Seq("vec_id"), "left")
      .selectExpr("vec_id", "cid", "coalesce(n_hits, 0L) AS n_hits",
        "n_hits IS NULL AS keep")
      .orderBy("vec_id")
  }

  /** q170 — SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): rank every vector by cosine to its OWN
    * cluster prototype (the shared IVF centroid) and prune the most
    * PROTOTYPICAL `pruneE2`% per cluster — easy, redundant examples
    * carry the least marginal signal at scale, and per-cluster
    * balancing (the paper's class-balanced variant) stops the prune
    * from emptying small clusters. Complements q159: SemDeDup drops
    * near-copies of OTHER examples, this drops examples too close to
    * the cluster CENTER.
    *
    * Plan: prototypicality is a narrow map (the inlined centroid model
    * scores k sims per row — the q36 assignment kernel, keeping the max
    * struct's sim beside its cid); per-cluster sizes are a k-row
    * aggregate broadcast back; the rank is one window keyed by cid —
    * k ≈ √n (capped 2^16) partitions, so parallelism tracks the corpus
    * and no partition outgrows n/k. Integer-exact: sims e6-rounded
    * before ranking (ties → smaller vec_id), keep counts by integer
    * division, so both engines cut identical ranks. */
  def protoPrune(embeddings: DataFrame, centroids: DataFrame,
                 pruneE2: Long = 25L): DataFrame = {
    val cents = centroidModel(centroids)
    // k×64 centroid scores per vector serialize on an unsplittable scan
    // otherwise — the shared scan-parallelism rescue (no-op when wide)
    val sims = Spread.scanWide(embeddings, col("vec_id"))
      .selectExpr("vec_id", s"$quantE AS q")
      .withColumn("m", array_max(centScores(cents)))
      .selectExpr("vec_id", "m.cid AS cid",
        "cast(round(m.sim * 1000000) as bigint) AS sim_e6")
    val sizes = sims.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .selectExpr("cid", "n_vecs",
        s"n_vecs - ($pruneE2 * n_vecs) div 100 AS n_keep")
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("sim_e6").asc, col("vec_id").asc)
    sims.join(broadcast(sizes), "cid")
      .withColumn("rk", row_number().over(w).cast("long"))
      .selectExpr("vec_id", "cid", "sim_e6", "rk", "rk <= n_keep AS kept")
      .orderBy("vec_id")
  }

  /** q161 — INCREMENTAL ANN index maintenance, the IVF analog of the
    * q115 incremental LSH dedup: at real scale an append does NOT
    * re-run Lloyd over the corpus. The index (centroids + base
    * assignments) is trained once on the base 90 % slice and PERSISTED
    * to parquet; the incremental step's plan touches ONLY
    *  - the centroid model (k×64 longs, collected and inlined as
    *    literals — the centroid convention), and
    *  - the NEW batch's embeddings (one narrow map, zero shuffles);
    * the base slice's embeddings are never rescanned — its assignments
    * union in by parquet path. Exactness is structural: IVF assignment
    * is per-vector independent given centroids, so base-then-increment
    * ≡ assigning the whole corpus against the same centroids, which is
    * exactly what the DuckDB twin replays (Lloyd trained on the base
    * slice, assignment over everything). */
  /** Per-JVM root for persisted-index generations — a fresh temp dir
    * per process (the GraftMatViews.spillDir convention), so two JVMs
    * benchmarking the same sfDir can never clobber each other's index
    * files mid-read. */
  private lazy val ivfIndexRoot: String =
    java.nio.file.Files.createTempDirectory("graft_ivf_index").toString

  /** (Re)build the persisted index for `emb` and INSTALL it as a new
    * generation of the `<base>_cents` / `<base>_asg` graft-store disk
    * collections: readers pinned to `name@v<n>` keep the superseded
    * generation's files until [[graft.sources.v2.GraftStore.vacuum]]
    * reclaims them (AnnIngestSpec drives regenerate-while-reading and
    * the reclaim), and the assignment store is range-sharded parquet
    * written by executors — the index lifecycle is the store's, not an
    * ad-hoc overwrite of a fixed path. */
  private[graft] def buildPersistedIvfIndex(emb: DataFrame, base: String,
      k: Int, corpusN: Long): (String, String) = {
    import graft.sources.v2.GraftStore
    val (cents, asg) = ivfIndex(emb, k = k,
      trainMod = ivfTrainMod(corpusN, k))
    // the store's disk payload is flat-scalar by contract — the k×64
    // centroid matrix persists EXPLODED to (cid, dim, v) rows and is
    // reassembled by [[centroidModelFlat]] at read time
    GraftStore.loadDisk(s"${base}_cents",
      cents.select(col("cid"), posexplode(col("c"))).toDF("cid", "dim", "v"),
      "cid", 1, ivfIndexRoot)
    GraftStore.loadDisk(s"${base}_asg", asg, "vec_id",
      math.min(64L, corpusN / 65536L + 1L).toInt, ivfIndexRoot)
    (s"${base}_cents", s"${base}_asg")
  }

  /** Centroid model from its FLAT persisted form (cid, dim, v) — the
    * bounded k×64 collect, reassembled driver-side. */
  private[graft] def centroidModelFlat(df: DataFrame): Seq[(Long, Array[Long])] =
    df.select("cid", "dim", "v").collect()
      .groupBy(_.getLong(0)).map { case (cid, rs) =>
        cid -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toArray
      }.toSeq

  private val ivfIncMemo = Memos.dirMemo[(String, String)]
  private def ivfIncIndex(s: SparkSession, dir: String): (String, String) =
    ivfIncMemo((s, dir)) {
      // k and the train-sample modulus derive from the FULL corpus
      // the index will serve (both dialects count `embeddings`), not
      // the 90 % training slice — the twin's kp CTE and this call
      // must agree on n
      buildPersistedIvfIndex(
        Tables.embeddings(s, dir).where("vec_id % 10 != 7"),
        "ivf_idx_" + dir.replaceAll("[^A-Za-z0-9]", "_"),
        ivfKFor(s, dir), embeddingsCount(s, dir))
    }

  /** Per-(session, sfDir) memo of a DRAINED streaming ingest of the
    * embeddings table — the q36 centroid model written as model
    * generation 0, the corpus split into three residue-class files and
    * folded through [[graft.streaming.AnnIngest]] one micro-batch at a
    * time. q166 runs the q163 fair-share gate over THIS streamed
    * assignment store: its oracle is the BATCH index's balance SQL, so
    * a hash match proves streamed-state ≡ batch-index balance — the
    * "gate green on the streamed state" half of the retrain loop (the
    * skew-then-retrain half is AnnIngestSpec's). */
  private val annStreamMemo = Memos.dirMemo[String]
  private def annStreamState(s: SparkSession, dir: String): String =
    annStreamMemo((s, dir)) {
      val root = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
      val (state, stage, ckpt) = (s"$root/state", s"$root/stage", s"$root/ckpt")
      ivfIndexFor(s, dir)._1.write.mode("overwrite")
        .parquet(s"$state/cents/gen=0")
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
      (0 until 3).foreach { i =>
        val tmp = s"$root/tmp$i"
        emb.where(s"vec_id % 3 = $i").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(stage, s"b$i.parquet"))
      }
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = graft.streaming.AnnIngest.start(stream, state, ckpt).start()
      q.processAllAvailable(); q.stop()
      state
    }

  /** Per-(session, sfDir) memo of the default-parameter IVF index over
    * the embeddings table — q36 (IVF search) and q86 (IVF-PQ) train the
    * IDENTICAL index; the memo runs the Lloyd loop once and hands both
    * the materialized (centroids, assignments) pair. localCheckpoint on
    * the assignment frame: n rows of two longs, executor-local. */
  private val ivfMemo = Memos.dirMemo[(DataFrame, DataFrame)]
  def ivfIndexFor(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfMemo((s, dir)) {
      val (n, k) = (embeddingsCount(s, dir), ivfKFor(s, dir))
      val (cents, asg) = ivfIndex(Tables.embeddings(s, dir), k = k,
        trainMod = ivfTrainMod(n, k))
      (cents.localCheckpoint(), asg.localCheckpoint())
    }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_cosine_topk" -> ((s, dir) =>
      cosineTopK(Tables.embeddings(s, dir)).orderBy("query_id", "rank")),

    // Matryoshka funnel: prefix-dim shortlist → full-dim rerank.
    "q178_matryoshka_rerank" -> ((s, dir) =>
      matryoshkaTopK(Tables.embeddings(s, dir))),

    // FaceNet-style batch-hard triplet mining over the label column.
    "q153_hard_negatives" -> ((s, dir) =>
      hardNegatives(Tables.embeddings(s, dir))),

    "q25_ann_lsh_buckets" -> ((s, dir) =>
      lshBuckets(Tables.embeddings(s, dir)).orderBy("vec_id")),

    // Multi-band strong pairs: the ANN candidate path end-to-end
    // ((band,bucket) equi-join + pair dedup + exact cosine + threshold).
    "q26_ann_lsh_pairs" -> ((s, dir) =>
      lshCandidatesBanded(Tables.embeddings(s, dir),
          nHint = Some(embeddingsCount(s, dir)))
        .where("sim >= 0.2")
        .selectExpr("vec_a", "vec_b", "cast(round(sim * 1000000) as bigint) AS sim_e6")
        .orderBy("vec_a", "vec_b")),

    // Per-label embedding centroids (class centroids for curriculum /
    // contrastive sampling). Dimension-wise integer-e3 sums: exact in any
    // shuffle order, so the oracle matches bit for bit.
    "q49_label_centroids" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .selectExpr("label", "transform(cast(embedding as array<double>), x -> cast(round(x * 1000) as bigint)) AS q")
        .select(col("label"), posexplode(col("q")))
        .toDF("label", "dim", "x_e3")
        .groupBy("label", "dim")
        .agg(sum(col("x_e3")).cast("long").as("sum_e3"),
             count(lit(1)).as("n"))
        .orderBy("label", "dim")
    }),

    // Label-noise audit: nearest-centroid classification disagreement —
    // a vector whose nearest class centroid is NOT its own label is a
    // mislabel candidate (the confident-learning-style screen a
    // training set runs before fitting). Centroid means derive from
    // q49's exact integer-e3 sums (shuffle-order-proof), then become
    // doubles through the IDENTICAL expression both engines evaluate;
    // scoring is the per-row sequential cosine fold the q24 gate
    // already proves bit-identical cross-engine, rounded to 6 dp BEFORE
    // ranking so the argmax tie-break (label asc) is exact. Plan:
    // centroids are #labels rows → broadcast; scoring is a narrow ×10
    // map; the top-1 is a rank-1 window (WindowGroupLimit pushes the
    // limit map-side, the q39 shape). Corpus is scanned twice (sums +
    // scoring) — at 100 TB the centroid pass is the model build and
    // memoizes like q36/q49.
    "q128_label_noise" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb
        .selectExpr("label AS c_label", s"$quantE AS q")
        .select(col("c_label"), posexplode(col("q"))).toDF("c_label", "dim", "x_e3")
        .groupBy("c_label", "dim")
        .agg(sum("x_e3").as("s_e3"), count(lit(1)).as("n"))
        .groupBy("c_label")
        .agg(max("n").as("n"),
          array_sort(collect_list(struct(col("dim"), col("s_e3")))).as("ds"))
        // 1e3 (not 1000.0): a decimal-point literal parses as DECIMAL in
        // BOTH engines and would drag the whole mean into decimal math
        .selectExpr("c_label", "transform(ds, p -> p.s_e3 / (1e3 * n)) AS c")
      val vecs = emb.selectExpr("vec_id", "label",
        "cast(embedding as array<double>) AS v")
      val scored = vecs.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("c_label"),
          round(cosineN(col("v"), col("c")), 6).as("sim"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("c_label"))
      scored.withColumn("rn", row_number().over(w)).where("rn = 1")
        .selectExpr("vec_id", "label", "c_label AS pred_label",
          "label = c_label AS agree",
          "cast(round(sim * 1000000) as bigint) AS sim_e6")
        .orderBy("vec_id")
    }),

    // Embedding near-dup clusters with planted merges: exact copies
    // (+1e6 ids) and 1.02-scaled copies (+2e6 ids — same dot signs, so
    // they collide with their originals in every band), clustered by
    // label propagation over the ≥0.9-cosine pair graph. The embedding
    // side of the dedup DECISION story: one representative per group.
    "q59_embed_dedup_clusters" -> ((s, dir) => {
      plantedLabels(s, dir)
        .selectExpr("id AS vec_id", "label AS cluster", "id = label AS keep")
        .orderBy("vec_id")
    }),

    // SemDeDup-style keep policy over q59's planted-merge corpus: each
    // semantic cluster keeps its HIGHEST-QUALITY member (adjusted
    // length score, ties to the smallest id) instead of q59's
    // smallest-id representative — the decision rule the published
    // semantic-dedup pipelines actually ship. The quality adjustment
    // makes the two rules PROVABLY different: exact copies (+1e6 ids)
    // score −7 (original wins on quality), scaled copies (+2e6 ids)
    // score +50 (the COPY wins — keep=true lands on a non-minimal id,
    // which min-id labeling can never produce). Quality joins back via
    // one equi-join on the base id; the cluster machinery is unchanged.
    "q79_semantic_keep" -> ((s, dir) => {
      val labels = plantedLabels(s, dir)
      val quality = Tables.documents(s, dir).selectExpr("doc_id AS base_id", "n_chars")
      val w = Window.partitionBy("cluster").orderBy(desc("q_adj"), asc("vec_id"))
      labels.selectExpr("id AS vec_id", "label AS cluster",
          "id % 1000000 AS base_id")
        .join(quality, "base_id")
        .withColumn("q_adj", col("n_chars") +
          when(col("vec_id") >= 2000000, 50L)
            .when(col("vec_id") >= 1000000, -7L).otherwise(0L))
        .withColumn("keep", row_number().over(w) === 1)
        .select("vec_id", "cluster", "q_adj", "keep")
        .orderBy("vec_id")
    }),

    // IVF probe search — fully oracle-checkable: quantized training
    // arithmetic is exact in both engines (see ivfIndex), final scoring
    // is q24's proven double-cosine-round-6.
    "q36_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cents, asg) = ivfIndexFor(s, dir)
      ivfSearch(e, cents, asg).orderBy("query_id", "rank")
    }),

    // ANN QUALITY as a first-class query: recall@5 of the IVF search
    // against exact brute force, per query — the measurement that
    // decides whether an approximate index is deployable (every ANN
    // rollout gates on recall; here the metric itself is oracle-gated,
    // not just the two rank lists). Both lists are individually proven
    // deterministic (q24/q36), so their per-query overlap is an exact
    // integer both engines must agree on. Plan: the two top-5 frames
    // are query-set-sized — the join is trivially broadcast; all the
    // real work is the already-audited q24/q36 plans (the IVF model is
    // the session-memoized index, built once).
    //
    // FLOOR GATE (round 13): floor_ok pins mean recall@5 ≥ 0.85 as an
    // integer-exact predicate (20·Σhits ≥ 17·Σk) that the oracle fixes
    // to literal TRUE — an index regression that drops ≥ 2 hits fails
    // the oracle run, not just a dashboard. The deployed config is the
    // knee of the measured sweep (tools/RecallSweep, PLANS.md round-13):
    // k=16 / nprobe=12 → recall 0.98 / 0.88 / 0.90 at sf0.001/0.01/0.1
    // for a 75% candidate scan; on this near-uniform corpus recall
    // tracks the scanned fraction almost linearly (clustering adds
    // little), so the old nprobe=4 ceiling was ~0.54 — an index-shape
    // property, not a bug, and now a gated number instead of a hope.
    "q131_ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (cents, asg) = ivfIndexFor(s, dir)
      val rec = recallAtK(cosineTopK(e), ivfSearch(e, cents, asg))
      val floor = rec.agg(
        (sum("n_hit") * 20L >= sum("k") * 17L).as("floor_ok"))
      rec.crossJoin(broadcast(floor)).orderBy("query_id")
    }),

    // Incremental index maintenance: new batch assigned against the
    // PERSISTED index (a graft-store disk collection pair under the
    // generation/vacuum lifecycle) — base embeddings never rescanned.
    "q161_ann_incremental" -> ((s, dir) => {
      val (centsName, asgName) = ivfIncIndex(s, dir)
      def read(n: String) =
        s.read.format("graft-store").option("name", n).load()
      val newAsg = assignAgainst(
        Tables.embeddings(s, dir).where("vec_id % 10 = 7"),
        centroidModelFlat(read(centsName)))
      read(asgName).select("vec_id", "cid")
        .unionByName(newAsg).orderBy("vec_id")
    }),

    // Index-health BALANCE gate: per-cluster population share of the
    // shared IVF index, floor-gated. The q131 recall gate says the
    // index finds neighbors; this one says probe cost stays bounded —
    // a cluster absorbing the corpus degrades nprobe search toward
    // brute force. Gate: the largest cluster holds <= 8x its fair
    // share (1/k of the corpus, k the CORPUS-DERIVED centroid count)
    // — generous for synthetic data, tight enough that a collapsed
    // clustering (one mega-cluster) is a hash mismatch, not a shrug.
    // share_e4 is an exact integer division; the twin re-derives the
    // identical k from count(*) in its kp CTE.
    "q163_ann_balance" -> ((s, dir) => {
      val asg = ivfIndexFor(s, dir)._2
      val k = ivfKFor(s, dir)
      val counts = asg.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      val tot = counts.agg(sum("n_vecs").as("tot"),
        (max("n_vecs") * k <= sum("n_vecs") * 8L).as("balance_ok"))
      counts.crossJoin(broadcast(tot))
        .selectExpr("cid", "n_vecs", "(10000 * n_vecs) div tot AS share_e4",
          "balance_ok")
        .orderBy("cid")
    }),

    // The q163 balance gate over the STREAMED assignment state: the
    // corpus folded through AnnIngest in 3 micro-batches against the
    // shared model, then gated exactly as the batch index — the oracle
    // IS q163's batch SQL, so the hash match proves the streamed store
    // equals batch assignment cluster-for-cluster (the gate half of
    // the streaming retrain loop; the skew→retrain half is spec-driven).
    "q166_ann_stream_balance" -> ((s, dir) => {
      val state = annStreamState(s, dir)
      val k = ivfKFor(s, dir)
      val counts = graft.streaming.AnnIngest.assignments(s, state)
        .groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      val tot = counts.agg(sum("n_vecs").as("tot"),
        (max("n_vecs") * k <= sum("n_vecs") * 8L).as("balance_ok"))
      counts.crossJoin(broadcast(tot))
        .selectExpr("cid", "n_vecs", "(10000 * n_vecs) div tot AS share_e4",
          "balance_ok")
        .orderBy("cid")
    }),

    // SemDeDup over the shared IVF clusters: cluster-local keep-first.
    // τ = 0.30 here, NOT the paper-typical ~0.9: the synthetic
    // embeddings' pairwise-cosine ceiling is ~0.46 (measured), so a
    // 0.9 gate could never fire and the keep branch would be
    // untestable — at 0.30 both outcomes are oracle-visible. The
    // mechanism (clustering, pair pruning, boundary rounding) is
    // τ-independent.
    "q159_semantic_dedup" -> ((s, dir) =>
      semanticKeepFor(s, dir).orderBy("vec_id")),

    // Embedding-space decontamination: eval probes the shared index,
    // train vectors within cosine τ of any eval vector are dropped.
    "q169_semantic_decontam" -> ((s, dir) => {
      val (cents, asg) = ivfIndexFor(s, dir)
      semanticDecontam(Tables.embeddings(s, dir), cents, asg)
    }),

    // SSL-prototypes pruning: the most prototypical 25% per cluster cut.
    "q170_proto_prune" -> ((s, dir) =>
      protoPrune(Tables.embeddings(s, dir), ivfIndexFor(s, dir)._1)),

    // D4 (Tirumala et al. 2023 "D4: Improving LLM Pretraining via
    // Document De-Duplication and Diversification"): SemDeDup FIRST
    // (drop near-copies of other examples), THEN SSL-prototype pruning
    // over the SURVIVORS — the paper's exact stage order, sharing one
    // IVF index across both stages as it does. A real composition, not
    // a union: dropped near-dups vacate per-cluster ranks, so the
    // prototype cut lands on different vectors than q170's (the
    // survivor-only `sizes` re-derivation is where that shows). Plan:
    // the memoized q159 keep flags semi-join the embedding scan
    // (id-keyed — AQE broadcasts at test SFs, shuffles on vec_id at
    // scale), then q170's narrow-map + k-partition window chain.
    "q190_d4_prune" -> ((s, dir) => {
      val kept = semanticKeepFor(s, dir).where("keep").select("vec_id")
      protoPrune(Tables.embeddings(s, dir).join(kept, Seq("vec_id"), "left_semi"),
        ivfIndexFor(s, dir)._1)
    }),

    // q196 — HYBRID retrieval fusion (reciprocal rank fusion, Cormack
    // et al. 2009): the q138 BM25 lexical top-20 and a brute cosine
    // semantic top-20 (query = vec 0's embedding; vec_id ≡ doc_id in
    // the testdata contract) fused by rrf_e6 = Σ 1e6 div (60 + rank) —
    // integer floor-div, so the fused order is exact cross-engine and
    // each leg's twin is its standalone chain verbatim (BM25 spliced
    // from TextAnalysis.duckBm25Ctes). This is the standard two-tower
    // serving shape: each leg is already top-k-bounded (TakeOrdered /
    // WindowGroupLimit), so the fusion join and final rank run on ≤ 40
    // rows — constant-sized regardless of corpus, the q138 window
    // convention. Absent-leg ranks report 0 (not null) on both sides.
    "q196_hybrid_rrf" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(Tables.documents(s, dir),
          Seq("spark", "merge", "vector"))
        .select(col("doc_id"), col("rank").as("r_lex"))
      val sem = cosineTopK(Tables.embeddings(s, dir), queryMaxId = 1, k = 20)
        .select(col("vec_id").as("doc_id"), col("rank").as("r_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .selectExpr("doc_id",
          "coalesce(1000000L div (60 + r_lex), 0L) + coalesce(1000000L div (60 + r_sem), 0L) AS rrf_e6",
          "coalesce(r_lex, 0L) AS r_lex", "coalesce(r_sem, 0L) AS r_sem")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf_e6").desc, col("doc_id"))).cast("long"))
        .select("rank", "doc_id", "rrf_e6", "r_lex", "r_sem")
        .orderBy("rank")
    })
  )

  /** Per-query recall of an approximate rank list against the exact
    * one: count of exact-top-k rows also present in the approximate
    * top-k. Both inputs carry (query_id, vec_id [, ...]); output
    * (query_id, n_hit, k), ordered. Shared by the IVF gate (q131) and
    * the int8 quantization ablation (q133) — the frames are
    * query-set-sized, so the overlap join broadcasts. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("query_id", "vec_id")
      .join(approx.select("query_id", "vec_id").withColumn("hit", lit(1L)),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"),
        count(lit(1)).as("k"))
      .orderBy("query_id")

  /** IVF CTE chain through `cands` (query_id, vec_id candidates) —
    * shared by the q36 twin and the composed IVF-PQ twin (q86). The
    * centroid count k and probe budget np are NOT parameters any more:
    * the `kp` CTE re-derives them from count(*) over `embeddings` with
    * the exact integer formula of [[graft.functions.Portable.ivfK]] /
    * [[graft.functions.Portable.ivfNprobe]] — the lshBandBits pattern —
    * so the twin follows the Spark side at ANY scale factor without a
    * per-SF constant. */
  private[operators] def duckIvfCandsCtes(iters: Int = 2,
      queryMaxId: Long = 10, trainWhere: String = "",
      probePred: String = "", candWhere: String = ""): String = {
    val probeWhere =
      if (probePred.nonEmpty) probePred else s"t.vec_id < $queryMaxId"
    val intSim =
      """round(list_sum(list_transform(list_zip(t.q, c.c), s -> s[1] * s[2])) /
        |        (sqrt(list_sum(list_transform(t.q, x -> x * x))) * sqrt(list_sum(list_transform(c.c, x -> x * x)))), 6)""".stripMargin
    def assignCte(name: String, src: String, centsName: String): String =
      s"""$name AS (
         |  SELECT vec_id, q, cid FROM (
         |    SELECT t.vec_id, t.q, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
         |        $intSim DESC, c.cid) AS rn
         |    FROM $src t CROSS JOIN $centsName c) WHERE rn = 1)""".stripMargin
    val lloyd = (1 to iters).map { it =>
      s"""${assignCte(s"a$it", "train", s"cents${it - 1}")},
         |m$it AS (
         |  SELECT cid, i - 1 AS dim, CAST(trunc(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
         |  FROM (SELECT cid, unnest(q) AS x, generate_subscripts(q, 1) AS i FROM a$it)
         |  GROUP BY cid, dim),
         |cents$it AS (
         |  SELECT c0.cid, coalesce(mm.mc, c0.c) AS c
         |  FROM cents${it - 1} c0 LEFT JOIN (
         |    SELECT cid, list(m ORDER BY dim) AS mc FROM m$it GROUP BY cid) mm USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""kp AS (
       |  SELECT k, (3 * k) // 4 AS np, greatest(3, cnt // (256 * k)) AS tm FROM (
       |    SELECT greatest(${IvfKFloor}, 1 << least(16,
       |      (length(bin(CAST(greatest(1, cnt - 1) AS BIGINT))) + 1) // 2)) AS k, cnt
       |    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM embeddings))),
       |vecs AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |train AS (SELECT vec_id, q FROM vecs
       |  WHERE vec_id % (SELECT tm FROM kp) = 0$trainWhere),
       |cents0 AS (
       |  SELECT rn - 1 AS cid, q AS c FROM (
       |    SELECT q, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
       |    FROM (SELECT vec_id, q, ${duckHash48("CAST(vec_id AS VARCHAR)")} AS h FROM train))
       |  WHERE rn <= (SELECT k FROM kp)),
       |$lloyd,
       |${assignCte("asg", "vecs", s"cents$iters")},
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT t.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        $intSim DESC, c.cid) AS rn
       |    FROM vecs t CROSS JOIN cents$iters c WHERE $probeWhere)
       |  WHERE rn <= (SELECT np FROM kp)),
       |cands AS (
       |  SELECT DISTINCT p.query_id, a.vec_id
       |  FROM probes p JOIN asg a USING (cid)
       |  WHERE a.vec_id <> p.query_id$candWhere)""".stripMargin
  }

  /** DuckDB twin of q36: the same seeds, `iters` unrolled Lloyd
    * iterations, full assignment, probe selection, and candidate
    * scoring, generated from the same constants as the Spark path. */
  private def duckIvfSql(iters: Int = 2,
                         queryMaxId: Long = 10, topk: Int = 5): String = {
    s"""WITH ${duckIvfCandsCtes(iters, queryMaxId)},
       |scored AS (
       |  SELECT cd.query_id, cd.vec_id,
       |    round(list_sum(list_transform(list_zip(qv.v, bv.v), s -> s[1] * s[2])) /
       |      (sqrt(list_sum(list_transform(qv.v, x -> x * x))) * sqrt(list_sum(list_transform(bv.v, x -> x * x)))), 6) AS sim
       |  FROM cands cd
       |  JOIN vecs qv ON qv.vec_id = cd.query_id
       |  JOIN vecs bv ON bv.vec_id = cd.vec_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM (
       |  SELECT query_id, vec_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $topk ORDER BY query_id, rank""".stripMargin
  }

  /** Shared DuckDB CTE chain for multi-band LSH candidate generation over
    * relation `src` (vec_id, embedding): corpus-scaled bit width from
    * count(*), md5-parity planes, per-band bucket strings, and the
    * deduped candidate pairs (`cand`) + double vectors (`vecs`) the
    * caller's confirm step joins. */
  private def duckBandedCtes(src: String): String =
    s"""params AS (
       |  SELECT greatest(8, length(bin(CAST(greatest(1, COUNT(*) - 1) AS BIGINT))) + 3) AS nbits
       |  FROM $src),
       |qv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
       |  FROM $src),
       |grid AS (
       |  SELECT band, bit
       |  FROM (SELECT unnest(range(${LshBands})) AS band),
       |       (SELECT unnest(range((SELECT nbits FROM params))) AS bit)),
       |planes AS (
       |  SELECT band, bit,
       |    list(CASE WHEN ${duckHash48(
              s"concat('plane_', CAST(band * (SELECT nbits FROM params) + bit AS VARCHAR), '_', CAST(dim AS VARCHAR))")} % 2 = 0
       |      THEN -1 ELSE 1 END ORDER BY dim) AS p
       |  FROM grid, (SELECT unnest(range(64)) AS dim)
       |  GROUP BY band, bit),
       |sigs AS (
       |  SELECT v.vec_id, pl.band,
       |    string_agg(CASE WHEN list_sum(list_transform(list_zip(v.q, pl.p), s -> s[1] * s[2])) >= 0
       |      THEN '1' ELSE '0' END, '' ORDER BY pl.bit) AS bucket
       |  FROM qv v CROSS JOIN planes pl
       |  GROUP BY v.vec_id, pl.band),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM $src)""".stripMargin

  def oracle: Map[String, String] = {
    val duckCos =
      """list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2])) /
        |  (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x))))""".stripMargin
    val duckDots = (0 until LshPlanes).map { j =>
      s"list_sum(list_transform(list_zip(q, [${planeElems(j)}]), s -> s[1] * s[2]))"
    }
    val duckBucket = duckDots.zipWithIndex
      .map { case (d, j) => s"CASE WHEN $d >= 0 THEN ${1L << j} ELSE 0 END" }
      .mkString(" + ")
    Map(
      "q36_ann_ivf" -> duckIvfSql(),

      // balance gate over the q36 assignment chain (the corpus-derived
      // k re-read from the chain's own kp CTE, exactly as the Spark
      // side derives it from the memoized count)
      "q163_ann_balance" ->
        s"""WITH ${duckIvfCandsCtes()},
           |counts AS (
           |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM asg GROUP BY cid),
           |tot AS (
           |  SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot,
           |    (MAX(n_vecs) * (SELECT k FROM kp) <= CAST(SUM(n_vecs) AS BIGINT) * 8) AS balance_ok
           |  FROM counts)
           |SELECT cid, n_vecs, (10000 * n_vecs) // tot AS share_e4, balance_ok
           |FROM counts, tot ORDER BY cid""".stripMargin,

      // the streamed store must equal the batch index cluster-for-
      // cluster — the twin is the batch balance SQL verbatim
      "q166_ann_stream_balance" ->
        s"""WITH ${duckIvfCandsCtes()},
           |counts AS (
           |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM asg GROUP BY cid),
           |tot AS (
           |  SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot,
           |    (MAX(n_vecs) * (SELECT k FROM kp) <= CAST(SUM(n_vecs) AS BIGINT) * 8) AS balance_ok
           |  FROM counts)
           |SELECT cid, n_vecs, (10000 * n_vecs) // tot AS share_e4, balance_ok
           |FROM counts, tot ORDER BY cid""".stripMargin,

      // Incremental IVF: Lloyd trained on the base 90% slice only;
      // assignment replayed over the WHOLE corpus — per-vector
      // independence makes that identical to base-persisted ∪
      // incrementally-assigned-batch
      "q161_ann_incremental" ->
        s"""WITH ${duckIvfCandsCtes(trainWhere = " AND vec_id % 10 <> 7")}
           |SELECT vec_id, cid FROM asg ORDER BY vec_id""".stripMargin,

      // SemDeDup: the q36 assignment chain, then cluster-local pairs —
      // a vec is kept iff no smaller-id cluster-mate sits at >= tau
      "q159_semantic_dedup" ->
        s"""WITH ${duckIvfCandsCtes()},
           |dv AS (SELECT vec_id, v FROM vecs),
           |dups AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
           |  JOIN dv a ON a.vec_id = x.vec_id
           |  JOIN dv b ON b.vec_id = y.vec_id
           |  WHERE CAST(round(($duckCos) * 1000000) AS BIGINT) >= 300000)
           |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
           |FROM asg a LEFT JOIN dups d USING (vec_id)
           |ORDER BY a.vec_id""".stripMargin,

      // Semantic decontamination: the probe side is the eval predicate
      // (not an id ceiling), candidates restricted to the train side;
      // confirm is the q159 e6-rounded cosine threshold
      "q169_semantic_decontam" ->
        s"""WITH ${duckIvfCandsCtes(probePred = "t.vec_id % 13 = 5",
                                    candWhere = " AND a.vec_id % 13 <> 5")},
           |hit AS (
           |  SELECT cd.vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           |  FROM cands cd
           |  JOIN vecs qv ON qv.vec_id = cd.query_id
           |  JOIN vecs bv ON bv.vec_id = cd.vec_id
           |  WHERE CAST(round((list_sum(list_transform(list_zip(qv.v, bv.v), s -> s[1] * s[2])) /
           |    (sqrt(list_sum(list_transform(qv.v, x -> x * x))) * sqrt(list_sum(list_transform(bv.v, x -> x * x))))) * 1000000) AS BIGINT) >= 300000
           |  GROUP BY cd.vec_id)
           |SELECT a.vec_id, a.cid,
           |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           |  (h.vec_id IS NULL) AS keep
           |FROM asg a LEFT JOIN hit h USING (vec_id)
           |WHERE a.vec_id % 13 <> 5
           |ORDER BY a.vec_id""".stripMargin,

      // SSL-prototypes pruning: per-vector cosine to its OWN centroid
      // (e6-rounded before ranking), per-cluster keep counts by integer
      // division — the rank cut is exact in both engines
      "q170_proto_prune" ->
        s"""WITH ${duckIvfCandsCtes()},
           |sims AS (
           |  SELECT a.vec_id, a.cid,
           |    CAST(round(round(list_sum(list_transform(list_zip(a.q, c.c), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(a.q, x -> x * x))) * sqrt(list_sum(list_transform(c.c, x -> x * x)))), 6) * 1000000) AS BIGINT) AS sim_e6
           |  FROM asg a JOIN cents2 c USING (cid)),
           |sizes AS (
           |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |    CAST(COUNT(*) - (25 * COUNT(*)) // 100 AS BIGINT) AS n_keep
           |  FROM sims GROUP BY cid),
           |ranked AS (
           |  SELECT s.vec_id, s.cid, s.sim_e6,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY s.cid
           |      ORDER BY s.sim_e6 ASC, s.vec_id ASC) AS BIGINT) AS rk,
           |    z.n_keep
           |  FROM sims s JOIN sizes z USING (cid))
           |SELECT vec_id, cid, sim_e6, rk, (rk <= n_keep) AS kept
           |FROM ranked ORDER BY vec_id""".stripMargin,

      // D4: the q159 dup chain decides survivors, then the q170
      // sims/sizes/ranked chain runs over SURVIVORS ONLY (sizes and
      // ranks re-derived post-dedup — the composition's whole point)
      "q190_d4_prune" ->
        s"""WITH ${duckIvfCandsCtes()},
           |dv AS (SELECT vec_id, v FROM vecs),
           |dups AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
           |  JOIN dv a ON a.vec_id = x.vec_id
           |  JOIN dv b ON b.vec_id = y.vec_id
           |  WHERE CAST(round(($duckCos) * 1000000) AS BIGINT) >= 300000),
           |sims AS (
           |  SELECT a.vec_id, a.cid,
           |    CAST(round(round(list_sum(list_transform(list_zip(a.q, c.c), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(a.q, x -> x * x))) * sqrt(list_sum(list_transform(c.c, x -> x * x)))), 6) * 1000000) AS BIGINT) AS sim_e6
           |  FROM asg a JOIN cents2 c USING (cid)
           |  LEFT JOIN dups d ON d.vec_id = a.vec_id
           |  WHERE d.vec_id IS NULL),
           |sizes AS (
           |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |    CAST(COUNT(*) - (25 * COUNT(*)) // 100 AS BIGINT) AS n_keep
           |  FROM sims GROUP BY cid),
           |ranked AS (
           |  SELECT s.vec_id, s.cid, s.sim_e6,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY s.cid
           |      ORDER BY s.sim_e6 ASC, s.vec_id ASC) AS BIGINT) AS rk,
           |    z.n_keep
           |  FROM sims s JOIN sizes z USING (cid))
           |SELECT vec_id, cid, sim_e6, rk, (rk <= n_keep) AS kept
           |FROM ranked ORDER BY vec_id""".stripMargin,

      // RRF fusion: the q138 chain (spliced) + a one-query brute cosine
      // leg, each cut to its top-20, fused by integer floor-div
      "q196_hybrid_rrf" ->
        s"""WITH ${graft.operators.TextAnalysis.duckBm25Ctes(Seq("spark", "merge", "vector"))},
           |lex AS (
           |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS r_lex, doc_id
           |  FROM sc ORDER BY score_e6 DESC, doc_id LIMIT 20),
           |evecs AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |qv AS (SELECT v AS q FROM evecs WHERE vec_id = 0),
           |sems AS (
           |  SELECT vec_id AS doc_id,
           |    round(list_sum(list_transform(list_zip(q, v), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(q, x -> x*x))) * sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS sim
           |  FROM evecs, qv WHERE vec_id <> 0),
           |sem AS (
           |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS r_sem, doc_id
           |  FROM sems ORDER BY sim DESC, doc_id LIMIT 20),
           |u AS (
           |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem
           |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id),
           |f AS (
           |  SELECT doc_id,
           |    COALESCE(1000000 // (60 + r_lex), 0) + COALESCE(1000000 // (60 + r_sem), 0) AS rrf_e6,
           |    CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
           |    CAST(COALESCE(r_sem, 0) AS BIGINT) AS r_sem
           |  FROM u)
           |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rank,
           |  doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6, r_lex, r_sem
           |FROM f ORDER BY rank""".stripMargin,
      // the q36 IVF chain and the q24 brute chain, overlapped per query
      "q131_ann_recall" ->
        s"""WITH ${duckIvfCandsCtes()},
           |scored AS (
           |  SELECT cd.query_id, cd.vec_id,
           |    round(list_sum(list_transform(list_zip(qv.v, bv.v), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(qv.v, x -> x * x))) * sqrt(list_sum(list_transform(bv.v, x -> x * x)))), 6) AS sim
           |  FROM cands cd
           |  JOIN vecs qv ON qv.vec_id = cd.query_id
           |  JOIN vecs bv ON bv.vec_id = cd.vec_id),
           |ivf_top AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           |    FROM scored) WHERE rank <= 5),
           |bscored AS (
           |  SELECT q.vec_id AS query_id, b.vec_id,
           |    round(list_sum(list_transform(list_zip(q.v, b.v), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(q.v, x -> x * x))) * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
           |  FROM vecs q JOIN vecs b ON q.vec_id < 10 AND b.vec_id <> q.vec_id),
           |brute_top AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           |    FROM bscored) WHERE rank <= 5)
           |SELECT b.query_id AS query_id, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
           |  CAST(COUNT(*) AS BIGINT) AS k,
           |  TRUE AS floor_ok
           |FROM brute_top b LEFT JOIN ivf_top i
           |  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
           |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
      "q49_label_centroids" ->
        """SELECT label, CAST(i - 1 AS INT) AS dim,
          |  CAST(SUM(CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS BIGINT) AS sum_e3,
          |  CAST(COUNT(*) AS BIGINT) AS n
          |FROM (SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings)
          |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
      "q128_label_noise" ->
        """WITH ex AS (
          |  SELECT label AS c_label, unnest(embedding) AS x,
          |    generate_subscripts(embedding, 1) AS i
          |  FROM embeddings),
          |sums AS (
          |  SELECT c_label, i, SUM(CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS s_e3,
          |    COUNT(*) AS n
          |  FROM ex GROUP BY c_label, i),
          |cents AS (
          |  SELECT c_label, list(s_e3 / (1e3 * n) ORDER BY i) AS c
          |  FROM sums GROUP BY c_label),
          |vecs AS (
          |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
          |  FROM embeddings),
          |scored AS (
          |  SELECT vec_id, label, c_label,
          |    round(list_sum(list_transform(list_zip(v, c), s -> s[1] * s[2])) /
          |      (sqrt(list_sum(list_transform(v, x -> x*x))) * sqrt(list_sum(list_transform(c, x -> x*x)))), 6) AS sim
          |  FROM vecs CROSS JOIN cents)
          |SELECT vec_id, label, pred_label, agree, sim_e6 FROM (
          |  SELECT vec_id, label, c_label AS pred_label, label = c_label AS agree,
          |    CAST(round(sim * 1000000) AS BIGINT) AS sim_e6,
          |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn
          |  FROM scored) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      "q24_cosine_topk" ->
        s"""WITH vecs AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
           |    round(list_sum(list_transform(list_zip(q.v, b.v), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(q.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS sim
           |  FROM vecs q JOIN vecs b ON q.vec_id < 10 AND b.vec_id <> q.vec_id)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM (
           |  SELECT query_id, vec_id, sim,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // the same two-stage funnel: prefix-32 coarse rank to 50, full-dim
      // rerank to 5 — both cosines e6-rounded before their window
      "q178_matryoshka_rerank" ->
        s"""WITH vecs AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
           |    list_transform(embedding, x -> x::DOUBLE)[1:32] AS vp
           |  FROM embeddings),
           |coarse AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, q.v AS qv, b.v AS bv,
           |    round(list_sum(list_transform(list_zip(q.vp, b.vp), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(q.vp, x -> x*x))) * sqrt(list_sum(list_transform(b.vp, x -> x*x)))), 6) AS coarse_sim
           |  FROM vecs q JOIN vecs b ON q.vec_id < 10 AND b.vec_id <> q.vec_id),
           |short AS (
           |  SELECT query_id, vec_id, qv, bv, coarse_sim FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY coarse_sim DESC, vec_id) AS crank
           |    FROM coarse) WHERE crank <= 50),
           |rer AS (
           |  SELECT query_id, vec_id, coarse_sim,
           |    round(list_sum(list_transform(list_zip(qv, bv), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(qv, x -> x*x))) * sqrt(list_sum(list_transform(bv, x -> x*x)))), 6) AS sim
           |  FROM short)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, sim, coarse_sim FROM (
           |  SELECT query_id, vec_id, sim, coarse_sim,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           |  FROM rer) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // Batch-hard triplets: hardest positive = per-anchor MIN same-label
      // cosine; negatives ranked desc among different-label candidates.
      "q153_hard_negatives" ->
        s"""WITH vecs AS (
           |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, q.label AS alabel,
           |    b.vec_id AS vec_id, b.label AS label,
           |    round(list_sum(list_transform(list_zip(q.v, b.v), s -> s[1] * s[2])) /
           |      (sqrt(list_sum(list_transform(q.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS sim
           |  FROM vecs q JOIN vecs b ON q.vec_id < 10 AND b.vec_id <> q.vec_id),
           |pos AS (
           |  SELECT query_id, MIN(sim) AS pos_sim FROM scored
           |  WHERE label = alabel GROUP BY query_id),
           |neg AS (
           |  SELECT query_id, vec_id, sim,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           |  FROM scored WHERE label <> alabel)
           |SELECT n.query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neg_id,
           |  sim, pos_sim, sim < pos_sim AS semi_hard
           |FROM neg n JOIN pos p ON n.query_id = p.query_id
           |WHERE rank <= 5 ORDER BY n.query_id, rank""".stripMargin,
      "q25_ann_lsh_buckets" ->
        s"""SELECT vec_id, CAST($duckBucket AS BIGINT) AS bucket FROM (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
           |  FROM embeddings) ORDER BY vec_id""".stripMargin,
      // Multi-band twin: nbits is computed IN SQL from count(*) with the
      // same integer formula as Portable.lshBandBits (length of the
      // binary spelling of n-1, +3, floor 8), and plane signs re-derive
      // the identical md5-parity family, so the oracle follows the Spark
      // side at ANY scale factor without a per-SF constant.
      "q26_ann_lsh_pairs" ->
        s"""WITH ${duckBandedCtes("embeddings")}
           |SELECT p.vec_a, p.vec_b,
           |  CAST(round(round($duckCos, 6) * 1000000) AS BIGINT) AS sim_e6
           |FROM cand p JOIN vecs a ON a.vec_id = p.vec_a JOIN vecs b ON b.vec_id = p.vec_b
           |WHERE round($duckCos, 6) >= 0.2
           |ORDER BY vec_a, vec_b""".stripMargin,
      // Embedding-near-dup clusters over a corpus with PLANTED merges
      // (exact copies + 1.02-scaled copies — scaling preserves dot signs,
      // so planted rows collide with their originals in every band):
      // transitive closure of the ≥0.9-cosine pair graph, exactly q53's
      // walk on the embedding side.
      // q59's planted corpus + recursive-walk clusters, then the
      // quality-ranked keep: highest adjusted score per cluster, ties
      // to the smallest id.
      "q79_semantic_keep" ->
        s"""WITH RECURSIVE corpus AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000 AS vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
           |  FROM embeddings WHERE vec_id % 25 = 0
           |  UNION ALL
           |  SELECT vec_id + 2000000 AS vec_id, list_transform(embedding, x -> x::DOUBLE * 1.02) AS embedding
           |  FROM embeddings WHERE vec_id % 25 = 5),
           |${duckBandedCtes("corpus")},
           |hi AS (
           |  SELECT p.vec_a, p.vec_b
           |  FROM cand p JOIN vecs a ON a.vec_id = p.vec_a JOIN vecs b ON b.vec_id = p.vec_b
           |  WHERE round($duckCos, 6) >= 0.9),
           |edges AS (
           |  SELECT vec_a, vec_b FROM hi UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM hi),
           |walk AS (
           |  SELECT vec_a AS vec_id, vec_a AS label FROM edges
           |  UNION
           |  SELECT e.vec_a AS vec_id, w.label FROM edges e JOIN walk w ON w.vec_id = e.vec_b),
           |labels AS (SELECT vec_id, MIN(label) AS cluster FROM walk GROUP BY vec_id),
           |scored AS (
           |  SELECT l.vec_id, l.cluster,
           |    d.n_chars + CASE WHEN l.vec_id >= 2000000 THEN 50
           |                     WHEN l.vec_id >= 1000000 THEN -7 ELSE 0 END AS q_adj
           |  FROM labels l JOIN documents d ON d.doc_id = l.vec_id % 1000000)
           |SELECT vec_id, cluster, CAST(q_adj AS BIGINT) AS q_adj,
           |  (ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY q_adj DESC, vec_id) = 1) AS keep
           |FROM scored ORDER BY vec_id""".stripMargin,

      "q59_embed_dedup_clusters" ->
        s"""WITH RECURSIVE corpus AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000 AS vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
           |  FROM embeddings WHERE vec_id % 25 = 0
           |  UNION ALL
           |  SELECT vec_id + 2000000 AS vec_id, list_transform(embedding, x -> x::DOUBLE * 1.02) AS embedding
           |  FROM embeddings WHERE vec_id % 25 = 5),
           |${duckBandedCtes("corpus")},
           |hi AS (
           |  SELECT p.vec_a, p.vec_b
           |  FROM cand p JOIN vecs a ON a.vec_id = p.vec_a JOIN vecs b ON b.vec_id = p.vec_b
           |  WHERE round($duckCos, 6) >= 0.9),
           |edges AS (
           |  SELECT vec_a, vec_b FROM hi UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM hi),
           |walk AS (
           |  SELECT vec_a AS vec_id, vec_a AS label FROM edges
           |  UNION
           |  SELECT e.vec_a AS vec_id, w.label FROM edges e JOIN walk w ON w.vec_id = e.vec_b)
           |SELECT vec_id, MIN(label) AS cluster, (vec_id = MIN(label)) AS keep
           |FROM walk GROUP BY vec_id ORDER BY vec_id""".stripMargin
    )
  }
}
