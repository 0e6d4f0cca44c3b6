package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable._

/** Document deduplication for LLM-data pipelines, over the `documents`
  * table: exact (fingerprint keep-first), n-gram Jaccard, MinHash+LSH,
  * and SimHash. Generalizes the reference's object_id dedup
  * (/root/reference/src/transform_load.py:45-72) to content-based
  * near-duplicate detection at corpus scale.
  *
  * Scale design: every stage is expression-only (whole-stage codegen, no
  * UDFs). MinHash candidate generation explodes band values and
  * equi-joins on them — a shuffle join on (band, value), never an O(N²)
  * cross product; brute-force Jaccard exists only inside a bounded
  * blocking window (and as the verification path). All hashes are the
  * portable md5-48 (see [[graft.functions.Portable]]) so every stage is
  * DuckDB-oracle-checkable.
  */
object Dedup {

  /** Word 2-gram shingles + their mod-P hashes, as select expressions. */
  private val toksE = sparkToks

  /** documents → (doc_id, sh: array<string>) for docs with ≥2 tokens.
    *
    * Two scale rules encoded here:
    *  - the guard runs BEFORE the projection on the cheap token count
    *    (filtering on `size(sh)` after would be pushed below the project
    *    and re-evaluate the shingle expression twice per row);
    *  - `toks` is materialized as its own column before the shingle
    *    lambda references it. Inlining the split() INSIDE the lambda
    *    makes interpreted eval recompute the full tokenization per
    *    array element — O(tokens²), observed to wedge a 100k-token
    *    document indefinitely. Column references are O(1) per element,
    *    and CollapseProject keeps the projections separate because the
    *    split is non-cheap and multiply-referenced. */
  def shingled(docs: DataFrame): DataFrame =
    docs.where(s"size($toksE) >= 2")
      .selectExpr("doc_id", s"$toksE AS toks")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(0, size(toks) - 2), " +
        "i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))) AS sh")

  /** doc_id → 16-element MinHash signature. Default path: the native
    * one-pass [[graft.plans.MinHashSig]] expression. [[signaturesSql]]
    * keeps the declarative formulation for cross-validation. */
  def signatures(docs: DataFrame): DataFrame = {
    graft.plans.MinHashSig.register(docs.sparkSession)
    val sigCols = (0 until MinhashK).map(j => s"sig[$j] AS m$j")
    shingled(docs)
      .selectExpr("doc_id", "sh", "graft_minhash_sig(sh) AS sig")
      .selectExpr(Seq("doc_id", "sh") ++ sigCols: _*)
  }

  /** Declarative (pure built-in) signature path — semantically identical
    * to [[signatures]]; used to cross-check the native expression. */
  def signaturesSql(docs: DataFrame): DataFrame = {
    val hsE = s"transform(sh, s -> pmod(${sparkHash48("s")}, ${P}L))"
    val sigCols = (0 until MinhashK).map { j =>
      s"array_min(transform(hs, x -> pmod(${minhashA(j)}L * x + ${minhashB(j)}L, ${P}L))) AS m$j"
    }
    shingled(docs)
      .selectExpr("doc_id", "sh", s"$hsE AS hs")
      .selectExpr(Seq("doc_id", "sh") ++ sigCols: _*)
  }

  /** Signature frame → exploded band table `(doc_id, band, bv)` — the
    * persistable half of an LSH index (see [[incrementalNearDups]]). */
  private[graft] def bandedOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"m${b * RowsPerBand + r}")
      s"concat_ws('_', ${parts.mkString(", ")}) AS b$b"
    }
    sigs.selectExpr(Seq("doc_id") ++ bandCols: _*)
      .selectExpr("doc_id",
        s"stack(${Bands}, ${(0 until Bands).map(b => s"$b, b$b").mkString(", ")})")
      .toDF("doc_id", "band", "bv")
  }

  /** LSH candidate pairs: band the signature, explode, equi-join on
    * (band, value). Returns (doc_a, doc_b) with doc_a < doc_b. */
  def candidatePairs(sigs: DataFrame): DataFrame = {
    val banded = bandedOf(sigs)
    val a = banded.toDF("doc_a", "band", "bv")
    val b = banded.toDF("doc_b", "band", "bv")
    a.join(b, Seq("band", "bv"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** INCREMENTAL near-dup detection: pairs between a NEW document batch
    * and a persisted LSH index (plus new×new), never index×index.
    *
    * This is the operation a 100 TB corpus actually runs: a daily batch
    * arrives, and re-signing the whole corpus (or re-generating the
    * old×old pairs found months ago) would make dedup cost scale with
    * corpus size instead of batch size. Here:
    *
    *  - `indexBands` (doc_id, band, bv) and `indexSh` (doc_id, sh) are
    *    the persisted index — READ, never recomputed; the old corpus's
    *    TEXT is never rescanned (q115 proves it by materializing the
    *    index to parquet and planning the incremental step against the
    *    files alone).
    *  - signatures are computed for the new batch only (MinHash is
    *    per-document, so a doc's signature is independent of the rest
    *    of the corpus — incrementality is exact, not approximate).
    *  - the candidate join probes new bands against (index ∪ new) on
    *    (band, bv): new×old pairs appear once (old ids occur only on
    *    the index side), new×new pairs once via the id-order filter,
    *    old×old pairs cannot appear at all.
    *  - at scale the index side is bucketed/sorted by (band, bv) at
    *    write time, so this probe is the pay-the-shuffle-once layout
    *    (sources/Bucketing) — per-batch cost ∝ batch + matched buckets.
    *
    * Output: (doc_a < doc_b, j1000 exact-Jaccard confirmed ≥ threshold,
    * is_cross = true iff the pair spans index and batch). Restricted to
    * pairs touching the new batch, this equals exactly what full-corpus
    * [[minhashNearDups]] would emit — the oracle checks that equality. */
  def incrementalNearDups(indexBands: DataFrame, indexSh: DataFrame,
                          newDocs: DataFrame, thresholdPerMille: Int = 500): DataFrame =
    // cached: feeds the band probe and the confirmation shingle lookup
    // (caller-managed like minhashNearDups; Bench clears between reps)
    incrementalNearDupsFrom(indexBands, indexSh,
      signatures(newDocs).cache(), thresholdPerMille)

  /** [[incrementalNearDups]] over an already-materialized batch
    * signature frame — callers that also APPEND the batch's signatures
    * to the index (the streaming ingest loop) sign the batch once and
    * feed both uses. */
  def incrementalNearDupsFrom(indexBands: DataFrame, indexSh: DataFrame,
                              newSigs: DataFrame,
                              thresholdPerMille: Int = 500): DataFrame = {
    val newBands = bandedOf(newSigs)
    val probe = indexBands.withColumn("is_new", lit(false))
      .unionByName(newBands.withColumn("is_new", lit(true)))
    val cand = newBands.toDF("na", "band", "bv")
      .join(probe.toDF("nb", "band", "bv", "nb_is_new"), Seq("band", "bv"))
      .where(!col("nb_is_new") || col("na") < col("nb"))
      .selectExpr("least(na, nb) AS doc_a", "greatest(na, nb) AS doc_b",
        "NOT nb_is_new AS is_cross")
      .distinct() // union over the band tables
    val shAll = indexSh.unionByName(newSigs.select("doc_id", "sh"))
    cand
      .join(shAll.toDF("doc_a", "sh_a"), "doc_a")
      .join(shAll.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardN(col("sh_a"), col("sh_b")).as("j1000"), col("is_cross"))
      .where(s"j1000 >= $thresholdPerMille")
  }

  /** Exact Jaccard (per mille) between two shingle-array columns —
    * the DECLARATIVE twin of the native [[graft.plans.JaccardMille]],
    * kept for the bit-identity spec. */
  private[graft] def jaccardE(a: String, b: String): String =
    s"cast(round(1000.0 * size(array_intersect($a, $b)) / " +
    s"size(array_union($a, $b))) as bigint)"

  /** Native per-mille Jaccard (set semantics + rounding identical to
    * [[jaccardE]]) — the confirm kernel on every near-dup hot path. */
  private[graft] def jaccardN(a: org.apache.spark.sql.Column,
                              b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.JaccardMille(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Full MinHash+LSH near-dup detection: candidates from banding, then
    * exact-Jaccard confirmation at `threshold` (per mille).
    *
    * Caches the signature frame for the duration of the returned plan
    * (it feeds both candidate generation and confirmation); the cache
    * lives until the session evicts it or the caller runs
    * `spark.catalog.clearCache()` — long-lived sessions calling this per
    * corpus batch should clear between batches (Bench does). */
  def minhashNearDups(docs: DataFrame, thresholdPerMille: Int = 500): DataFrame =
    minhashNearDupsFrom(signatures(docs).cache(), thresholdPerMille)

  /** The pair plan over an already-materialized signature frame — split
    * out so callers that OWN the signature cache (e.g.
    * [[nearDupClustersStats]]) can release it the moment their derived
    * state is materialized, instead of leaking it for the session. */
  private[graft] def minhashNearDupsFrom(sigs: DataFrame, thresholdPerMille: Int): DataFrame = {
    val sh = sigs.select(col("doc_id"), col("sh"))
    val cand = candidatePairs(sigs)
    cand
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccardN(col("sh_a"), col("sh_b")).as("j1000"))
      .where(s"j1000 >= $thresholdPerMille")
  }

  /** Near-dup CLUSTERS from the pair graph: connected components via
    * iterative hash-min label propagation, labeling every involved doc
    * with the smallest doc_id reachable from it. Pairs alone can't drive
    * deletion — when A~B and B~C but A≁C, pairwise keep-first would drop
    * B and C against different survivors; the cluster label gives ONE
    * representative (`keep = doc_id == cluster`) per transitive group,
    * which is what corpus dedup actually deletes against.
    *
    * Scale shape: per round, hash-min over the (sparse) near-dup edge
    * list (one equi-join + partial-aggregated groupBy) FOLLOWED by a
    * pointer-jump shortcut `label ← label(label)` (one self-equi-join) —
    * the large-star/small-star-style path halving that collapses
    * chain-shaped components in O(log diameter) rounds instead of the
    * O(diameter) of plain propagation. Caches are swapped per round and
    * the driver only ever sees the convergence scalar, never the data;
    * `maxIters` is a safety bound. */
  def nearDupClusters(docs: DataFrame, thresholdPerMille: Int = 500,
                      maxIters: Int = 10): DataFrame =
    nearDupClustersStats(docs, thresholdPerMille, maxIters)._1

  /** [[nearDupClusters]] + the number of rounds run (exposed for the
    * convergence-rate spec; the last round only confirms the fixpoint). */
  private[graft] def nearDupClustersStats(docs: DataFrame, thresholdPerMille: Int = 500,
                                          maxIters: Int = 10): (DataFrame, Int) = {
    // own the signature cache: once the edge list is materialized inside
    // labelPropagateStats (eager localCheckpoint), the signatures are no
    // longer needed — release them instead of leaking the cache
    val sigs = signatures(docs).cache()
    val pairs = minhashNearDupsFrom(sigs, thresholdPerMille)
      .selectExpr("doc_a AS a", "doc_b AS b")
    val (labels, it) = labelPropagateStats(pairs, maxIters)
    sigs.unpersist()
    (labels.selectExpr("id AS doc_id", "label AS cluster", "id = label AS keep"), it)
  }

  /** Connected components over an undirected pair list `(a, b)` —
    * hash-min label propagation with pointer jumping. Returns
    * `(id, label)` for every node that appears in a pair (label = the
    * smallest reachable id) plus the round count. Shared by the text
    * near-dup path (q53) and the embedding near-dup path (q59). */
  private[operators] def labelPropagateStats(pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val edges = pairs.unionAll(pairs.selectExpr("b AS a", "a AS b"))
      .toDF("doc_a", "doc_b")
      .localCheckpoint()
    // localCheckpoint (not cache) on the per-round label frames: each
    // round references the previous labels in BOTH the hash-min join and
    // the pointer-jump self-join, so without lineage truncation the
    // logical plan grows exponentially with rounds (a cache truncates
    // execution, not the plan — Catalyst still analyzes the full tree).
    // Executor-local blocks, nothing on the driver.
    var labels = edges.selectExpr("doc_a AS doc_id").distinct()
      .selectExpr("doc_id", "doc_id AS label").localCheckpoint()
    // labels only ever DECREASE, so sum(label) is a strictly-decreasing
    // potential: an unchanged sum ⇔ fixpoint — one cheap aggregate per
    // round instead of a join-based change count. Read null-safely: on a
    // clean corpus (no near-dup pairs) the sum over zero rows is NULL.
    var prevSum = Option.empty[Long]
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.selectExpr("doc_id AS nbr", "label AS nbr_label"),
          col("doc_b") === col("nbr"))
        .groupBy("doc_a").agg(min("nbr_label").as("nbr_min"))
      val relabeled = labels
        .join(nbrMin, labels("doc_id") === nbrMin("doc_a"), "left")
        .selectExpr("doc_id", "least(label, coalesce(nbr_min, label)) AS label")
      // pointer jump: adopt the label's own label. Every label IS a node
      // id present in `relabeled` (labels are minima over node ids), so
      // the inner self-join is total; monotone (label(label) ≤ label), so
      // the sum potential still detects the fixpoint. `relabeled` is
      // deliberately NOT materialized: recomputing the cheap hash-min
      // join on both sides of the self-join costs less than a second
      // per-round checkpoint, and the plan stays bounded because `labels`
      // is a checkpointed leaf.
      // lazy checkpoint: the convergence aggregate right below is the
      // action that materializes it, so each round runs ONE job instead
      // of two (eager checkpoint + separate aggregate)
      val next = relabeled.toDF("doc_id", "lbl")
        .join(relabeled.toDF("lbl", "lbl2"), "lbl")
        .selectExpr("doc_id", "lbl2 AS label")
        .localCheckpoint(eager = false)
      val sumRow = next.agg(org.apache.spark.sql.functions.sum("label")).collect()(0)
      val sum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      converged = prevSum.contains(sum)
      prevSum = Some(sum)
      labels.unpersist()
      labels = next
      it += 1
    }
    edges.unpersist()
    // a component whose diameter outruns maxIters (even at log-halving)
    // would exit un-converged with silently SPLIT clusters (and diverge
    // from the oracle's exact transitive closure) — loud, never silent
    if (!converged)
      throw new IllegalStateException(
        s"labelPropagate: did not converge within $maxIters iterations; " +
        "raise maxIters (a component's diameter exceeds it)")
    (labels.selectExpr("doc_id AS id", "label"), it)
  }

  /** 48-bit SimHash over distinct tokens (portable hash ⇒ oracle-checkable).
    * Native one-pass kernel ([[graft.plans.SimHashSig]]); the declarative
    * twin below exists for the bit-identity spec. */
  def simhash(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    docs.where(s"size($toksE) >= 1") // cheap pre-projection guard (see shingled)
      .select(col("doc_id"), ColumnBridge.column(graft.plans.SimHashSig(
        ColumnBridge.expression(expr(toksE)))).as("simhash"))
  }

  /** Declarative SimHash — 48 interpreted aggregate passes + per-token
    * md5 inside a transform lambda; kept ONLY as the spec twin proving
    * [[simhash]]'s native kernel bit-identical. */
  private[graft] def simhashDeclarative(docs: DataFrame): DataFrame = {
    val thE = s"transform(array_distinct($toksE), t -> ${sparkHash48("t")})"
    docs.where(s"size($toksE) >= 1")
      .selectExpr("doc_id", s"$thE AS th")
      .selectExpr("doc_id",
        "aggregate(transform(sequence(0, 47), b -> " +
        "if(aggregate(th, 0L, (acc, h) -> acc + if((shiftright(h, b) & 1) = 1, 1L, -1L)) > 0, " +
        "shiftleft(1L, b), 0L)), 0L, (acc, x) -> acc + x) AS simhash")
  }

  /** SimHash near-duplicate PAIRS: all (doc_a < doc_b) with Hamming
    * distance ≤ `maxHam` between 48-bit signatures — completing the
    * SimHash path end-to-end (q23 computes signatures; this finds the
    * dups), with an EXACT candidate filter rather than a probabilistic
    * one, whose banding plan DERIVES FROM THE CORPUS (the
    * lshBandBits / ivfK / bandCombos pattern — the round-14 verdict's
    * fixed-constant defect class, closed here for the last banded op):
    *  - narrow regime (distinct sigs ≤ 2^16): 4 disjoint 12-bit bands;
    *    a pair within Hamming 3 dirties ≤ 3 bands, so it agrees on ≥ 1
    *    whole band (pigeonhole) — perfect recall, O(1) bucket load at
    *    that scale;
    *  - wide regime: all C(6,3) = 20 3-of-6-block subsets of 8-bit
    *    blocks as 24-bit keys — 3 flips dirty ≤ 3 blocks, the ≥ 3 clean
    *    blocks always contain a chosen subset (recall still GUARANTEED
    *    at radius 3, spec-checked exhaustively), while the 2^24 key
    *    space cuts bucket load 4096× vs a saturating 12-bit band —
    *    where the fixed width would go quadratic past ~10^5 distinct
    *    signatures (this file's own pre-round-15 caveat, resolved the
    *    Manku block-combination way).
    * `bit_count(xor)` confirms precision either way; the regimes emit
    * IDENTICAL pairs (recall is exact in both), so the brute-force
    * DuckDB twin is untouched by the switch.
    *
    * Scale shape: the quadratic-looking parts are both bounded —
    *  - the band self-join runs over DISTINCT signatures (empirically
    *    3.7k sigs / 5k docs at sf0.1, 1.0M candidates for 425k true
    *    pairs = 2.4× overdraw vs 12.5M brute-force pairs);
    *  - identical-signature pairs come from a plain equi-join on the
    *    full signature, whose blowup equals its own OUTPUT size.
    * On a templated corpus the true pair set itself is Θ(dense), so
    * output, not candidate generation, dominates — the right failure
    * mode. */
  def simhashPairs(docs: DataFrame, maxHam: Int = 3,
                   wideThreshold: Long = 1L << 16): DataFrame = {
    require(maxHam <= 3,
      "both banding regimes guarantee recall only to Hamming 3")
    // cached: the signature frame feeds FIVE branches (both sides of the
    // identical-sig join, the band table, and both expansion joins) —
    // uncached, Catalyst recomputes the signature aggregation per branch
    // and the query multiplies ~8× (56 s vs 7 s at sf0.1). Caller-managed
    // like minhashNearDups (Bench clears the cache between reps).
    val sigs = simhash(docs).cache() // (doc_id, simhash)
    val ham0 = sigs.toDF("doc_a", "sim_a")
      .join(sigs.toDF("doc_b", "sim_b"),
        col("sim_a") === col("sim_b") && col("doc_a") < col("doc_b"))
      .selectExpr("doc_a", "doc_b", "cast(0 as bigint) AS hamming")
    // the band table is distinct-signature-sized either way; its count
    // (one job over the sig-sized frame) picks the regime
    val distinctSigs = sigs.select("simhash").distinct().localCheckpoint()
    val bandExpr =
      if (distinctSigs.count() <= wideThreshold)
        "transform(sequence(0, 3), b -> (simhash >> (b * 12)) & 4095)"
      else {
        val keys = (0 to 5).combinations(3).map(_.toSeq).map(c =>
          c.zipWithIndex.map { case (blk, i) =>
            s"(shiftleft(shiftright(simhash, ${8 * blk}) & 255, ${8 * i}))"
          }.mkString(" + ")).toSeq
        s"array(${keys.mkString(", ")})"
      }
    val bands = distinctSigs
      .selectExpr("simhash", s"$bandExpr AS bvs")
      .select(col("simhash"), posexplode(col("bvs")).as(Seq("band", "bv")))
    val cand = bands.toDF("sig_a", "band_a", "bv_a")
      .join(bands.toDF("sig_b", "band_b", "bv_b"),
        col("band_a") === col("band_b") && col("bv_a") === col("bv_b") &&
          col("sig_a") < col("sig_b"))
      .select("sig_a", "sig_b").distinct() // union over the 4 band tables
      .where(s"bit_count(sig_a ^ sig_b) BETWEEN 1 AND $maxHam")
    val ham13 = cand
      .join(sigs.toDF("da", "sa"), col("sa") === col("sig_a"))
      .join(sigs.toDF("db", "sb"), col("sb") === col("sig_b"))
      .selectExpr("least(da, db) AS doc_a", "greatest(da, db) AS doc_b",
        "cast(bit_count(sig_a ^ sig_b) as bigint) AS hamming")
    ham0.unionByName(ham13)
  }

  /** q192 — the GLOBAL-vs-LOCAL dedup gap, per source. At 100 TB the
    * operational choice is real: GLOBAL exact dedup shuffles the whole
    * corpus's fingerprints once, while SHARD-LOCAL dedup (per source /
    * per crawl snapshot) is embarrassingly parallel and is what the
    * published pipelines actually ship (FineWeb, Penedo et al. 2024
    * §3.4, measured per-snapshot vs global dedup head-on; Dolma dedups
    * per source). This query prices the cheap path's quality cost
    * exactly: per source, how many duplicate rows global keep-first
    * (q20's min-id rule) would drop that WITHIN-SOURCE keep-first
    * cannot see, because their keeper lives in another source.
    *
    * n_drop_local ≤ n_drop_global per source by construction (the
    * global keeper's id ≤ the local keeper's). Plan: the corpus scan
    * reduces in ONE map-side-combined shuffle to the ≤ |distinct
    * (fp, source)| frame; the global-keeper frame derives from THAT
    * (never a second corpus scan), and the rest is a #sources-row
    * aggregate — no windows, no corpus-width self-join. */
  def dedupLocality(docs: DataFrame): DataFrame =
    dedupLocalityFromFp(docs.selectExpr("source", "md5(text) AS fp", "doc_id"))

  /** [[dedupLocality]] over an already-fingerprinted (source, fp,
    * doc_id) frame — the form a caller that shares one fingerprint pass
    * across several legs (q200's card) feeds, so the materialized
    * intermediate is the narrow projection, never corpus text. */
  private[operators] def dedupLocalityFromFp(bySrc: DataFrame): DataFrame = {
    val bySrcFp = bySrc
      .groupBy("fp", "source")
      .agg(min("doc_id").as("l_keep"), count(lit(1)).as("n"))
    val gk = bySrcFp.groupBy("fp").agg(min("l_keep").as("g_keep"))
    bySrcFp.join(gk, "fp")
      .groupBy("source")
      .agg(sum("n").cast("long").as("n_docs"),
        sum(expr("n - CASE WHEN l_keep = g_keep THEN 1 ELSE 0 END"))
          .cast("long").as("n_drop_global"),
        sum(expr("n - 1")).cast("long").as("n_drop_local"))
      .selectExpr("source", "n_docs", "n_drop_global", "n_drop_local",
        "n_drop_global - n_drop_local AS n_missed_local",
        "(10000 * (n_drop_global - n_drop_local)) div greatest(n_drop_global, 1) AS missed_frac_e4")
      .orderBy("source")
  }

  /** The planted-duplicate corpus construction shared by q192/q197/
    * q200 — every 11th doc copied under the NEXT source mod 20
    * (cross-source, visible only to global dedup) and every 13th under
    * its own (local-catchable); the raw testdata has no exact dups, so
    * without the plants every dedup-derived column would be invisibly
    * zero. The copy-id offsets are DERIVED from max(doc_id)+1 (the
    * q125/q203 convention — a 1-row aggregate, model-state-class
    * collect), never fixed constants: a corpus whose ids reach a
    * hard-coded offset would silently collide plant ids with real ones
    * (or the two bands with each other) and corrupt the keep-first
    * min-id winners with no error. Band 1 sits at +off, band 2 at
    * +2·off — disjoint from the originals and from each other at any
    * corpus size. One Spark-side construction and one DuckDB CTE
    * ([[duckLocalityCtes]]) serve every consumer, so the plant can
    * never fork between queries or engines. */
  private[operators] def plantedDupCorpus(d: DataFrame): DataFrame = {
    val d0 = d.select("doc_id", "source", "text")
    val off = d0.agg(max("doc_id")).first.getLong(0) + 1
    d0.unionByName(d0.where("doc_id % 11 = 4").selectExpr(
        s"doc_id + ${off}L AS doc_id",
        "concat('src', (cast(substring(source, 4) AS int) + 1) % 20) AS source",
        "text"))
      .unionByName(d0.where("doc_id % 13 = 6").selectExpr(
        s"doc_id + ${2 * off}L AS doc_id", "source", "text"))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The per-source price of shard-local (vs global) exact dedup over
    // the shared planted corpus (the q62/q76 plant convention).
    "q192_dedup_locality" -> ((s, dir) =>
      dedupLocality(plantedDupCorpus(Tables.documents(s, dir)))),

    // Exact dedup: keep-first per content fingerprint (the reference's
    // keep-docs[0] made deterministic and content-addressed).
    "q20_exact_dedup" -> ((s, dir) => {
      Relational.keepFirst(
        Tables.documents(s, dir).selectExpr("doc_id", "md5(text) AS fp"),
        Seq("fp"), Seq(col("doc_id")))
        .select("doc_id", "fp").orderBy("doc_id")
    }),

    // Brute-force char-5-gram Jaccard near-dups inside a bounded blocking
    // window (the verification path for q22's LSH).
    "q21_ngram_jaccard" -> ((s, dir) => {
      // native one-loop-per-row gram extraction: the declarative
      // transform+substring spelling is CodegenFallback and its
      // interpreted per-element eval made this query's latency a
      // function of JIT tier-up (6.5 s cold vs 0.7 s hot on the same
      // input in the round-3 bench reps)
      import org.apache.spark.sql.graft.ColumnBridge
      val grams = ColumnBridge.column(graft.plans.CharShingles(
        ColumnBridge.expression(col("text")), 5))
      // blocking window: bounded id range AND bounded length — a single
      // megabyte-scale document would otherwise dominate the gram-set
      // arithmetic in BOTH engines (observed 100×); oversized docs belong
      // to the MinHash path (q22), not the brute-force verifier. The
      // window is a fixed 200-doc block (scale-CONSTANT by construction);
      // cached because it feeds both sides of the pair join.
      val g = Tables.documents(s, dir)
        .where("doc_id < 200 AND length(text) BETWEEN 5 AND 10000")
        .select(col("doc_id"), grams.as("g"), expr("length(text)").as("len"))
        .cache()
      // length blocking (10·max ≤ 13·min ⇔ ratio ≤ 1.3, integer-exact):
      // a J≥0.5 pair can't differ much in length, so skip the Jaccard
      // arithmetic for pairs that obviously can't match
      g.toDF("doc_a", "g_a", "len_a").crossJoin(g.toDF("doc_b", "g_b", "len_b"))
        .where(col("doc_a") < col("doc_b"))
        .where("10 * greatest(len_a, len_b) <= 13 * least(len_a, len_b)")
        .select(col("doc_a"), col("doc_b"), jaccardN(col("g_a"), col("g_b")).as("j1000"))
        .where("j1000 >= 500")
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash + LSH banding + exact-Jaccard confirmation, whole corpus.
    "q22_minhash_lsh" -> ((s, dir) =>
      minhashNearDups(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")),

    // the dedup-method agreement matrix: the four families' removal
    // verdicts κ-scored pairwise over the planted-span corpus — the
    // stacking-justification audit (q203's discipline for dedup)
    "q230_dedup_agreement" -> ((s, dir) => dedupAgreement(s, dir)),

    // Per-document 48-bit SimHash.
    "q23_simhash" -> ((s, dir) =>
      simhash(Tables.documents(s, dir)).orderBy("doc_id")),

    // SimHash near-dup pairs (Hamming ≤ 3) via exact band pigeonhole;
    // oracle is the brute-force all-pairs check.
    "q69_simhash_pairs" -> ((s, dir) =>
      simhashPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")),

    // Canonical-form dedup: lower + strip non-alnum + collapse spaces
    // before fingerprinting — catches case/punctuation near-dups that
    // exact-text dedup misses.
    "q38_canonical_dedup" -> ((s, dir) => {
      val canon = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"
      Relational.keepFirst(
        Tables.documents(s, dir).selectExpr("doc_id", s"md5($canon) AS cfp"),
        Seq("cfp"), Seq(col("doc_id")))
        .select("doc_id", "cfp").orderBy("doc_id")
    }),

    // Exact dedup with MERGES the oracle can see: the raw corpus has no
    // exact duplicates, so q20 never exercises the keep-first tiebreak
    // end-to-end. Plant deterministic duplicates — every doc_id % 20 == 0
    // doc re-enters with a HIGHER id (loser: original survives) and every
    // doc_id % 20 == 10 doc with a LOWER id (winner: the planted copy
    // survives, visible as negative ids in the output). The kept set
    // provably differs from both the raw corpus and the union input.
    "q51_exact_dedup_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val losers = docs.where("doc_id % 20 = 0").selectExpr("doc_id + 1000000 AS doc_id", "text")
      val winners = docs.where("doc_id % 20 = 10").selectExpr("doc_id - 1000000 AS doc_id", "text")
      val corpus = docs.unionAll(losers).unionAll(winners)
      Relational.keepFirst(
        corpus.selectExpr("doc_id", "md5(text) AS fp"),
        Seq("fp"), Seq(col("doc_id")))
        .select("doc_id", "fp").orderBy("doc_id")
    }),

    // Canonical dedup with visible merges: planted copies are case- and
    // punctuation-perturbed (upper + trailing bang), so EXACT fingerprints
    // differ but canonical fingerprints collide — only the canonical pass
    // merges them, which is precisely the semantics q38 claims over q20.
    "q52_canonical_dedup_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val perturbed = docs.where("doc_id % 20 = 5")
        .selectExpr("doc_id + 2000000 AS doc_id", "concat(upper(text), '!!') AS text")
      val corpus = docs.unionAll(perturbed)
      val canon = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"
      Relational.keepFirst(
        corpus.selectExpr("doc_id", s"md5($canon) AS cfp"),
        Seq("cfp"), Seq(col("doc_id")))
        .select("doc_id", "cfp").orderBy("doc_id")
    }),

    // Near-dup clusters: connected components over q22's pair graph —
    // one representative per transitive near-dup group. The label frame
    // is memoized per (session, dataset) like the embedding-side twin
    // (q59/q79): clustering is TRAINED once and served many times — the
    // 10-round propagation is paid on first use, repeat queries read the
    // materialized (localCheckpoint'd) labels. SPARK_GRAFT_BENCH_COLD=1
    // re-pays it per rep via the Memos registry.
    "q53_dedup_clusters" -> ((s, dir) =>
      textClusters(s, dir).orderBy("doc_id")),

    // SOFT dedup (He et al. 2024 "SoftDeDup"): instead of DROPPING
    // near-dups, every document keeps a sampling weight inversely
    // proportional to its commonness (its near-dup cluster size) — the
    // reweighting a trainer feeds its sampler so duplicated content
    // contributes ~once in expectation without discarding the unique
    // spans duplicates still carry. Reuses q53's memoized cluster
    // labels; the label frame is pair-graph-sized (near-dup docs only),
    // its size aggregate smaller still, so the only corpus-sized step
    // is ONE left join from documents onto labels — singletons
    // (unlabeled) get commonness 1 and full weight by coalesce, never
    // by materializing corpus-sized cluster rows. Weight is integer
    // fixed-point: w_e6 = 1e6 div commonness (exact in both engines).
    "q175_soft_dedup" -> ((s, dir) => softWeights(s, dir).orderBy("doc_id")),

    // q193 — keep-LONGEST near-dup representative: the OTHER published
    // keep policy beside q53's deterministic smallest-id (C4 keeps the
    // longest member of a duplicate group — Raffel et al. 2020 §2.2;
    // Lee et al. 2022 §4 discuss representative choice for NearDup
    // groups): near-dups usually share a core span and the longest
    // member carries the superset, so dropping by id can discard
    // content. Per CLUSTERED doc: its cluster, content length, and the
    // kept verdict under (n_chars DESC, doc_id ASC) — reusing q53's
    // memoized labels, so the frame is pair-participant-sized (never
    // corpus-sized) and the rank window partitions by cluster (bounded
    // groups). The stored n_chars column is the length signal — no
    // text rescan.
    "q193_keep_longest" -> ((s, dir) => {
      val l = textClusters(s, dir).select("doc_id", "cluster")
        .join(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      l.withColumn("kept", row_number().over(w) === 1)
        .selectExpr("doc_id", "cast(cluster AS bigint) AS cluster",
          "n_chars", "kept")
        .orderBy("doc_id")
    }),

    // The q175 weights CONSUMED: q160's temperature mixture computed
    // over SoftDeDup-EFFECTIVE token mass (Σ tokens × w_e6 per source)
    // instead of raw counts — the sampler-facing composition where
    // reweighting actually changes a downstream number: a source whose
    // bulk is near-duplicate content stops inflating its α-sampling
    // share, because its duplicated tokens count ~once in expectation.
    // Scale shape: q175's one corpus-sized left join feeds ONE
    // map-side-combined per-source aggregate, then the #sources-row
    // largest-remainder chain (q160's tail, shared code). Integer
    // contract: mass is an exact e6-scaled bigint (~10^12 at sf0.1,
    // far under the 2^53 pow-exactness bound the q160 convention needs).
    "q186_soft_temperature_mix" -> ((s, dir) => {
      val w = softWeights(s, dir).select("doc_id", "w_e6")
      val mass = Tables.documents(s, dir)
        .selectExpr("doc_id", "source", s"cast(size($toksE) as bigint) AS n")
        .join(w, Seq("doc_id"))
        .groupBy("source").agg(sum(expr("n * w_e6")).as("n_tokens"))
      Curation.temperatureOver(mass)
        .selectExpr("source", "n_tokens AS wtok_e6", "p_e9", "w_e6",
          "alloc_tokens")
        .orderBy("source")
    }),

    // Incremental near-dup pairs: the 10% batch (doc_id % 10 = 7)
    // deduped against the persisted LSH index of the other 90% — the
    // index is parquet on disk (built once per session, Memos-cold
    // rebuildable); the incremental plan scans INDEX FILES + the new
    // batch, never the old corpus text. Oracle: the full-corpus LSH
    // pairs restricted to pairs touching the batch — incremental must
    // equal batch-restricted full recompute exactly.
    "q115_incremental_dedup" -> ((s, dir) => {
      val p = lshIndexDir(s, dir)
      incrementalNearDups(
        s.read.parquet(s"$p/bands"), s.read.parquet(s"$p/sh"),
        Tables.documents(s, dir).where("doc_id % 10 = 7"))
        .orderBy("doc_a", "doc_b")
    }),

    // The operational form of q115: per new doc, the KEEP/DROP verdict.
    // A new doc is dropped iff it near-matches the existing corpus (the
    // index always wins a cross pair) or a smaller-id doc of its own
    // batch (deterministic within-batch keep-first) — the decision an
    // ingest pipeline applies before appending the batch.
    "q116_incremental_keep" -> ((s, dir) => {
      val p = lshIndexDir(s, dir)
      val newDocs = Tables.documents(s, dir).where("doc_id % 10 = 7")
      val pairs = incrementalNearDups(
        s.read.parquet(s"$p/bands"), s.read.parquet(s"$p/sh"), newDocs)
      val drops = pairs.selectExpr(
        "CASE WHEN is_cross THEN (CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END) " +
          "ELSE doc_b END AS doc_id")
        .distinct().withColumn("dup", lit(true))
      newDocs.select("doc_id").join(drops, Seq("doc_id"), "left")
        .selectExpr("doc_id", "coalesce(NOT dup, true) AS keep")
        .orderBy("doc_id")
    }),

    // Fuzzy (MinHash) decontamination: flag training docs that are
    // NEAR-COPIES of a held-out eval doc. q62's n-gram test flags on ANY
    // shared 6-gram — high recall, but a single common phrase flags a
    // doc; this variant asserts DOCUMENT-level near-duplication (exact
    // Jaccard ≥ 0.5 on word shingles, the q22 kernel), the verdict used
    // when the policy is "remove real eval near-copies", not "remove
    // everything touching a shared phrase". Mechanically it is
    // [[incrementalNearDups]] with the BENCHMARK as the index and the
    // training corpus as the batch — the eval set is tiny, so the index
    // side of the band probe is benchmark-sized and the corpus is
    // signed once, never self-joined. Planted contamination: eval docs
    // re-inserted with the first token replaced, invisible to EXACT
    // hash dedup but ~930‰ Jaccard here. The copy-id offset is derived
    // from max(doc_id)+1 (a 1-row aggregate, model-state-class
    // collect), not a fixed constant — a corpus whose ids reach a
    // hard-coded 5e6 would silently misclassify originals as copies
    // and collide planted ids with real ones.
    "q125_fuzzy_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val off = docs.agg(max("doc_id")).first.getLong(0) + 1
      val evalSet = docs.where("doc_id % 97 = 3")
      val train = docs.where("doc_id % 97 <> 3").unionAll(
        evalSet.selectExpr(s"doc_id + ${off}L AS doc_id",
          "regexp_replace(text, '^\\\\S+', 'zzz') AS text"))
      val sigs = signatures(evalSet).cache()
      incrementalNearDups(bandedOf(sigs), sigs.select("doc_id", "sh"), train)
        .where("is_cross")
        // the training side of a cross pair is the id that is NOT an
        // original eval doc (+off copies can be ≡3 mod 97, hence the
        // id-range guard; off > every original id by construction)
        .selectExpr(
          s"CASE WHEN doc_a % 97 = 3 AND doc_a < ${off}L THEN doc_b ELSE doc_a END AS doc_id",
          "j1000")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), max("j1000").as("best_j"))
        .orderBy("doc_id")
    }),

    // q203 — the DECONTAMINATION METHOD-AGREEMENT report: the three
    // text-side screens (exact doc hash = q93's rule, 6-gram overlap =
    // q62's, doc-level fuzzy Jaccard ≥ 0.5 = q125's) run over ONE
    // planted corpus and tabulated per (method, plant-band) — the
    // table that says what each screen actually catches: hash sees
    // only byte-exact leaks; n-gram adds paraphrase-adjacent overlap
    // but also fires on clean docs sharing a phrase; fuzzy asserts
    // document-level near-duplication. Plants: every eval doc
    // re-inserted byte-exact (+off) and first-token-perturbed (+2·off,
    // invisible to the hash screen by construction); off = max(id)+1
    // (the q125 derivation — never a fixed constant). Each leg is its
    // standalone gate's code path verbatim (decontaminateAgainst /
    // md5 semi-join / incrementalNearDups against the eval index), so
    // the report cannot drift from the gates it summarizes.
    "q203_decontam_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val off = docs.agg(max("doc_id")).first.getLong(0) + 1
      val evalSet = docs.where("doc_id % 97 = 3")
      val train = docs.where("doc_id % 97 <> 3")
        .unionAll(evalSet.selectExpr(s"doc_id + ${off}L AS doc_id", "text"))
        .unionAll(evalSet.selectExpr(s"doc_id + ${2 * off}L AS doc_id",
          "regexp_replace(text, '^\\\\S+', 'zzz') AS text"))
      val byHash = train.selectExpr("doc_id", "md5(text) AS fp")
        .join(evalSet.selectExpr("md5(text) AS fp"), Seq("fp"), "left_semi")
        .select("doc_id")
      val byNgram = Curation.decontaminateAgainst(train,
          Curation.evalShingleSet(evalSet))
        .where("contaminated").select("doc_id")
      val sigs = signatures(evalSet).cache()
      val byFuzzy = incrementalNearDups(bandedOf(sigs),
          sigs.select("doc_id", "sh"), train)
        .where("is_cross")
        .selectExpr(s"CASE WHEN doc_a % 97 = 3 AND doc_a < ${off}L " +
          "THEN doc_b ELSE doc_a END AS doc_id")
        .distinct()
      val flags = byHash.withColumn("method", lit("1_exact_hash"))
        .unionByName(byNgram.withColumn("method", lit("2_ngram6")))
        .unionByName(byFuzzy.withColumn("method", lit("3_fuzzy_lsh")))
      val bands = train.selectExpr("doc_id",
        s"CASE WHEN doc_id >= ${2 * off}L THEN 'planted_fuzzy' " +
          s"WHEN doc_id >= ${off}L THEN 'planted_exact' " +
          "ELSE 'clean' END AS band")
      flags.join(bands, Seq("doc_id"))
        .groupBy("method", "band").agg(count(lit(1)).as("n_flagged"))
        .orderBy("method", "band")
    }),

    // Cluster-aware leakage-free split: assign train/validation/test by
    // the NEAR-DUP CLUSTER representative, not the document id. A
    // doc-level hash split sprinkles near-copies of the same document
    // across train AND test — eval content leaks into training. Keying
    // the q12 portable split hash on the q53 cluster label instead
    // (docs in no pair are their own singleton cluster) puts every
    // near-dup group in exactly one split by construction. Cost beyond
    // the memoized clustering: the label frame is pair-participant-sized
    // (≪ corpus), so the enrichment join broadcasts; the split itself is
    // a pure hash — no RNG, no extra shuffle, any cluster size. The
    // label frame is pair-PARTICIPANT-sized: small on this corpus, but
    // web-scale near-dup rates run 30-50% of docs, so "≪ corpus" is
    // not a structural guarantee — the enrichment join carries no
    // broadcast hint and AQE decides per actual size.
    "q123_cluster_split" -> ((s, dir) => {
      val labels = textClusters(s, dir).select("doc_id", "cluster")
      Tables.documents(s, dir).select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
        .withColumn("split", Relational.splitLabel(col("cluster")))
        .orderBy("doc_id")
    }),

    // Passage-level exact dedup (the sub-document granularity the
    // doc-level q20 can't reach): each document is cut into
    // non-overlapping 8-token passages; a passage repeated ANYWHERE in
    // the corpus survives only at its first occurrence (min packed
    // (doc_id, pidx) — the q01 packed-long keep-first applied at passage
    // grain), and every document is REBUILT from its surviving passages
    // in order. ~5% of this corpus's passages are natural exact repeats,
    // so the merge path is exercised without planting. Scale shape: one
    // tokenize + explode, then exactly two hash-aggregate shuffles —
    // keep-first keyed on passage text, rebuild keyed on doc_id. No
    // joins, no windows over the corpus; at 100 TB this is the same
    // two-shuffle profile as q20 with ~n_passages rows in flight.
    // pidx < 2^16 bounds docs at 524k tokens (the packed-long budget).
    // The pass itself is session-memoized (q139/q162/q165 share it).
    "q139_passage_dedup" -> ((s, dir) =>
      passageDedupMemo(s, dir).orderBy("doc_id")),

    // ExactSubstr span removal: any-alignment duplicated regions cut.
    "q152_substring_dedup" -> ((s, dir) =>
      exactSubstringDedup(Tables.documents(s, dir))),

    // The same operator at a REALISTIC span length (k=32, the
    // published ExactSubstr settings run ~50-token spans): longer
    // windows mean fewer, longer spans and the packed positional
    // budget (2^20) binds sooner — this gate proves the guard,
    // packing, interval merge and rebuild all survive the setting a
    // production dedup would actually ship, not just the small-k one.
    "q164_substring_dedup_long" -> ((s, dir) =>
      exactSubstringDedup(Tables.documents(s, dir), k = 32)),

    // Sketch-vs-exact calibration curve over the candidate pairs.
    "q155_minhash_calibration" -> ((s, dir) =>
      minhashCalibration(Tables.documents(s, dir))),

    // K ∈ {16,32,64} estimator ablation, gate-region MAE floor-gated.
    "q158_minhash_k_ablation" -> ((s, dir) =>
      minhashKAblation(Tables.documents(s, dir))),

    // Per-source dedup impact report (doc-level + passage-level).
    "q162_dedup_impact" -> ((s, dir) =>
      dedupImpact(Tables.documents(s, dir),
        passages = Some(passageDedupMemo(s, dir))))
  )

  /** `doc_id`·2^bits + `idx` as ONE bigint total order, with the domain
    * ENFORCED in-plan (the q108 merge-guard convention,
    * `Merge.scala`): `idx` must fit its 2^bits budget and `doc_id` the
    * remaining bits, else the job fails LOUDLY via raise_error instead
    * of silently folding the overflow into the NEXT doc_id's key space
    * — which would corrupt keep-first winners with no error. The guard
    * is a codegen'd conditional on values the projection already
    * computed; in-bounds rows produce bit-identical keys to the
    * unguarded expression, so the oracle hashes are unchanged.
    * PackedKeepFirstProps drives idx to and past the bound. */
  private[graft] def guardedPacked(op: String, docId: org.apache.spark.sql.Column,
                                   idx: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    val cap = 1L << bits
    val docCap = Long.MaxValue / cap // docId < docCap ∧ idx < cap ⇒ packed < 2^63
    val inBounds = idx >= 0 && idx < cap && docId >= 0 && docId < docCap
    when(inBounds, docId * cap + idx).otherwise(raise_error(concat(
      lit(s"$op: packed-key domain violated (need 0 <= idx < 2^$bits and "),
      lit(s"0 <= doc_id < $docCap; split or truncate oversized documents "),
      lit("upstream): doc_id="), docId.cast("string"),
      lit(" idx="), idx.cast("string"))))
  }

  /** q139 core: non-overlapping `w`-token passages, corpus-wide
    * keep-first per passage text, documents rebuilt from survivors.
    * Output: (doc_id, n_kept, text_kept) for every doc keeping ≥1
    * passage. Packed key = doc_id·2^16 + pidx (total order, single
    * bigint MIN — no row_number window over the passage stream); the
    * pidx < 2^16 budget (524k-token doc cap at w=8) is enforced by
    * [[guardedPacked]] — a book-length doc fails loudly, never
    * silently adopts a neighbor's key space. */
  /** The passage table q139 folds: one row per non-overlapping `w`-token
    * passage, keyed by the guarded packed total order. Shared with the
    * STREAMING fold (CurationStream), whose per-batch contribution is
    * exactly this frame over the batch. */
  private[graft] def passageTable(docs: DataFrame, w: Int = 8): DataFrame =
    docs
      .selectExpr("doc_id", s"${graft.functions.Portable.sparkToks} AS toks")
      .where("size(toks) > 0")
      .selectExpr("doc_id",
        s"explode(sequence(0, cast(ceil(size(toks) / $w.0) as int) - 1)) AS pidx",
        "toks")
      .select(
        guardedPacked("passageDedup", col("doc_id"), col("pidx"), 16).as("packed"),
        expr(s"array_join(slice(toks, pidx * $w + 1, $w), ' ')").as("ptext"))

  /** Winners → rebuilt documents: the shared tail of batch q139 and the
    * streamed view (input: one row per KEPT passage occurrence). */
  private[graft] def rebuildFromPassages(kept: DataFrame): DataFrame =
    kept
      .selectExpr("packed div 65536 AS doc_id", "packed % 65536 AS pidx", "ptext")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(pidx, ptext))), x -> x.ptext), ' ')")
          .as("text_kept"))
      .orderBy("doc_id")

  def passageDedup(docs: DataFrame, w: Int = 8): DataFrame =
    rebuildFromPassages(
      passageTable(docs, w).groupBy("ptext").agg(min("packed").as("packed")))

  /** Per-(session, sfDir) memo of the passage-deduped corpus rebuild —
    * q139 (the gate), q162 (the impact report) and q165 (the composed
    * pipeline) all need the identical q139 pass; the memo runs the
    * passage shuffle once per dataset per session and hands everyone
    * the materialized rebuild (localCheckpoint: base-corpus-sized,
    * executor-local). q165 consumes it AFTER exact dedup — sound
    * because an exact-dup doc's passages are verbatim copies of its
    * smaller-id keeper's at the same pidx, so the dup can never hold a
    * winning packed key and contributes no kept row; the q165 oracle
    * (which replays the pass over the deduped set) would hash-mismatch
    * if this equivalence ever broke. */
  private val passageMemo = Memos.dirMemo[DataFrame]
  private[operators] def passageDedupMemo(s: SparkSession, dir: String): DataFrame =
    passageMemo((s, dir)) {
      passageDedup(Tables.documents(s, dir).select("doc_id", "text"))
        .localCheckpoint()
    }

  /** q230 — the DEDUP-METHOD AGREEMENT matrix: pairwise agreement and
    * Cohen's κ between the four dedup families' per-doc removal
    * verdicts over ONE corpus with every plant family present (the
    * q204 planted-span corpus, which also carries the raw testdata's
    * natural exact/near dups) — the q203 cross-method audit the
    * decontamination family has, applied to dedup. This is the
    * analysis that justifies running multiple dedup passes in one
    * pipeline (q165's chain runs three of these): κ ≈ 0 says the
    * methods remove DIFFERENT material (stacking adds coverage),
    * κ → 1 says a pass is redundant.
    *
    * Per-doc verdicts, each from its family's audited kernel:
    *  - f_mh — MinHash/LSH (q22): the doc has a smaller-id near-dup at
    *    Jaccard ≥ 0.5 (the q116 keep-first drop convention);
    *  - f_sh — SimHash (q69): a smaller-id signature within Hamming 3;
    *  - f_pa — passage dedup (q139): the doc lost ≥ 1 passage cell to
    *    an earlier occurrence;
    *  - f_sx — suffix-array dedup (q204): ≥ 1 duplicated ≥50-token
    *    span cut (remove-ALL semantics — this family's removal set is
    *    occurrence-based, not keep-first, and the matrix shows exactly
    *    that asymmetry: donors flag here but not under keep-first).
    *
    * Contingencies are exact integer sums over the corpus (missing
    * verdicts coalesce to false — a doc too short to shingle is not
    * removed); the κ tail is the SHARED q220 fixed-order fragment
    * ([[Curation.kappaTail]], with the n = 0 and pe = 1 degenerate
    * pins). Scale: the four flag frames are each their gate's audited
    * plan over one shared corpus; the matrix itself is one 1-row
    * contingency aggregate carrying all six pairs → six rows. */
  def dedupAgreement(s: SparkSession, dir: String): DataFrame = {
    val flags = dedupFlagsFor(s, dir)
    def c(e: String) = coalesce(sum(expr(s"IF($e, 1L, 0L)")), lit(0L))
    val pairs = Seq(("mh", "sh"), ("mh", "pa"), ("mh", "sx"),
      ("sh", "pa"), ("sh", "sx"), ("pa", "sx"))
    val aggs = pairs.flatMap { case (x, y) => Seq(
      c(s"f_$x AND f_$y").as(s"${x}${y}11"),
      c(s"f_$x AND NOT f_$y").as(s"${x}${y}10"),
      c(s"NOT f_$x AND f_$y").as(s"${x}${y}01")) }
    val rows = pairs.map { case (x, y) =>
      s"named_struct('pair', '${x}_$y', 'n', n, " +
        s"'n11', $x${y}11, 'n10', $x${y}10, 'n01', $x${y}01)"
    }.mkString(",\n")
    Curation.kappaTail(
      flags.agg(count(lit(1)).as("n"), aggs: _*)
        .selectExpr(s"explode(array(\n$rows)) AS e")
        .selectExpr("e.pair AS pair", "e.n AS n", "e.n11 AS n11",
          "e.n10 AS n10", "e.n01 AS n01"),
      "pair")
  }

  /** Per-(session, sfDir) memo of the four per-doc dedup verdicts over
    * the planted-span corpus (doc_id, f_mh, f_sh, f_pa, f_sx) — four
    * heavyweight audited plans feeding one narrow frame, materialized
    * once per dataset per session (Memos-cold re-pays all four). */
  private val dedupFlagsMemo = Memos.dirMemo[DataFrame]
  private def dedupFlagsFor(s: SparkSession, dir: String): DataFrame =
    dedupFlagsMemo((s, dir)) {
      val corpus = SuffixDedup.plantedSpanCorpus(
        Tables.documents(s, dir)).localCheckpoint()
      val mh = minhashNearDups(corpus)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("f_mh", lit(true))
      val sh = simhashPairs(corpus)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("f_sh", lit(true))
      // a doc is passage-flagged iff its kept cell count fell short of
      // its cell count (docs losing EVERY cell leave the rebuild — the
      // left join + coalesce(0) covers them)
      val cells = corpus.selectExpr("doc_id", s"$toksE AS toks")
        .where("size(toks) > 0")
        .selectExpr("doc_id",
          "cast(ceil(size(toks) / 8.0) as bigint) AS n_cells")
      val pa = cells
        .join(passageDedup(corpus.select("doc_id", "text"))
          .select("doc_id", "n_kept"), Seq("doc_id"), "left")
        .where("coalesce(n_kept, 0L) < n_cells")
        .select("doc_id").withColumn("f_pa", lit(true))
      val sx = SuffixDedup.suffixArrayDedup(corpus, earlyExit = false)
        .where("n_removed > 0")
        .select("doc_id").withColumn("f_sx", lit(true))
      corpus.select("doc_id")
        .join(mh, Seq("doc_id"), "left")
        .join(sh, Seq("doc_id"), "left")
        .join(pa, Seq("doc_id"), "left")
        .join(sx, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(f_mh, false) AS f_mh", "coalesce(f_sh, false) AS f_sh",
          "coalesce(f_pa, false) AS f_pa", "coalesce(f_sx, false) AS f_sx")
        .localCheckpoint()
    }

  /** q155 — MinHash estimator CALIBRATION: on the banded candidate
    * pairs, compare the sketch's Jaccard estimate (matching signature
    * coordinates / K) against the exact shingle Jaccard, bucketed into
    * exact-Jaccard deciles — the measurement that tells you whether
    * K=16 permutations are enough BEFORE a threshold decision trusts
    * them (expected |err| ≈ √(j(1−j)/K) ≈ 0.12 at j=0.5; the sketch is
    * only asked to be sharp near the 0.5 gate, and the per-decile MAE
    * is exactly that sharpness, made a regression-checked number — the
    * q131/q147/q151 gate pattern pointed at the dedup sketch itself).
    *
    * Plan: the candidate frame is banded (never all-pairs); signatures
    * attach by the two pair joins every confirm path already pays; the
    * calibration aggregate is ≤11 rows. All-integer outputs: est1000 =
    * (1000·matches) div 16, means/MAE as floor divisions of exact sums
    * (all-positive ⇒ Spark `div` ≡ DuckDB `//`). */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    // scan-parallelism rescue: measured positive here and in the K
    // ablation (wider estimator arithmetic per pair), unlike the plain
    // q22/q125 signature paths where it was neutral-to-regressive
    val sigs = signatures(Spread.scanWide(docs, col("doc_id"))).cache()
    val matchSum = (0 until MinhashK).map(j => s"if(a_m$j = b_m$j, 1, 0)").mkString(" + ")
    val aCols = "doc_a" +: "sh_a" +: (0 until MinhashK).map("a_m" + _)
    val bCols = "doc_b" +: "sh_b" +: (0 until MinhashK).map("b_m" + _)
    candidatePairs(sigs)
      .join(sigs.toDF(aCols: _*), "doc_a")
      .join(sigs.toDF(bCols: _*), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr(s"(1000 * ($matchSum)) div $MinhashK").as("est1000"),
        jaccardN(col("sh_a"), col("sh_b")).as("j1000"))
      .groupBy(expr("j1000 div 100").as("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(est1000) div count(1)").as("mean_est_e3"),
        expr("sum(j1000) div count(1)").as("mean_exact_e3"),
        expr("sum(abs(est1000 - j1000)) div count(1)").as("mae_e3"))
      .orderBy("decile")
  }

  /** q162 — the DEDUP IMPACT REPORT a pipeline owner reads before
    * committing to a dedup rollout: per source, document-level
    * exact-duplicate losses (q20 keep-first semantics) and
    * sub-document passage-level losses (q139 semantics, counted in
    * passages), as exact counts plus e4 fractions. The number that
    * answers "which source is boilerplate-heavy" and "how many tokens
    * does passage dedup actually buy" without anyone re-running the
    * dedups ad hoc.
    *
    * Plan: one corpus scan for the doc-level stats (fp + token count),
    * the q139 keep-first pass for passage winners, then ONE
    * #sources-row aggregate. Fractions are integer floor divisions of
    * exact sums (the repo convention). */
  def dedupImpact(docs: DataFrame,
                  passages: Option[DataFrame] = None): DataFrame = {
    val toksE = graft.functions.Portable.sparkToks
    val winners = docs.selectExpr("doc_id", "md5(text) AS fp")
      .groupBy("fp").agg(min("doc_id").as("keep_id"))
    val pk = passages.getOrElse(passageDedup(docs.select("doc_id", "text")))
      .select("doc_id", "n_kept")
    docs.selectExpr("doc_id", "source", "md5(text) AS fp",
        s"cast(size($toksE) as bigint) AS n_toks")
      .join(winners, Seq("fp"))
      .join(pk, Seq("doc_id"), "left")
      .selectExpr("source",
        "CASE WHEN doc_id <> keep_id THEN 1L ELSE 0L END AS is_dup",
        "CASE WHEN n_toks > 0 THEN cast(ceil(n_toks / 8.0) as bigint) ELSE 0L END AS np",
        "coalesce(n_kept, 0L) AS nk")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_dup").cast("long").as("n_dup_docs"),
        sum("np").cast("long").as("n_passages"),
        sum("nk").cast("long").as("n_passages_kept"))
      .selectExpr("source", "n_docs", "n_dup_docs", "n_passages", "n_passages_kept",
        "(10000 * n_dup_docs) div n_docs AS dup_doc_frac_e4",
        "(10000 * (n_passages - n_passages_kept)) div greatest(n_passages, 1) AS passage_removed_frac_e4")
      .orderBy("source")
  }

  /** q158 — MinHash signature-width ABLATION, closing the loop q155's
    * calibration curve opened: the same candidate pairs scored by the
    * K ∈ {16, 32, 64} estimators simultaneously, per-decile, with the
    * region the 0.5 dedup gate actually trusts (j ≥ 0.5) FLOOR-GATED at
    * MAE ≤ 100‰ for every K (the q131/q147/q151 pattern). Binomial
    * theory says E|err| ≈ √(2/π)·√(j(1−j)/K) — ≤ 63‰ at j = 0.9, K=16 —
    * and the gate regression-checks that the implementation delivers
    * it; the sweep rows show what doubling K buys before anyone pays
    * 4× the signature bytes corpus-wide.
    *
    * Plan shape: ONE 64-coordinate signature pass (the production K=16
    * signature is its prefix, so banding and the candidate set are
    * bit-identical to q22/q155), the two candidate-sized signature
    * joins every confirm path pays, a 3-way stack to long form, and a
    * ≤(3 × 11)-row aggregate. Nothing here is corpus-squared. */
  def minhashKAblation(docs: DataFrame): DataFrame = {
    val kMax = 64
    // native one-pass 64-wide signature (the q22 MinHashSig kernel with
    // k=64 — same affine formula, so m0..m15 IS the production
    // signature); the 64-transform declarative spelling lives on as the
    // oracle twin and measured 2.7 s vs ~1 s here at sf0.1
    val sig64 = {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.plans.MinHashSig(
        ColumnBridge.expression(col("sh")), kMax))
    }
    val sigs = shingled(Spread.scanWide(docs, col("doc_id")))
      .select(col("doc_id"), col("sh"), sig64.as("sig"))
      .selectExpr(Seq("doc_id", "sh") ++ (0 until kMax).map(j => s"sig[$j] AS m$j"): _*)
      .cache()
    def estE(k: Int) = {
      val s = (0 until k).map(j => s"if(a_m$j = b_m$j, 1, 0)").mkString(" + ")
      s"(1000 * ($s)) div $k"
    }
    val aCols = "doc_a" +: "sh_a" +: (0 until kMax).map("a_m" + _)
    val bCols = "doc_b" +: "sh_b" +: (0 until kMax).map("b_m" + _)
    val longForm = candidatePairs(sigs) // bands read m0..m15, the K=16 prefix
      .join(sigs.toDF(aCols: _*), "doc_a")
      .join(sigs.toDF(bCols: _*), "doc_b")
      .select(
        expr(estE(16)).as("est16"), expr(estE(32)).as("est32"),
        expr(estE(64)).as("est64"),
        jaccardN(col("sh_a"), col("sh_b")).as("j1000"))
      .selectExpr("j1000",
        "stack(3, 16L, est16, 32L, est32, 64L, est64) AS (k_sig, est)")
      .cache()
    val curveFull = longForm
      .groupBy(col("k_sig"), expr("j1000 div 100").as("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(est) div count(1)").as("mean_est_e3"),
        expr("sum(j1000) div count(1)").as("mean_exact_e3"),
        expr("sum(abs(est - j1000)) div count(1)").as("mae_e3"))
    val floor = longForm.where("j1000 >= 500")
      .groupBy("k_sig")
      .agg(expr("sum(abs(est - j1000)) div count(1)").as("gmae"))
      .agg(coalesce(expr("max(gmae) <= 100"), lit(true)).as("floor_ok"))
    // own the caches (the nearDupClustersStats discipline): the final
    // frame is ≤(3 × 11) rows — eagerly materialize it, then release
    // both cached intermediates instead of leaking them across bench reps
    val out = curveFull.crossJoin(broadcast(floor))
      .orderBy("k_sig", "decile").localCheckpoint()
    longForm.unpersist()
    sigs.unpersist()
    out
  }

  /** q152 core — exact-substring span removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * ExactSubstr, here at token granularity with `k`-token windows):
    * every OVERLAPPING window is fingerprinted corpus-wide; an
    * occurrence whose text occurs anywhere else is a duplicate SPAN
    * unless it is the globally-first occurrence (packed
    * doc_id·2²⁰+pos order — the q01/q139 total-order trick; the pos <
    * 2²⁰ per-doc budget is enforced in-plan by [[guardedPacked]]); per doc the duplicate spans are
    * interval-MERGED (running-max-end group boundaries + one cumsum,
    * both windows over the spans frame — duplicate-occurrence-sized,
    * far smaller than the corpus); documents are rebuilt with the
    * merged spans cut out. Unlike q139's fixed passage grid this
    * catches duplicated regions at ANY alignment, the actual
    * ExactSubstr semantics.
    *
    * Scale: one corpus window scan → ONE shuffle keyed by the window
    * hash (count+min as window functions over h — no second corpus
    * join); span-merge windows touch only duplicates; the rebuild is
    * one join of per-doc span LISTS (few per doc) back onto the token
    * scan, the cut a codegen'd filter lambda over the token array.
    * Output is md5-fingerprinted like q76 so the result stays
    * text-free and bounded. */
  def exactSubstringDedup(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.selectExpr("doc_id",
      s"${graft.functions.Portable.sparkToks} AS toks")
    val wins = t.where(s"size(toks) >= $k")
      .selectExpr("doc_id", "toks",
        s"explode(sequence(1, size(toks) - ${k - 1})) AS i")
      .selectExpr("doc_id", "i",
        s"md5(array_join(slice(toks, i, $k), ' ')) AS h")
    val byH = Window.partitionBy("h")
    val spans = wins
      .withColumn("packed",
        guardedPacked("exactSubstringDedup", col("doc_id"), col("i"), 20))
      .withColumn("cnt", count(lit(1)).over(byH))
      .withColumn("minp", min("packed").over(byH))
      .where("cnt > 1 AND packed > minp")
      .selectExpr("doc_id", "i AS s", s"i + $k AS e")
    cutSpans(t, spans)
  }

  /** Shared span-cut core for the ExactSubstr family (q152/q164's
    * k-gram gates, q204's suffix-array form, q216's scrub): per-doc
    * spans are interval-MERGED (running-max-end group boundaries + one
    * cumsum, both windows over the spans frame — duplicate-occurrence-
    * sized, far smaller than the corpus) and documents are rebuilt with
    * the merged spans cut out. `t` is the (doc_id, toks) token scan;
    * `spans` is (doc_id, s, e) with 1-based [s, e) token intervals.
    * Output: (doc_id, n_tokens, kept token array) for EVERY doc of `t`
    * (left join — span-free docs keep everything) — the core behind
    * [[cutSpans]] (the q152/q164/q204 audit surface) and the REWRITE
    * form ([[SuffixDedup.suffixCutText]], the q214 pipeline stage). */
  private[operators] def cutSpansKept(t: DataFrame, spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    val merged = spans
      .withColumn("maxe",
        max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newg",
        expr("CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END"))
      .withColumn("grp",
        sum("newg").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("s").as("s"), max("e").as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    t.join(merged, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "cast(size(toks) as bigint) AS n_tokens",
        "filter(toks, (tk, ix) -> spans IS NULL OR NOT exists(spans, sp -> ix + 1 >= sp.s AND ix + 1 < sp.e)) AS kept")
  }

  /** [[cutSpansKept]] with the fingerprint tail: the kept tokens are
    * md5-fingerprinted like q76 so the result stays text-free and
    * bounded, ordered by doc_id — the audit surface the registered
    * gates hash. */
  private[operators] def cutSpans(t: DataFrame, spans: DataFrame): DataFrame =
    cutSpansKept(t, spans)
      .selectExpr("doc_id", "n_tokens",
        "cast(n_tokens - size(kept) as bigint) AS n_removed",
        "md5(array_join(kept, ' ')) AS clean_fp")
      .orderBy("doc_id")

  /** DuckDB twin of [[exactSubstringDedup]] at span `k` — the window
    * slice bounds, the span end, and the length floor all interpolate
    * from the one parameter, so the q152 (k=8) and q164 (k=32) gates
    * can never desynchronize from the Spark side's `k`. */
  private def duckExactSubstrSql(k: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, i, md5(array_to_string(toks[i:i+${k - 1}], ' ')) AS h
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${k - 2})) AS i
       |        FROM t WHERE len(toks) >= $k)),
       |sp AS (
       |  SELECT doc_id, i AS s, i + $k AS e FROM (
       |    SELECT doc_id, i,
       |      COUNT(*) OVER (PARTITION BY h) AS cnt,
       |      MIN(doc_id * 1048576 + i) OVER (PARTITION BY h) AS minp,
       |      doc_id * 1048576 + i AS packed
       |    FROM w)
       |  WHERE cnt > 1 AND packed > minp),
       |m AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS newg
       |  FROM sp),
       |g AS (
       |  SELECT doc_id, s, e,
       |    SUM(newg) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM m),
       |mg AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM g GROUP BY doc_id, grp),
       |pos AS (
       |  SELECT doc_id, i, toks[CAST(i AS INT)] AS tok
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
       |rm AS (
       |  SELECT DISTINCT p.doc_id, p.i FROM pos p
       |  JOIN mg ON p.doc_id = mg.doc_id AND p.i >= mg.s AND p.i < mg.e),
       |kept AS (
       |  SELECT p.doc_id, p.i, p.tok FROM pos p
       |  LEFT JOIN rm ON p.doc_id = rm.doc_id AND p.i = rm.i
       |  WHERE rm.i IS NULL),
       |a AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY i) AS txt
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  md5(COALESCE(a.txt, '')) AS clean_fp
       |FROM t LEFT JOIN a ON t.doc_id = a.doc_id ORDER BY t.doc_id""".stripMargin

  /** Per-(session, sfDir) memo of the persisted LSH index location for
    * the q115/q116 incremental-dedup gates: bands + shingle sets of the
    * NON-batch 90% slice, written to parquet once and then only READ —
    * the incremental step's plan contains no scan of the old corpus
    * text (the point of incrementality). Cold mode clears the memo and
    * re-pays the build per rep like every other model memo. */
  private val lshIndexMemo = Memos.dirMemo[String]
  /** Per-JVM index root (the GraftMatViews.spillDir convention) — two
    * concurrent JVMs benchmarking the same sfDir get isolated index
    * files instead of overwriting each other's parquet mid-read (the
    * round-14 ADVICE race, fixed here for the LSH index the same way
    * as for the IVF one). */
  private lazy val lshIndexRoot: String =
    java.nio.file.Files.createTempDirectory("graft_lsh_index").toString
  private def lshIndexDir(s: SparkSession, dir: String): String =
    lshIndexMemo((s, dir)) {
      val path = lshIndexRoot + "/" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val sigs = signatures(
        Tables.documents(s, dir).where("doc_id % 10 != 7")).cache()
      bandedOf(sigs).write.mode("overwrite").parquet(s"$path/bands")
      sigs.select("doc_id", "sh").write.mode("overwrite").parquet(s"$path/sh")
      sigs.unpersist()
      path
    }

  /** Per-(session, sfDir) memo of the documents near-dup cluster labels
    * (LSH pairs → label propagation). [[labelPropagateStats]] returns a
    * localCheckpoint'd leaf, so repeat callers read materialized labels
    * instead of re-running the identical iterative pipeline. */
  private val textLabelsMemo = Memos.dirMemo[DataFrame]
  private def textClusters(s: SparkSession, dir: String): DataFrame =
    textLabelsMemo((s, dir)) {
      nearDupClusters(Tables.documents(s, dir))
    }

  /** The q175 SoftDeDup weight frame — (doc_id, cluster, commonness,
    * w_e6), singletons at full weight by coalesce; shared by q175's own
    * gate and the q186 weighted-mixture consumer. */
  private def softWeights(s: SparkSession, dir: String): DataFrame = {
    val labels = textClusters(s, dir).select("doc_id", "cluster")
    val sized = labels.join(
      labels.groupBy("cluster").agg(count(lit(1)).as("commonness")),
      Seq("cluster"))
    Tables.documents(s, dir).select("doc_id")
      .join(sized, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "cast(coalesce(cluster, doc_id) AS bigint) AS cluster",
        "coalesce(commonness, 1L) AS commonness",
        "1000000L div coalesce(commonness, 1L) AS w_e6")
  }

  private def duckShingles = "list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))"

  /** The q192 planted-corpus + locality chain as CTE text (corpus →
    * bsf → gk → agg (source, n_docs, n_drop_global, n_drop_local)) —
    * shared verbatim by the q192 twin and the q200 card's, so the
    * construction can never fork. The plant offsets derive from
    * max(doc_id)+1 exactly as [[plantedDupCorpus]] does on the Spark
    * side (the q125/q203 convention). */
  private[operators] val duckLocalityCtes: String =
    """poff AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
      |corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT o FROM poff),
      |    concat('src', (CAST(substr(source, 4) AS INT) + 1) % 20), text
      |  FROM documents WHERE doc_id % 11 = 4
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM poff), source, text
      |  FROM documents WHERE doc_id % 13 = 6),
      |bsf AS (
      |  SELECT md5(text) AS fp, source,
      |    MIN(doc_id) AS l_keep, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM corpus GROUP BY 1, 2),
      |gk AS (SELECT fp, MIN(l_keep) AS g_keep FROM bsf GROUP BY fp),
      |agg AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
      |    CAST(SUM(n - CASE WHEN l_keep = g_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_global,
      |    CAST(SUM(n - 1) AS BIGINT) AS n_drop_local
      |  FROM bsf JOIN gk USING (fp) GROUP BY source)""".stripMargin

  def oracle: Map[String, String] = {
    val sigExprs = (0 until MinhashK).map { j =>
      s"list_min(list_transform(hs, x -> (${minhashA(j)} * x + ${minhashB(j)}) % ${P})) AS m$j"
    }.mkString(",\n  ")
    val bandExprs = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"m${b * RowsPerBand + r}")
      s"concat_ws('_', ${parts.mkString(", ")}) AS b$b"
    }.mkString(", ")
    val bandMatch = (0 until Bands).map(b => s"a.b$b = b.b$b").mkString(" OR ")
    // shared LSH pipeline CTEs (tokens → shingles → hashes → signatures →
    // bands), used by q22 (pairs), q53 (clusters), and — re-pointed at
    // the planted corpus — the q230 agreement matrix
    def duckLshCtesOver(src: String) =
      s"""t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM $src),
         |sh AS (
         |  SELECT doc_id, $duckShingles AS sh FROM t WHERE len(toks) >= 2),
         |hs AS (
         |  SELECT doc_id, sh, list_transform(sh, s -> ${duckHash48("s")} % ${P}) AS hs FROM sh WHERE len(sh) > 0),
         |sigs AS (
         |  SELECT doc_id, sh,
         |  $sigExprs
         |  FROM hs),
         |banded AS (
         |  SELECT doc_id, sh, $bandExprs FROM sigs)""".stripMargin
    val duckLshCtes = duckLshCtesOver("documents")
    // LSH chain → near-dup clusters → per-doc SoftDeDup weight frame
    // `dw` (doc_id, cluster, commonness, w_e6) — shared by q175 and its
    // q186 mixture consumer
    val duckSoftWeightCtes =
      s"""$duckLshCtes,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
         |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5),
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
         |walk AS (
         |  SELECT doc_a AS doc_id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a AS doc_id, w.label FROM edges e JOIN walk w ON w.doc_id = e.doc_b),
         |lab AS (SELECT doc_id, MIN(label) AS cluster FROM walk GROUP BY doc_id),
         |siz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS commonness FROM lab GROUP BY cluster),
         |dw AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(l.cluster, d.doc_id) AS BIGINT) AS cluster,
         |    CAST(COALESCE(s.commonness, 1) AS BIGINT) AS commonness,
         |    CAST(1000000 // COALESCE(s.commonness, 1) AS BIGINT) AS w_e6
         |  FROM documents d
         |  LEFT JOIN lab l USING (doc_id)
         |  LEFT JOIN siz s ON l.cluster = s.cluster)""".stripMargin
    Map(
      "q192_dedup_locality" ->
        s"""WITH ${Dedup.duckLocalityCtes}
          |SELECT source, n_docs, n_drop_global, n_drop_local,
          |  n_drop_global - n_drop_local AS n_missed_local,
          |  (10000 * (n_drop_global - n_drop_local)) // greatest(n_drop_global, 1) AS missed_frac_e4
          |FROM agg ORDER BY source""".stripMargin,
      "q20_exact_dedup" ->
        """SELECT doc_id, fp FROM (
          |  SELECT doc_id, md5(text) AS fp,
          |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "q21_ngram_jaccard" ->
        """WITH g AS (
          |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, i, 5))) AS g,
          |    length(text) AS len
          |  FROM documents WHERE doc_id < 200 AND length(text) BETWEEN 5 AND 10000)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  CAST(round(1000.0 * len(list_intersect(a.g, b.g)) / len(list_distinct(list_concat(a.g, b.g)))) AS BIGINT) AS j1000
          |FROM g a JOIN g b ON a.doc_id < b.doc_id AND 10 * greatest(a.len, b.len) <= 13 * least(a.len, b.len)
          |WHERE 1000.0 * len(list_intersect(a.g, b.g)) / len(list_distinct(list_concat(a.g, b.g))) >= 499.5
          |ORDER BY doc_a, doc_b""".stripMargin,
      // Sketch calibration: candidate pairs once (the OR-join emits each
      // pair exactly once, matching candidatePairs' DISTINCT), signature
      // coordinates re-attached from sigs, per-decile integer stats.
      "q155_minhash_calibration" ->
        s"""WITH $duckLshCtes,
           |cand AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)),
           |sc AS (
           |  SELECT c.doc_a, c.doc_b,
           |    (1000 * (${(0 until MinhashK).map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END").mkString(" + ")})) // $MinhashK AS est1000,
           |    CAST(round(1000.0 * len(list_intersect(x.sh, y.sh)) / len(list_distinct(list_concat(x.sh, y.sh)))) AS BIGINT) AS j1000
           |  FROM cand c JOIN sigs x ON c.doc_a = x.doc_id
           |              JOIN sigs y ON c.doc_b = y.doc_id)
           |SELECT j1000 // 100 AS decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(est1000) // COUNT(*) AS BIGINT) AS mean_est_e3,
           |  CAST(SUM(j1000) // COUNT(*) AS BIGINT) AS mean_exact_e3,
           |  CAST(SUM(abs(est1000 - j1000)) // COUNT(*) AS BIGINT) AS mae_e3
           |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
      // K-width ablation: 64-coordinate signatures (m0..m15 = the
      // production prefix, so `banded`/cand are bit-identical to q155),
      // three prefix estimators stacked long, per-decile stats, and the
      // j>=0.5 gate-region MAE pinned <= 100 for every K
      "q158_minhash_k_ablation" -> {
        val sig64 = (0 until 64).map { j =>
          val a = (j * 2654435761L + 1L) % P
          val b = (j * 40503L + 7L) % P
          s"list_min(list_transform(hs, x -> ($a * x + $b) % ${P})) AS m$j"
        }.mkString(",\n  ")
        def est(k: Int) = "(1000 * (" + (0 until k)
          .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
          .mkString(" + ") + s")) // $k"
        s"""WITH t AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
           |sh AS (
           |  SELECT doc_id, $duckShingles AS sh FROM t WHERE len(toks) >= 2),
           |hs AS (
           |  SELECT doc_id, sh, list_transform(sh, s -> ${duckHash48("s")} % ${P}) AS hs FROM sh WHERE len(sh) > 0),
           |sigs AS (
           |  SELECT doc_id, sh,
           |  $sig64
           |  FROM hs),
           |banded AS (
           |  SELECT doc_id, sh, $bandExprs FROM sigs),
           |cand AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)),
           |sc AS (
           |  SELECT ${est(16)} AS est16, ${est(32)} AS est32, ${est(64)} AS est64,
           |    CAST(round(1000.0 * len(list_intersect(x.sh, y.sh)) / len(list_distinct(list_concat(x.sh, y.sh)))) AS BIGINT) AS j1000
           |  FROM cand c JOIN sigs x ON c.doc_a = x.doc_id
           |              JOIN sigs y ON c.doc_b = y.doc_id),
           |lf AS (
           |  SELECT CAST(16 AS BIGINT) AS k_sig, est16 AS est, j1000 FROM sc
           |  UNION ALL SELECT CAST(32 AS BIGINT), est32, j1000 FROM sc
           |  UNION ALL SELECT CAST(64 AS BIGINT), est64, j1000 FROM sc),
           |curve AS (
           |  SELECT k_sig, j1000 // 100 AS decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |    CAST(SUM(est) // COUNT(*) AS BIGINT) AS mean_est_e3,
           |    CAST(SUM(j1000) // COUNT(*) AS BIGINT) AS mean_exact_e3,
           |    CAST(SUM(abs(est - j1000)) // COUNT(*) AS BIGINT) AS mae_e3
           |  FROM lf GROUP BY 1, 2),
           |gate AS (
           |  SELECT coalesce(MAX(gmae) <= 100, TRUE) AS floor_ok FROM (
           |    SELECT k_sig, CAST(SUM(abs(est - j1000)) // COUNT(*) AS BIGINT) AS gmae
           |    FROM lf WHERE j1000 >= 500 GROUP BY k_sig))
           |SELECT curve.*, gate.floor_ok FROM curve, gate
           |ORDER BY k_sig, decile""".stripMargin
      },
      "q22_minhash_lsh" ->
        s"""WITH $duckLshCtes
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(round(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS j1000
           |FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5
           |ORDER BY doc_a, doc_b""".stripMargin,

      // the agreement matrix: each family's removal verdict replayed by
      // its own audited fragment over the SHARED planted corpus (LSH
      // chain re-pointed, brute-force SimHash pairs, the q139 cell
      // rebuild, the q204 window-route span cut), then one contingency
      // row per pair through the shared κ tail
      "q230_dedup_agreement" -> {
        val pairs6 = Seq(("mh", "sh"), ("mh", "pa"), ("mh", "sx"),
          ("sh", "pa"), ("sh", "sx"), ("pa", "sx"))
        val sums = pairs6.map { case (x, y) =>
          s"""    CAST(COALESCE(SUM(CASE WHEN f_$x AND f_$y THEN 1 ELSE 0 END), 0) AS BIGINT) AS $x${y}11,
             |    CAST(COALESCE(SUM(CASE WHEN f_$x AND NOT f_$y THEN 1 ELSE 0 END), 0) AS BIGINT) AS $x${y}10,
             |    CAST(COALESCE(SUM(CASE WHEN NOT f_$x AND f_$y THEN 1 ELSE 0 END), 0) AS BIGINT) AS $x${y}01""".stripMargin
        }.mkString(",\n")
        val rows6 = pairs6.zipWithIndex.map { case ((x, y), i) =>
          val sel = s"SELECT '${x}_$y'${if (i == 0) " AS pair" else ""}, n, " +
            s"$x${y}11${if (i == 0) " AS n11" else ""}, " +
            s"$x${y}10${if (i == 0) " AS n10" else ""}, " +
            s"$x${y}01${if (i == 0) " AS n01" else ""} FROM a"
          if (i == 0) s"  $sel" else s"  UNION ALL $sel"
        }.mkString("\n")
        s"""WITH ${SuffixDedup.duckPlantCtes()},
           |${duckLshCtesOver("corpus")},
           |mhf AS (
           |  SELECT DISTINCT b.doc_id
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5),
           |s2t AS (
           |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM corpus),
           |s2h AS (
           |  SELECT doc_id, list_transform(toks, tk -> ${duckHash48("tk")}) AS th FROM s2t WHERE len(toks) > 0),
           |s2s AS (
           |  SELECT doc_id,
           |    CAST(list_sum(list_transform(range(0, 48), b ->
           |      CASE WHEN list_sum(list_transform(th, hv -> CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
           |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
           |  FROM s2h),
           |shf AS (
           |  SELECT DISTINCT b.doc_id FROM s2s a JOIN s2s b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           |p2e AS (
           |  SELECT doc_id, unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pidx, toks
           |  FROM t WHERE len(toks) > 0),
           |p2p AS (
           |  SELECT doc_id * 65536 + pidx AS packed,
           |    array_to_string(toks[pidx*8+1 : pidx*8+8], ' ') AS ptext
           |  FROM p2e),
           |p2k AS (SELECT ptext, MIN(packed) AS packed FROM p2p GROUP BY ptext),
           |p2c AS (
           |  SELECT doc_id, CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_cells
           |  FROM t WHERE len(toks) > 0),
           |p2n AS (
           |  SELECT packed // 65536 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
           |  FROM p2k GROUP BY 1),
           |paf AS (
           |  SELECT p2c.doc_id FROM p2c LEFT JOIN p2n ON p2n.doc_id = p2c.doc_id
           |  WHERE COALESCE(p2n.n_kept, 0) < p2c.n_cells),
           |${SuffixDedup.duckSpanCut("corpus", "dx", SuffixDedup.DefaultMinSpan)},
           |sxf AS (SELECT doc_id FROM dxres WHERE n_tokens > n_kept),
           |flags AS (
           |  SELECT c.doc_id,
           |    mhf.doc_id IS NOT NULL AS f_mh,
           |    shf.doc_id IS NOT NULL AS f_sh,
           |    paf.doc_id IS NOT NULL AS f_pa,
           |    sxf.doc_id IS NOT NULL AS f_sx
           |  FROM corpus c
           |  LEFT JOIN mhf ON mhf.doc_id = c.doc_id
           |  LEFT JOIN shf ON shf.doc_id = c.doc_id
           |  LEFT JOIN paf ON paf.doc_id = c.doc_id
           |  LEFT JOIN sxf ON sxf.doc_id = c.doc_id),
           |a AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |$sums
           |  FROM flags),
           |rows6 AS (
           |$rows6),
           |${Curation.duckKappaTail("pair", "rows6")}""".stripMargin
      },
      // connected components over the same pair graph: hash-min label
      // propagation as a recursive CTE — `walk` enumerates every id
      // reachable from a doc over symmetric edges; MIN over it is the
      // component representative
      "q53_dedup_clusters" ->
        s"""WITH RECURSIVE $duckLshCtes,
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5),
           |edges AS (
           |  SELECT doc_a, doc_b FROM pairs
           |  UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
           |walk AS (
           |  SELECT doc_a AS doc_id, doc_a AS label FROM edges
           |  UNION
           |  SELECT e.doc_a AS doc_id, w.label FROM edges e JOIN walk w ON w.doc_id = e.doc_b)
           |SELECT doc_id, MIN(label) AS cluster, (doc_id = MIN(label)) AS keep
           |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // SoftDeDup reweighting: q53's cluster labels, sized, left-joined
      // back onto the corpus — singletons coalesce to commonness 1
      "q175_soft_dedup" ->
        s"""WITH RECURSIVE $duckSoftWeightCtes
           |SELECT doc_id, cluster, commonness, w_e6
           |FROM dw ORDER BY doc_id""".stripMargin,
      // keep-longest representative: q53's label chain, ranked by the
      // stored n_chars (DESC, doc_id ASC) inside each cluster
      "q193_keep_longest" ->
        s"""WITH RECURSIVE $duckSoftWeightCtes
           |SELECT l.doc_id, CAST(l.cluster AS BIGINT) AS cluster, d.n_chars,
           |  (ROW_NUMBER() OVER (PARTITION BY l.cluster
           |    ORDER BY d.n_chars DESC, l.doc_id) = 1) AS kept
           |FROM lab l JOIN documents d USING (doc_id)
           |ORDER BY l.doc_id""".stripMargin,
      // the q175 weights consumed: per-source EFFECTIVE token mass
      // (Σ tokens × w_e6) through q160's temperature chain verbatim
      "q186_soft_temperature_mix" ->
        s"""WITH RECURSIVE $duckSoftWeightCtes,
           |per_source AS (
           |  SELECT d.source,
           |    CAST(SUM(CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) * dw.w_e6) AS BIGINT) AS wtok_e6
           |  FROM documents d JOIN dw USING (doc_id) GROUP BY 1),
           |p AS (
           |  SELECT source, wtok_e6,
           |    CAST(round(1e9 * pow(CAST(wtok_e6 AS DOUBLE), 0.3)) AS BIGINT) AS p_e9
           |  FROM per_source),
           |q AS (
           |  SELECT *, CAST(SUM(p_e9) OVER () AS BIGINT) AS tot FROM p),
           |a AS (
           |  SELECT source, wtok_e6, p_e9,
           |    (1000000 * p_e9) // tot AS w_e6,
           |    (10000 * p_e9) // tot AS quota,
           |    (10000 * p_e9) % tot AS rem
           |  FROM q),
           |r AS (
           |  SELECT *,
           |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
           |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
           |  FROM a)
           |SELECT source, wtok_e6, p_e9, w_e6,
           |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
           |FROM r ORDER BY source""".stripMargin,
      // the q22 LSH pipeline over the PLANTED corpus (training docs +
      // first-token-perturbed eval copies + the eval set), restricted to
      // cross (train × eval) pairs, grouped per training doc
      "q125_fuzzy_decontam" ->
        s"""WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
           |corpus AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3
           |  UNION ALL
           |  SELECT doc_id + (SELECT o FROM off) AS doc_id,
           |    regexp_replace(text, '^\\S+', 'zzz') AS text
           |  FROM documents WHERE doc_id % 97 = 3
           |  UNION ALL
           |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
           |t AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM corpus),
           |sh AS (
           |  SELECT doc_id, $duckShingles AS sh FROM t WHERE len(toks) >= 2),
           |hs AS (
           |  SELECT doc_id, sh, list_transform(sh, s -> ${duckHash48("s")} % ${P}) AS hs FROM sh WHERE len(sh) > 0),
           |sigs AS (
           |  SELECT doc_id, sh,
           |  $sigExprs
           |  FROM hs),
           |banded AS (
           |  SELECT doc_id, sh, $bandExprs FROM sigs),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(round(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS j1000
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5
           |    AND ((a.doc_id % 97 = 3 AND a.doc_id < (SELECT o FROM off)) <> (b.doc_id % 97 = 3 AND b.doc_id < (SELECT o FROM off))))
           |SELECT CASE WHEN doc_a % 97 = 3 AND doc_a < (SELECT o FROM off) THEN doc_b ELSE doc_a END AS doc_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_matches, MAX(j1000) AS best_j
           |FROM pairs GROUP BY 1 ORDER BY doc_id""".stripMargin,
      // three screens, one planted corpus: hash semi-join, the q62
      // 6-gram chain, the q125 banded chain — tabulated per plant band
      "q203_decontam_report" ->
        s"""WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
           |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
           |train AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3
           |  UNION ALL
           |  SELECT doc_id + (SELECT o FROM off), text FROM ev
           |  UNION ALL
           |  SELECT doc_id + 2 * (SELECT o FROM off),
           |    regexp_replace(text, '^\\S+', 'zzz') FROM ev),
           |byhash AS (
           |  SELECT DISTINCT t.doc_id FROM train t
           |  JOIN (SELECT DISTINCT md5(text) AS fp FROM ev) e ON md5(t.text) = e.fp),
           |tsh AS (
           |  SELECT doc_id,
           |    list_transform(range(1, greatest(1, len(toks) - 4)),
           |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
           |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM train)),
           |esh AS (
           |  SELECT DISTINCT unnest(sh) AS shingle FROM (
           |    SELECT list_transform(range(1, greatest(1, len(toks) - 4)),
           |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
           |    FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM ev))),
           |byngram AS (
           |  SELECT DISTINCT t.doc_id
           |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM tsh) t
           |  JOIN esh e ON t.shingle = e.shingle),
           |fcorpus AS (SELECT doc_id, text FROM train UNION ALL SELECT doc_id, text FROM ev),
           |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM fcorpus),
           |sh AS (
           |  SELECT doc_id, $duckShingles AS sh FROM t WHERE len(toks) >= 2),
           |hs AS (
           |  SELECT doc_id, sh, list_transform(sh, s -> ${duckHash48("s")} % ${P}) AS hs FROM sh WHERE len(sh) > 0),
           |sigs AS (
           |  SELECT doc_id, sh,
           |  $sigExprs
           |  FROM hs),
           |banded AS (
           |  SELECT doc_id, sh, $bandExprs FROM sigs),
           |byfuzzy AS (
           |  SELECT DISTINCT CASE WHEN a.doc_id % 97 = 3 AND a.doc_id < (SELECT o FROM off)
           |    THEN b.doc_id ELSE a.doc_id END AS doc_id
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5
           |    AND ((a.doc_id % 97 = 3 AND a.doc_id < (SELECT o FROM off)) <>
           |         (b.doc_id % 97 = 3 AND b.doc_id < (SELECT o FROM off)))),
           |flags AS (
           |  SELECT doc_id, '1_exact_hash' AS method FROM byhash
           |  UNION ALL SELECT doc_id, '2_ngram6' FROM byngram
           |  UNION ALL SELECT doc_id, '3_fuzzy_lsh' FROM byfuzzy),
           |bands AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id >= 2 * (SELECT o FROM off) THEN 'planted_fuzzy'
           |         WHEN doc_id >= (SELECT o FROM off) THEN 'planted_exact'
           |         ELSE 'clean' END AS band
           |  FROM train)
           |SELECT f.method, b.band, CAST(COUNT(*) AS BIGINT) AS n_flagged
           |FROM flags f JOIN bands b USING (doc_id)
           |GROUP BY 1, 2 ORDER BY method, band""".stripMargin,
      // q53's labels left-joined onto ALL documents (singletons = own
      // cluster), split by the q12 Knuth hash on the cluster rep
      "q123_cluster_split" ->
        s"""WITH RECURSIVE $duckLshCtes,
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5),
           |edges AS (
           |  SELECT doc_a, doc_b FROM pairs
           |  UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
           |walk AS (
           |  SELECT doc_a AS doc_id, doc_a AS label FROM edges
           |  UNION
           |  SELECT e.doc_a AS doc_id, w.label FROM edges e JOIN walk w ON w.doc_id = e.doc_b),
           |labels AS (SELECT doc_id, MIN(label) AS cluster FROM walk GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster,
           |  CASE WHEN ((COALESCE(l.cluster, d.doc_id) % 1000000007) * 2654435761 + 40503) % 10000 < 6400 THEN 'train'
           |       WHEN ((COALESCE(l.cluster, d.doc_id) % 1000000007) * 2654435761 + 40503) % 10000 < 8000 THEN 'validation'
           |       ELSE 'test' END AS split
           |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      // passage-grain keep-first + rebuild; list slices are 1-based
      // inclusive in DuckDB, mirroring Spark's slice(arr, start, len)
      // per-source impact rollup over the q20 + q139 semantics
      "q162_dedup_impact" ->
        """WITH t AS (
          |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks,
          |    md5(text) AS fp
          |  FROM documents),
          |w AS (SELECT fp, MIN(doc_id) AS keep_id FROM t GROUP BY fp),
          |e AS (
          |  SELECT doc_id, unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pidx, toks
          |  FROM t WHERE len(toks) > 0),
          |p AS (
          |  SELECT doc_id * 65536 + pidx AS packed,
          |    array_to_string(toks[pidx*8+1 : pidx*8+8], ' ') AS ptext
          |  FROM e),
          |k AS (SELECT ptext, MIN(packed) AS packed FROM p GROUP BY ptext),
          |pk AS (
          |  SELECT packed // 65536 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
          |  FROM k GROUP BY 1),
          |d AS (
          |  SELECT t.source,
          |    CASE WHEN t.doc_id <> w.keep_id THEN 1 ELSE 0 END AS is_dup,
          |    CASE WHEN len(t.toks) > 0 THEN CAST(ceil(len(t.toks) / 8.0) AS BIGINT) ELSE 0 END AS np,
          |    coalesce(pk.n_kept, 0) AS nk
          |  FROM t JOIN w USING (fp) LEFT JOIN pk ON pk.doc_id = t.doc_id)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
          |  CAST(SUM(np) AS BIGINT) AS n_passages,
          |  CAST(SUM(nk) AS BIGINT) AS n_passages_kept,
          |  (10000 * CAST(SUM(is_dup) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS dup_doc_frac_e4,
          |  (10000 * (CAST(SUM(np) AS BIGINT) - CAST(SUM(nk) AS BIGINT))) // greatest(CAST(SUM(np) AS BIGINT), 1) AS passage_removed_frac_e4
          |FROM d GROUP BY source ORDER BY source""".stripMargin,

      "q139_passage_dedup" ->
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |e AS (
          |  SELECT doc_id, unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pidx, toks
          |  FROM t WHERE len(toks) > 0),
          |p AS (
          |  SELECT doc_id * 65536 + pidx AS packed,
          |    array_to_string(toks[pidx*8+1 : pidx*8+8], ' ') AS ptext
          |  FROM e),
          |k AS (SELECT ptext, MIN(packed) AS packed FROM p GROUP BY ptext),
          |r AS (SELECT packed // 65536 AS doc_id, packed % 65536 AS pidx, ptext FROM k)
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          |  array_to_string(list(ptext ORDER BY pidx), ' ') AS text_kept
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // ExactSubstr: overlapping k-token windows, keep-first by packed
      // order, per-doc interval merge, rebuild minus merged spans —
      // one generator serves the short-span (q152) and realistic-span
      // (q164) gates with only k interpolated.
      "q152_substring_dedup" -> duckExactSubstrSql(8),
      "q164_substring_dedup_long" -> duckExactSubstrSql(32),
      "q38_canonical_dedup" ->
        """SELECT doc_id, cfp FROM (
          |  SELECT doc_id,
          |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS cfp,
          |    ROW_NUMBER() OVER (PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "q51_exact_dedup_merge" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
          |  UNION ALL
          |  SELECT doc_id - 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 10)
          |SELECT doc_id, fp FROM (
          |  SELECT doc_id, md5(text) AS fp,
          |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |  FROM corpus) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "q52_canonical_dedup_merge" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, upper(text) || '!!' AS text
          |  FROM documents WHERE doc_id % 20 = 5)
          |SELECT doc_id, cfp FROM (
          |  SELECT doc_id,
          |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS cfp,
          |    ROW_NUMBER() OVER (PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) ORDER BY doc_id) AS rn
          |  FROM corpus) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      "q23_simhash" ->
        s"""WITH t AS (
           |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM documents),
           |h AS (
           |  SELECT doc_id, list_transform(toks, tk -> ${duckHash48("tk")}) AS th FROM t WHERE len(toks) > 0)
           |SELECT doc_id,
           |  CAST(list_sum(list_transform(range(0, 48), b ->
           |    CASE WHEN list_sum(list_transform(th, hv -> CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
           |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
           |FROM h ORDER BY doc_id""".stripMargin,

      // batch-restricted full-corpus recompute — the equality the
      // incremental plan must reproduce without rescanning the 90%
      "q115_incremental_dedup" ->
        s"""WITH $duckLshCtes,
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(round(1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS j1000,
           |    ((a.doc_id % 10 = 7) != (b.doc_id % 10 = 7)) AS is_cross
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5
           |    AND ((a.doc_id % 10 = 7) OR (b.doc_id % 10 = 7)))
           |SELECT doc_a, doc_b, j1000, is_cross FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
      "q116_incremental_keep" ->
        s"""WITH $duckLshCtes,
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ($bandMatch)
           |  WHERE 1000.0 * len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 499.5
           |    AND ((a.doc_id % 10 = 7) OR (b.doc_id % 10 = 7))),
           |drops AS (
           |  SELECT DISTINCT CASE WHEN (doc_a % 10 = 7) AND (doc_b % 10 = 7) THEN doc_b
           |                       WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS doc_id
           |  FROM pairs)
           |SELECT d.doc_id, (dr.doc_id IS NULL) AS keep
           |FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
           |WHERE d.doc_id % 10 = 7
           |ORDER BY d.doc_id""".stripMargin,

      "q69_simhash_pairs" ->
        s"""WITH t AS (
           |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM documents),
           |h AS (
           |  SELECT doc_id, list_transform(toks, tk -> ${duckHash48("tk")}) AS th FROM t WHERE len(toks) > 0),
           |s AS (
           |  SELECT doc_id,
           |    CAST(list_sum(list_transform(range(0, 48), b ->
           |      CASE WHEN list_sum(list_transform(th, hv -> CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
           |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
           |  FROM h)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM s a JOIN s b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
    )
  }
}
