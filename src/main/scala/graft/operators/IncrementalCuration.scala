package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable.sparkToks

/** q227 — the composed v5 curation chain run INCREMENTALLY over an
  * append-only corpus: batch 1 is curated once and its stage state
  * persisted to parquet (the q115/q116 persisted-index discipline,
  * applied to every stateful stage of the chain), then a delta batch
  * is folded in WITHOUT recomputing batch 1 — cross-batch exact
  * duplicates, cross-batch passage/span duplicates, cross-batch
  * semantic mates and cross-batch eval contamination all caught, and
  * the final per-shard packing summary ROW-IDENTICAL to the batch v5
  * run over the union (the oracle is the q221 template verbatim, plus
  * one delta-attribution column). This is the operator a production
  * 100 TB corpus runs daily: the corpus grows by a crawl increment,
  * and the curation bill must be delta-sized, not corpus-sized.
  *
  * WHY batch-over-union is incrementally computable at all — the
  * chain's stages split into three classes under an append of
  * strictly-LARGER doc_ids (the append-only contract):
  *
  *  - MONOTONE-FROZEN (batch-1 verdicts cannot change): exact
  *    keep-first dedup (min doc_id per fingerprint — a larger id never
  *    beats an existing one), passage dedup (min packed id per cell,
  *    packed = doc_id·2^16 + pidx, so every delta passage is larger
  *    than every batch-1 one), the semantic drop (keep unless a
  *    SMALLER-id cluster-mate exists — delta ids are larger), and the
  *    per-doc gates (quality, Gopher) wherever their input text is
  *    frozen. Delta verdicts need only an INDEX of batch 1: the
  *    fingerprint set, the passage-cell set, the persisted ANN
  *    assignments.
  *
  *  - RETROACTIVE (a delta row can flip a batch-1 verdict): the
  *    suffix span cut (a batch-1 span becomes duplicated when the
  *    delta re-introduces it — ALL occurrences are cut, including the
  *    batch-1 one) and the eval-shingle scrub (the eval carve grows
  *    with the delta's eval slice, newly scrubbing batch-1 train
  *    docs; and a re-cut batch-1 eval doc can RETIRE shingles,
  *    un-scrubbing them). These are handled by persisted inverted
  *    indexes that localize the blast radius: the window-hash index
  *    (hash → occurrence count, plus the sole location when the count
  *    is 1) names exactly which batch-1 docs a delta span collides
  *    with; the train-shingle posting names exactly which batch-1
  *    docs an eval-set delta touches. Only those docs re-run the
  *    per-doc tail — work proportional to the COLLISION volume, not
  *    the corpus.
  *
  *  - RANK-LOCAL (a delta row can evict a batch-1 row, but only
  *    within its own group): the per-source cap. Only sources touched
  *    by the delta (or by a retroactively-changed batch-1 doc)
  *    re-rank, over the persisted narrow (doc_id, source, n_chars)
  *    survivor frame; untouched sources keep their batch-1 top-15
  *    verbatim.
  *
  * The packing summary needs no window at all: the q56 cumsum packer
  * assigns contiguous token ranges per shard in doc_id order, so the
  * per-shard summary is CLOSED-FORM in the survivor token totals —
  * n_seqs = (Σ n_toks − 1) div budget + 1, n_docs/n_tokens plain
  * aggregates — one map-side-combined groupBy over the narrow kept
  * frame (the twin counts DISTINCT seq_id over the materialized
  * segments; equality is the contiguity argument above).
  *
  * The suffix stage runs the WINDOW-HASH route (a ≥50-token duplicated
  * span ⟺ some duplicated 50-token window covers each of its
  * positions), which q204's standing gate proves span-set-identical
  * to the suffix-array route the batch pipeline executes — the q227
  * hash match therefore re-checks that equivalence THROUGH the
  * incremental fold, against the same window-route twin q221 matches
  * from the SA side.
  *
  * Scale shape of the incremental step (the whole point): every
  * state file is an index scanned ONCE and joined on its key (hash /
  * shingle / fingerprint / source) against delta-derived frames; the
  * batch-1 TEXT is read only for the collision-affected docs (a
  * narrow semi-join drives the read); the recompute set's per-doc
  * tail is the audited v5 per-doc chain; nothing re-shuffles the
  * batch-1 corpus. Eval-set deltas ride the bounded-broadcast
  * contract ([[Curation.boundedBroadcast]]) like every decontam gate.
  */
object IncrementalCuration {

  private val Gram = 6
  private val MinSpan = SuffixDedup.DefaultMinSpan

  /** (doc_id, pos, h): the md5 of every `k`-token window — the
    * window-route span test's probe frame (the duckSpanCut spelling,
    * one helper for state build and delta fold so the two cannot
    * fork). */
  private def windowHashes(docs: DataFrame, k: Int): DataFrame =
    docs.selectExpr("doc_id", s"$sparkToks AS toks")
      .where(s"size(toks) >= $k")
      .selectExpr("doc_id", s"explode(sequence(1, size(toks) - ${k - 1})) AS pos", "toks")
      .selectExpr("doc_id", "pos",
        s"md5(concat_ws(' ', slice(toks, cast(pos as int), $k))) AS h")

  /** (doc_id, shingle) DISTINCT per doc — the posting row both
    * inverted shingle indexes (eval counts, train postings) are built
    * from; per-doc distinctness is what makes retract/insert count
    * maintenance exact. */
  private def docShingles(docs: DataFrame, gram: Int): DataFrame =
    docs.selectExpr("doc_id", s"$sparkToks AS toks")
      .where(s"size(toks) >= $gram")
      .selectExpr("doc_id", s"explode(sequence(1, size(toks) - ${gram - 1})) AS i", "toks")
      .selectExpr("doc_id", s"concat_ws(' ', slice(toks, cast(i as int), $gram)) AS shingle")
      .distinct()

  /** Span cut + rebuild over a (doc_id, text, source) frame given a
    * (doc_id, s, e) span set — the shared q152/q204/q216 cut core,
    * re-deriving n_chars from the kept text (the v4/v5 convention). */
  private def cutText(rw: DataFrame, spans: DataFrame): DataFrame =
    Dedup.cutSpansKept(rw.selectExpr("doc_id", s"$sparkToks AS toks"), spans)
      .selectExpr("doc_id", "array_join(kept, ' ') AS text")
      .join(rw.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text", "source",
        "cast(length(text) as bigint) AS n_chars")

  /** Per-doc packing token counts: the trained-tokenizer kernel when a
    * model ships (the q157/q188 convention), whitespace counts for
    * model-free spec corpora. */
  private def tokenCounts(docs: DataFrame,
      model: Option[graft.plans.TokenizerModel]): DataFrame = model match {
    case Some(m) =>
      Bpe.encodeCounts(docs.select("doc_id", "text"), m, "n_toks")
        .select("doc_id", "n_toks")
    case None =>
      docs.selectExpr("doc_id",
          s"cast(size($sparkToks) as bigint) AS n_toks")
        .where("n_toks > 0")
  }

  /** The scrub + quality re-gate + Gopher gates over a recompute frame
    * (doc_id, text, source) against an eval shingle set — the v5
    * per-doc tail ([[CurationPipeline.curateV5]]'s stages 6–7), shared
    * by the batch-1 state build and the delta fold. Returns the clean
    * survivor rows (doc_id, source, n_chars, n_toks). */
  private def scrubGateClean(train: DataFrame, evalSh: DataFrame,
      model: Option[graft.plans.TokenizerModel]): DataFrame = {
    val rebuilt = Curation
      .decontamScrubText(train.select("doc_id", "text"), evalSh)
      .join(train.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source",
        "cast(length(text_kept) as bigint) AS n_chars")
    val regated = CurationPipeline.qualityGate(rebuilt)
    val clean = regated
      .join(TextAnalysis.dupLines(regated.select("doc_id", "text"))
        .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
      .join(TextAnalysis.gopherNgrams(regated.select("doc_id", "text"))
        .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
    clean.select("doc_id", "source", "n_chars")
      .join(tokenCounts(clean, model), "doc_id")
      .select("doc_id", "source", "n_chars", "n_toks")
  }

  /** Phase A — curate `batch1` (doc_id, text, source) through the v5
    * chain and persist every index the delta fold needs under `path`:
    *
    *  - `fp`       content fingerprints (exact-dedup index)
    *  - `pfp`      passage-cell fingerprints (passage-dedup index)
    *  - `rw`       the passage-rebuilt corpus (re-cut source of truth)
    *  - `win`      window-hash occurrence index (h, cnt, sole doc/pos)
    *  - `sxspans`  batch-1 duplicated-window spans (doc_id, s, e)
    *  - `quality`  post-suffix post-semantic quality survivors
    *  - `evalcnt`  eval-shingle doc counts (shingle, cnt)
    *  - `trainpost` train-doc shingle posting (shingle, doc_id)
    *  - `clean`    final clean survivors (doc_id, source, n_chars, n_toks)
    *  - `kept`     post-cap survivors (same columns)
    *
    * `semDrop` is the persisted ANN verdict (vec_id-keyed, text-free —
    * the one stage whose index the repo already ships, q159's). */
  private[graft] def buildState(batch1: DataFrame, semDrop: DataFrame,
      model: Option[graft.plans.TokenizerModel], path: String): Unit = {
    val s = batch1.sparkSession
    def save(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$path/$name")
      s.read.parquet(s"$path/$name")
    }
    save(batch1.selectExpr("md5(text) AS fp").distinct(), "fp")
    val d1 = Relational.keepFirst(
      batch1.select("doc_id", "text", "source")
        .withColumn("fp", md5(col("text"))),
      Seq("fp"), Seq(col("doc_id"))).drop("fp")
    val pt = Dedup.passageTable(d1.select("doc_id", "text"))
    save(pt.selectExpr("md5(ptext) AS pfp").distinct(), "pfp")
    val rw = save(Dedup.rebuildFromPassages(
        pt.groupBy("ptext").agg(min("packed").as("packed")))
      .join(d1.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source"), "rw")
    val win = save(windowHashes(rw.select("doc_id", "text"), MinSpan)
      .groupBy("h").agg(count(lit(1)).as("cnt"),
        min("doc_id").as("sdoc"), min("pos").as("spos")), "win")
    val spans = save(
      windowHashes(rw.select("doc_id", "text"), MinSpan)
        .join(win.where("cnt >= 2").select("h"), Seq("h"), "left_semi")
        .selectExpr("doc_id", "pos AS s", s"pos + $MinSpan AS e"), "sxspans")
    val sx = cutText(rw, spans)
    val quality = save(CurationPipeline.qualityGate(
      sx.join(semDrop.select("doc_id"), Seq("doc_id"), "left_anti")), "quality")
    val evalQ = quality.where("doc_id % 97 = 3")
    val trainQ = quality.where("doc_id % 97 != 3")
    val evalcnt = save(docShingles(evalQ.select("doc_id", "text"), Gram)
      .groupBy("shingle").agg(count(lit(1)).as("cnt")), "evalcnt")
    save(docShingles(trainQ.select("doc_id", "text"), Gram), "trainpost")
    val clean = save(scrubGateClean(
      trainQ.select("doc_id", "text", "source"),
      evalcnt.select("shingle"), model), "clean")
    save(clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi"), "kept")
    ()
  }

  /** The shared output surface: the q56/q157 per-shard packing summary
    * in closed form (the cumsum packer's seq ids are contiguous per
    * shard, so n_seqs = (Σ n_toks − 1) div budget + 1 — a pure
    * map-side-combined aggregate over the narrow kept frame, no
    * window), plus the delta-attribution count. */
  private def summarize(kept: DataFrame, split: Long): DataFrame =
    kept.where("n_toks > 0")
      .selectExpr("doc_id", s"doc_id % ${Packing.DefaultShards} AS shard",
        "n_toks")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        expr(s"(sum(n_toks) - 1) div ${Packing.DefaultBudget} + 1").as("n_seqs"),
        sum(expr(s"IF(doc_id >= ${split}L, 1L, 0L)")).as("n_docs_delta"))
      .orderBy("shard")

  /** Phase B — fold `delta` (doc_id, text, source; every id ≥ `split`,
    * the append-only contract) against the state at `path` and emit
    * the UNION per-shard packing summary. The plan reads state files +
    * the delta; batch-1 text is touched only for collision-affected
    * docs (driven by narrow semi-joins on the inverted indexes). */
  private[graft] def incrementalCurate(s: SparkSession, delta: DataFrame,
      split: Long, semDrop: DataFrame,
      model: Option[graft.plans.TokenizerModel], path: String): DataFrame =
    summarize(incrementalKept(s, delta, semDrop, model, path), split)

  /** The union post-cap survivor frame (doc_id, source, n_chars,
    * n_toks), computed incrementally — [[incrementalCurate]]'s body,
    * exposed at doc granularity so the spec can assert each planted
    * cross-batch interaction doc by doc. */
  private[graft] def incrementalKept(s: SparkSession, delta: DataFrame,
      semDrop: DataFrame,
      model: Option[graft.plans.TokenizerModel], path: String): DataFrame = {
    def st(name: String) = s.read.parquet(s"$path/$name")

    // 1. exact dedup: keep-first WITHIN the delta, then drop anything
    // batch 1 has seen (batch 1 always wins a cross pair: smaller id)
    val d1n = Relational.keepFirst(
        delta.select("doc_id", "text", "source")
          .withColumn("fp", md5(col("text"))),
        Seq("fp"), Seq(col("doc_id")))
      .join(st("fp"), Seq("fp"), "left_anti").drop("fp")

    // 2. passage dedup: a delta cell loses to the batch-1 cell index
    // (every batch-1 packed id is smaller), then keep-first within the
    // delta; docs whose every cell loses leave the chain (q139's
    // rebuild convention)
    val pt2 = Dedup.passageTable(d1n.select("doc_id", "text"))
      .withColumn("pfp", md5(col("ptext")))
    val rw2 = Dedup.rebuildFromPassages(
        pt2.join(st("pfp"), Seq("pfp"), "left_anti")
          .groupBy("ptext").agg(min("packed").as("packed")))
      .join(d1n.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source")
      .localCheckpoint()

    // 3. suffix span cut, window route: per delta window hash, the
    // union occurrence count is (batch-1 cnt) + (delta cnt)
    val w2 = windowHashes(rw2.select("doc_id", "text"), MinSpan)
      .localCheckpoint()
    val hj = w2.groupBy("h").agg(count(lit(1)).as("c2"))
      .join(st("win"), Seq("h"), "left")
      .selectExpr("h", "c2", "coalesce(cnt, 0L) AS c1", "sdoc", "spos")
      .localCheckpoint()
    // delta positions cut iff the union count of their window is ≥ 2
    val sx2 = cutText(rw2,
      w2.join(hj.where("c2 >= 2 OR c1 >= 1").select("h"), Seq("h"), "left_semi")
        .selectExpr("doc_id", "pos AS s", s"pos + $MinSpan AS e"))
    // RETROACTIVE: a batch-1 window that was UNIQUE (c1 = 1) and now
    // collides gains a span at its recorded sole location — only those
    // docs re-cut, from the persisted rw text, old spans ∪ new
    val newSpans1 = hj.where("c1 = 1")
      .selectExpr("sdoc AS doc_id", "spos AS s", s"spos + $MinSpan AS e")
    val affIds = newSpans1.select("doc_id").distinct().localCheckpoint()
    val sxAff = cutText(
      st("rw").join(affIds, Seq("doc_id"), "left_semi"),
      st("sxspans").join(affIds, Seq("doc_id"), "left_semi")
        .unionByName(newSpans1))

    // 4/5. semantic drop (the persisted id verdict — frozen per id)
    // and the quality gate over the re-derived text
    val q2new = CurationPipeline.qualityGate(
      sx2.join(semDrop.select("doc_id"), Seq("doc_id"), "left_anti"))
      .localCheckpoint()
    val qAff = CurationPipeline.qualityGate(
      sxAff.join(semDrop.select("doc_id"), Seq("doc_id"), "left_anti"))
      .localCheckpoint()
    val quality1 = st("quality")

    // 6. eval-shingle maintenance: retract the affected batch-1 eval
    // docs' OLD postings, insert the affected + delta eval docs' NEW
    // ones — shingle presence is a doc count, so removal is exact
    val evalRet = quality1.where("doc_id % 97 = 3")
      .join(affIds, Seq("doc_id"), "left_semi")
    val evalIns = qAff.where("doc_id % 97 = 3")
      .unionByName(q2new.where("doc_id % 97 = 3"))
    val dCnt = docShingles(evalIns.select("doc_id", "text"), Gram)
      .groupBy("shingle").agg(count(lit(1)).as("d"))
      .unionByName(docShingles(evalRet.select("doc_id", "text"), Gram)
        .groupBy("shingle").agg((-count(lit(1))).as("d")))
      .groupBy("shingle").agg(sum("d").as("d"))
    val cnts = st("evalcnt").join(dCnt, Seq("shingle"), "full_outer")
      .selectExpr("shingle", "coalesce(cnt, 0L) AS oldc",
        "coalesce(cnt, 0L) + coalesce(d, 0L) AS newc")
      .localCheckpoint()
    val evalShU = cnts.where("newc > 0").select("shingle")
    // the eval-set DELTA (shingles that appeared or vanished) names
    // which frozen-text batch-1 train docs must rescrub, via the
    // persisted train posting — bounded like every eval-side frame
    val churn = Curation.boundedBroadcast("incrementalCurate",
      cnts.where("(oldc = 0 AND newc > 0) OR (oldc > 0 AND newc = 0)")
        .select("shingle"))
    val detect = st("trainpost").join(churn, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
      .join(affIds, Seq("doc_id"), "left_anti").localCheckpoint()

    // 7. scrub + re-gate + Gopher over the recompute set only: delta
    // train docs, re-cut batch-1 docs, and eval-churn-detected docs
    // (their text is frozen — read from the persisted quality frame)
    val rescrub = quality1.where("doc_id % 97 != 3")
      .join(detect, Seq("doc_id"), "left_semi")
      .select("doc_id", "text", "source")
      .unionByName(qAff.where("doc_id % 97 != 3")
        .select("doc_id", "text", "source"))
      .unionByName(q2new.where("doc_id % 97 != 3")
        .select("doc_id", "text", "source"))
    val cleanR = scrubGateClean(rescrub, evalShU, model).localCheckpoint()

    // assemble the union clean set: carry batch-1 survivors whose
    // verdicts are untouched, swap in the recomputed rows
    val changed = affIds.unionByName(detect).distinct()
    val cleanU = st("clean").join(changed, Seq("doc_id"), "left_anti")
      .unionByName(cleanR)

    // 8. per-source cap — RANK-LOCAL: only sources the delta (or a
    // changed batch-1 doc) touches re-rank; the rest keep their
    // batch-1 top-15 verbatim
    val touched = cleanR.select("source")
      .unionByName(st("clean").join(changed, Seq("doc_id"), "left_semi")
        .select("source"))
      .distinct().localCheckpoint()
    val capTouched = cleanU.join(broadcast(touched), Seq("source"), "left_semi")
    st("kept")
      .join(broadcast(touched), Seq("source"), "left_anti")
      .unionByName(capTouched.join(
        Curation.sourceCap(capTouched).select("doc_id"),
        Seq("doc_id"), "left_semi"))
  }

  /** The BATCH reference for the spec: the identical chain composed
    * un-incrementally over a full corpus — exact dedup → passage
    * dedup → suffix span cut (the SUFFIX-ARRAY route, so the spec's
    * incremental ≡ batch equality re-proves the window↔SA equivalence
    * on its planted corpora too) → semantic drop → quality → scrub →
    * re-gate → Gopher → cap → the same closed-form summary. */
  private[graft] def batchReference(corpus: DataFrame, split: Long,
      semDrop: DataFrame,
      model: Option[graft.plans.TokenizerModel]): DataFrame =
    summarize(batchKept(corpus, semDrop, model), split)

  /** The batch chain's post-cap survivor frame — [[batchReference]]'s
    * body at doc granularity (the spec's ground truth). */
  private[graft] def batchKept(corpus: DataFrame, semDrop: DataFrame,
      model: Option[graft.plans.TokenizerModel]): DataFrame = {
    val d1 = Relational.keepFirst(
      corpus.select("doc_id", "text", "source")
        .withColumn("fp", md5(col("text"))),
      Seq("fp"), Seq(col("doc_id"))).drop("fp")
    val rw = Dedup.passageDedup(d1.select("doc_id", "text"))
      .join(d1.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source")
    val sx = SuffixDedup.suffixCutText(rw.select("doc_id", "text"),
        earlyExit = false)
      .join(rw.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source",
        "cast(length(text_kept) as bigint) AS n_chars")
    val quality = CurationPipeline.qualityGate(
      sx.join(semDrop.select("doc_id"), Seq("doc_id"), "left_anti"))
    val evalSh = Curation.evalShingleSet(
      quality.where("doc_id % 97 = 3").select("doc_id", "text"))
    val clean = scrubGateClean(
      quality.where("doc_id % 97 != 3").select("doc_id", "text", "source"),
      evalSh, model)
    clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** The composed v5 chain as a 9-row FUNNEL over an arbitrary corpus —
    * [[batchKept]]'s stages with per-stage (n_docs, n_tokens) attrition
    * rows (stage names/indices mirror
    * [[CurationPipeline.curationFunnelV5]] exactly), built for the
    * 512 MB ScaleCheck: every stage frame is DISK-checkpointed (the
    * SuffixDedup round-state discipline — nine aggregates re-reading
    * serialized narrow rows instead of re-running the chain per row),
    * and the suffix stage's shuffle width is caller-sized
    * (`saParts`). */
  private[graft] def batchFunnel(corpus: DataFrame, semDrop: DataFrame,
      saParts: Int = 32): DataFrame = {
    def cp(df: DataFrame) = df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def stage(ix: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          sum(expr(s"size($sparkToks)")).cast("long").as("n_tokens"))
        .selectExpr(s"${ix}L AS stage_ix", s"'$name' AS stage",
          "n_docs", "n_tokens")
    batchStages(corpus, semDrop, cp, saParts).zipWithIndex
      .map { case ((name, df), ix) => stage(ix, name, df) }
      .reduce(_.unionByName(_)).orderBy("stage_ix")
  }

  /** The composed v5 chain's NAMED stage frames in order (raw →
    * exact_dedup → passage_rewrite → suffix_cut → semantic_drop →
    * quality → scrub → gopher → source_cap) — the funnel's body,
    * exposed so StageAttributionSpec can assert each planted family
    * passes every upstream stage VERBATIM and is cut by exactly its
    * designed stage (the q224 discipline, generalized to every stage
    * of the chain). `cp` is the caller's checkpoint policy (disk for
    * the 512 MB ScaleCheck, memory for specs). */
  private[graft] def batchStages(corpus: DataFrame, semDrop: DataFrame,
      cp: DataFrame => DataFrame = _.localCheckpoint(),
      saParts: Int = 32): Seq[(String, DataFrame)] = {
    val d1 = cp(Relational.keepFirst(
      corpus.select("doc_id", "text", "source")
        .withColumn("fp", md5(col("text"))),
      Seq("fp"), Seq(col("doc_id"))).drop("fp"))
    val rw = cp(Dedup.passageDedup(d1.select("doc_id", "text"))
      .join(d1.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source"))
    val sx = cp(SuffixDedup.suffixCutText(rw.select("doc_id", "text"),
        parts = saParts, earlyExit = false)
      .join(rw.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source",
        "cast(length(text_kept) as bigint) AS n_chars"))
    val d3 = cp(sx.join(semDrop.select("doc_id"), Seq("doc_id"), "left_anti"))
    val quality = cp(CurationPipeline.qualityGate(d3))
    val evalSh = Curation.evalShingleSet(
      quality.where("doc_id % 97 = 3").select("doc_id", "text"))
    val train = quality.where("doc_id % 97 != 3")
    val scrub = cp(CurationPipeline.qualityGate(Curation
      .decontamScrubText(train.select("doc_id", "text"), evalSh)
      .join(train.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source",
        "cast(length(text_kept) as bigint) AS n_chars")))
    val clean = cp(scrub
      .join(TextAnalysis.dupLines(scrub.select("doc_id", "text"))
        .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
      .join(TextAnalysis.gopherNgrams(scrub.select("doc_id", "text"))
        .where("passes").select("doc_id"), Seq("doc_id"), "left_semi"))
    val kept = clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
    Seq("raw" -> corpus, "exact_dedup" -> d1, "passage_rewrite" -> rw,
      "suffix_cut" -> sx, "semantic_drop" -> d3, "quality" -> quality,
      "scrub" -> scrub, "gopher" -> clean, "source_cap" -> kept)
  }

  // ------------------------------------------------------------- wiring

  /** Per-(session, sfDir) memo of the persisted batch-1 state (the
    * lshIndexDir convention: per-JVM temp root, built once per
    * dataset per session, Memos-cold re-pays the build). The split is
    * 2/3 of the original id space, so the delta holds the last third
    * of the raw corpus PLUS every planted span doc — the append that
    * exercises all three retroactive paths (plants collide with
    * batch-1 donors; late eval docs contaminate batch-1 train text;
    * late big docs evict capped batch-1 docs). */
  private val stateMemo = Memos.dirMemo[(String, Long)]
  private lazy val stateRoot: String =
    java.nio.file.Files.createTempDirectory("graft_incr_state").toString

  private[graft] def semDropFor(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticKeepFor(s, dir)
      .where("NOT keep").selectExpr("vec_id AS doc_id")

  private def stateFor(s: SparkSession, dir: String): (String, Long) =
    stateMemo((s, dir)) {
      val docs = Tables.documents(s, dir)
      val off = docs.agg(max("doc_id")).first.getLong(0) + 1
      val split = 2L * off / 3L
      val corpus = SuffixDedup.plantedSpanCorpus(docs, withSource = true)
      val path = stateRoot + "/" + dir.replaceAll("[^A-Za-z0-9]", "_")
      buildState(corpus.where(s"doc_id < ${split}L"), semDropFor(s, dir),
        Some(Bpe.encodeModelFor(s, dir)), path)
      (path, split)
    }

  /** Per-(session, sfDir) memo of the FOLDED union survivor frame
    * (narrow: doc_id, source, n_chars, n_toks) — the q224 stage-frame
    * treatment applied to the fold: the delta fold runs once per
    * dataset per session and repeat reads serve the materialized
    * survivors (the house serving-cost convention); Memos-cold clears
    * it and re-pays state build + fold per rep. */
  private val keptMemo = Memos.dirMemo[(DataFrame, Long)]

  /** The registered q227 surface: phase B over the planted corpus's
    * delta slice against the memoized batch-1 state. The oracle is the
    * q221 batch template over the (whole) union — row-identity IS the
    * incremental ≡ batch proof. */
  def incrementalPipeline(s: SparkSession, dir: String): DataFrame = {
    val (kept, split) = keptMemo((s, dir)) {
      val (path, split) = stateFor(s, dir)
      val corpus = SuffixDedup.plantedSpanCorpus(
        Tables.documents(s, dir), withSource = true)
      (incrementalKept(s, corpus.where(s"doc_id >= ${split}L"),
        semDropFor(s, dir), Some(Bpe.encodeModelFor(s, dir)), path)
        .localCheckpoint(), split)
    }
    summarize(kept, split)
  }
}
