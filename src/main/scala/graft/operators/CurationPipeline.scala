package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable._

/** The end-to-end LLM-data curation pipeline: the individually-gated
  * rules COMPOSED into one callable, the way a production corpus is
  * actually built — dedup → quality gate → decontamination → source
  * cap → sequence packing — ending in the per-shard summary a training
  * launch reads.
  *
  * Every stage reuses the EXACT rule its standalone gate proves
  * (q20 keep-first dedup, q37 Gopher pass, q62 6-gram decontamination,
  * q63 per-source cap, q56 packing), so the composed oracle is the
  * same CTE fragments chained — if composition broke a stage's
  * semantics, the q129 hash gate diverges from the per-stage gates.
  *
  * Scale shape of the whole chain: one corpus scan feeds dedup's
  * fingerprint shuffle; quality is a narrow filter on the survivors;
  * decontamination broadcasts the benchmark-sized shingle set
  * (semi-join, corpus never shuffles); the cap is one shuffle on
  * source with a map-side WindowGroupLimit; packing windows within
  * shards. No stage materializes the corpus on the driver and every
  * shuffle key is stated — the pipeline inherits each operator's
  * audited posture.
  */
object CurationPipeline {

  /** Stages 1–4: the surviving document set (doc_id, text, source,
    * n_chars), i.e. what a training run would read.
    *
    * Cache contract (caller-managed, same as Dedup.minhashNearDups):
    * the quality stage is `.cache()`d because three downstream
    * consumers read it; nothing here unpersists it — the frame is
    * reachable from the RETURNED plan, so eager cleanup would re-pay
    * the dedup shuffle and quality HOFs per consumer. Callers that
    * invoke survivors()/curate() repeatedly in one long-lived session
    * should `spark.catalog.clearCache()` between runs (Bench does,
    * between reps) or accept LRU eviction. */
  /** Stage-2 rule (q37's `passes` expressions) as a reusable per-doc
    * filter — shared VERBATIM by the batch pipeline and the streaming
    * fold ([[graft.streaming.CurationStream]]) so the two gates cannot
    * drift. Text-only: duplicates share text, hence quality status, so
    * the gate commutes with dedup. */
  private[graft] def qualityGate(df: DataFrame): DataFrame = df
    .where(s"size($sparkToks) >= 2")
    .withColumn("__toks", expr(sparkToks))
    .where("size(__toks) >= 5 AND size(__toks) <= 100000" +
      " AND round(100.0 * aggregate(__toks, 0L, (acc, t) -> acc + length(t)) / size(__toks)) BETWEEN 200 AND 1200" +
      " AND round(10000.0 * (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))) / length(text)) < 3000")
    .drop("__toks")

  def survivors(docs: DataFrame): DataFrame = {
    // 1. exact dedup (q20): keep-first per content fingerprint
    val deduped = Relational.keepFirst(
      docs.select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .withColumn("fp", md5(col("text"))),
      Seq("fp"), Seq(col("doc_id"))).drop("fp")
    // 2. quality gate (q37's `passes` rule, identical expressions).
    // CACHED: the frame feeds three consumers (the decontamination
    // flags, the surviving-join left side, and through `clean` the
    // cap) — uncached, Catalyst re-evaluates the dedup shuffle and the
    // quality HOFs once per consumer (measured 4.0 s vs ~1.6 s for the
    // stages run once). The cache is per-stage survivor-sized, released
    // by the session's normal eviction (Bench clears between reps).
    val quality = qualityGate(deduped).cache()
    // 3. decontamination (q62): drop train docs sharing any 6-gram with
    // the eval slice; the eval slice itself leaves the training corpus
    // NOT cached: both consumers (cap ranking and the final semi-join)
    // re-derive it from the cached `quality` with one broadcast
    // semi-join each — cheaper than a second text-heavy memory write
    val clean = quality.join(
      Curation.decontaminate(quality.select("doc_id", "text"))
        .where("NOT contaminated").select("doc_id"),
      Seq("doc_id"), "left_semi")
    // 4. per-source cap (q63): at most 15 docs per source, best-first
    clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** The full pipeline: survivors packed into fixed-budget sequences
    * (q56), summarized per shard — docs, tokens, training sequences. */
  def curate(docs: DataFrame): DataFrame =
    Packing.packSequences(survivors(docs))
      .groupBy("shard")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("seg_tokens").as("n_tokens"),
        countDistinct("seq_id").as("n_seqs"))
      .orderBy("shard")

  /** q165 — the curation pipeline EXTENDED with the sub-document and
    * semantic stages plus tokenizer-denominated packing, composed so
    * stage INTERACTION is under the hash gate (q129 composes the
    * doc-level stages only):
    *
    *   exact dedup (q20) → passage dedup REWRITE (q139: each doc's
    *   duplicated passages cut, text/n_chars change) → semantic drop
    *   (q159: a doc whose embedding has a smaller-id cluster-mate at
    *   cosine ≥ τ leaves) → quality gate (q37, over the REWRITTEN
    *   text) → decontamination (q62) → source cap (q63, ranked by
    *   post-rewrite n_chars) → BPE-budget packing (q157: sequences
    *   budgeted in trained-tokenizer tokens of the REWRITTEN text).
    *
    * The interactions this pins: passage rewrite changes token counts
    * ⇒ different quality/cap decisions AND different packing than
    * q129's whitespace-packed originals; semantic dedup changes the
    * doc set feeding every later stage. Each stage is the exact rule
    * its standalone gate proves, so a hash mismatch here localizes to
    * composition, not to any rule.
    *
    * Scale: adds ONE passage-grid shuffle (q139's) and one id-keyed
    * anti-join (the semantic drop — benchmark-sized here, an ordinary
    * shuffled anti-join at 100 TB) to q129's audited profile; the BPE
    * model is the shared memoized training run. */
  def curateV2(s: SparkSession, dir: String): DataFrame =
    curateV2plus(s, dir, gopherGates = false)

  /** q183 — v2 EXTENDED with the Gopher repetition gates (q168
    * dup-line/paragraph + q176 n-gram char fractions) evaluated over
    * the REWRITTEN text, between quality and the cap. The interaction
    * this pins: passage dedup changes every repetition statistic — a
    * doc whose duplicated passages were cut can FLIP its Gopher verdict
    * relative to gating the raw text — so the gates must run where the
    * pipeline runs them, not where the standalone queries do. The
    * gates keep their planted specimens (each stage stays the exact
    * rule its standalone gate proves; the oracle replays the identical
    * chains over the survivor set via nested WITH — no fragment fork). */
  def curateV3(s: SparkSession, dir: String): DataFrame =
    curateV2plus(s, dir, gopherGates = true)

  /** Per-(session, sfDir) memo of the shared v2/v3 quality-survivor
    * frame (dedup → passage rewrite → semantic drop → quality gate):
    * q165 and q183 build the IDENTICAL frame, and v3's five consumer
    * branches otherwise race a lazy cache fill and re-derive parts of
    * the dedup/rewrite chain (measured 6.3 s cached vs 4.8 s on an
    * eager leaf warm at sf0.1) — so it is materialized eagerly ONCE and
    * served to both queries (the Bpe.trainMemo precedent; Memos-cold
    * re-pays it). */
  private val qualityMemo = Memos.dirMemo[DataFrame]
  private def qualityFor(s: SparkSession, dir: String): DataFrame =
    qualityMemo((s, dir)) {
      val docs = Tables.documents(s, dir)
      val d1 = Relational.keepFirst(
        docs.select(col("doc_id"), col("text"), col("source"))
          .withColumn("fp", md5(col("text"))),
        Seq("fp"), Seq(col("doc_id"))).drop("fp")
      // the memoized q139 pass over the RAW corpus is row-identical to
      // running it on d1: an exact-dup doc's passages are verbatim
      // copies of its smaller-id keeper's at the same pidx, so it never
      // wins a packed key and keeps no row — the inner join on d1
      // restricts to the deduped set (the oracle replays the pass over
      // d1 and would hash-mismatch if this equivalence broke)
      val rw = Dedup.passageDedupMemo(s, dir)
        .join(d1.select("doc_id", "source"), "doc_id")
        .selectExpr("doc_id", "text_kept AS text", "source",
          "cast(length(text_kept) as bigint) AS n_chars")
      val semDrop = Similarity.semanticKeepFor(s, dir)
        .where("NOT keep").selectExpr("vec_id AS doc_id")
      val d3 = rw.join(semDrop, Seq("doc_id"), "left_anti")
      org.apache.spark.sql.graft.PlanBridge.localCheckpointFreshStats(
        qualityGate(d3))
    }

  /** q214 — v3 EXTENDED with the suffix-array span cut (q204's rewrite
    * form) inserted between passage dedup and the quality gate, over
    * the PLANTED long-span corpus (the q204 plant, WITH a source column
    * so the cap stage sees the plants as one fresh domain). The
    * interaction this pins: the plants' 55-token copies are MISALIGNED
    * against their donors' 8-token passage grid (the plant re-houses
    * donor offset 3 behind ONE fresh flank token, so plant position p
    * holds donor token p+1 and no 8-aligned cell ever matches), so
    * passage dedup passes them UNTOUCHED and only the suffix stage cuts
    * them —
    * which then changes n_chars, quality verdicts, the cap ranking and
    * the packing of every affected doc (SuffixArraySpec's composition
    * test shows the miss/cut pair directly). Each stage stays the
    * exact rule its standalone gate proves; the twin replays the
    * window-hash span-cut route ([[SuffixDedup.duckSpanCut]], the q204
    * equivalence) spliced between the same CTEs. */
  def curateV4(s: SparkSession, dir: String): DataFrame =
    curateTail(s, dir, v4QualityFor(s, dir), gopherGates = true)

  /** Memo of the v4 quality-survivor frame over the planted corpus:
    * exact dedup → passage rewrite → SUFFIX-ARRAY span cut → semantic
    * drop → quality gate (the [[qualityFor]] convention, one stage
    * richer). */
  /** Memo of the v4/v5 PLANTED-corpus stage frames (exact dedup d1,
    * passage rewrite rw, suffix span cut sx — each localCheckpointed):
    * v4QualityFor needs sx, and the q224 funnel needs every stage row —
    * un-shared, the funnel re-paid the passage grid shuffle AND the
    * whole suffix-array doubling per rep (measured 4.8 s; the memo
    * leaves it the aggregates' cost). The frames are survivor-sized. */
  private val v4StagesMemo = Memos.dirMemo[(DataFrame, DataFrame, DataFrame)]
  private def v4StagesFor(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    v4StagesMemo((s, dir)) {
      val corpus = SuffixDedup.plantedSpanCorpus(
        Tables.documents(s, dir), withSource = true)
      val d1 = Relational.keepFirst(
        corpus.withColumn("fp", md5(col("text"))),
        Seq("fp"), Seq(col("doc_id"))).drop("fp").localCheckpoint()
      val rw = Dedup.passageDedup(d1.select("doc_id", "text"))
        .join(d1.select("doc_id", "source"), "doc_id")
        .selectExpr("doc_id", "text_kept AS text", "source")
        .localCheckpoint()
      // the flagship stage: every remaining ≥50-token duplicated span
      // cut from ALL its occurrences (earlyExit off — the plants
      // guarantee shared prefixes survive every round)
      val sx = SuffixDedup.suffixCutText(rw.select("doc_id", "text"),
          earlyExit = false)
        .join(rw.select("doc_id", "source"), "doc_id")
        .selectExpr("doc_id", "text_kept AS text", "source",
          "cast(length(text_kept) as bigint) AS n_chars")
        .localCheckpoint()
      (d1, rw, sx)
    }

  private val v4QualityMemo = Memos.dirMemo[DataFrame]
  private def v4QualityFor(s: SparkSession, dir: String): DataFrame =
    v4QualityMemo((s, dir)) {
      val (_, _, sx) = v4StagesFor(s, dir)
      val semDrop = Similarity.semanticKeepFor(s, dir)
        .where("NOT keep").selectExpr("vec_id AS doc_id")
      val d3 = sx.join(semDrop, Seq("doc_id"), "left_anti")
      org.apache.spark.sql.graft.PlanBridge.localCheckpointFreshStats(
        qualityGate(d3))
    }

  private def curateV2plus(s: SparkSession, dir: String,
                           gopherGates: Boolean): DataFrame =
    curateTail(s, dir, qualityFor(s, dir), gopherGates)

  /** q221 — v4 with the whole-doc decontamination stage REPLACED by the
    * q216 SURGICAL span scrub: instead of dropping every training doc
    * sharing a 6-gram with the eval carve, only the contaminated spans
    * are cut ([[Curation.decontamScrubText]]), the clean remainder is
    * re-derived (text, n_chars) and RE-GATED through the q37 quality
    * rule, and every downstream stage (Gopher gates, source cap ranked
    * by the scrubbed n_chars, trained-token packing) runs over the
    * scrubbed text. The interaction this pins: a contaminated doc v4
    * sacrifices whole now survives scrubbed — recovering token mass —
    * while a doc scrubbed to fewer than 5 tokens (or past the other
    * quality bounds) leaves at the re-gate; both verdicts are
    * composition effects no standalone gate sees (PipelineSpec's v5
    * test shows the drop/keep flip directly). Chain: exact dedup →
    * passage rewrite → suffix span cut → semantic drop → quality →
    * SCRUB + re-gate → Gopher gates → cap → packing, over the same
    * planted corpus as v4 so the two differ in exactly one stage.
    *
    * Scale: replaces v4's contaminated-id semi-join with q216's audited
    * scrub (one scan → explode → broadcast semi-join → span merge —
    * the corpus never shuffles wider than doc_id) plus one more
    * narrow quality filter; the eval side rides the bounded-broadcast
    * contract unchanged. */
  def curateV5(s: SparkSession, dir: String): DataFrame = {
    val q2 = v5ScrubFor(s, dir)
    val clean = q2.join(gopherIdsFor(s, q2), Seq("doc_id"), "left_semi")
    val surv = clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
    packShardSummary(s, dir, surv)
  }

  /** Memo of the v5 scrubbed-and-re-gated survivor frame: the v4
    * quality memo's chain, then eval shingles carved from the quality
    * survivors' eval slice (the v3 decontam carve), the train slice
    * scrubbed span-surgically, text/n_chars re-derived and the q37
    * quality gate re-applied over the scrubbed text. */
  private val v5ScrubMemo = Memos.dirMemo[DataFrame]
  private def v5ScrubFor(s: SparkSession, dir: String): DataFrame =
    v5ScrubMemo((s, dir)) {
      val quality = v4QualityFor(s, dir)
      val evalSh = Curation.evalShingleSet(
        quality.where("doc_id % 97 = 3").select("doc_id", "text"))
      val train = quality.where("doc_id % 97 != 3")
      val rebuilt = Curation
        .decontamScrubText(train.select("doc_id", "text"), evalSh)
        .join(train.select("doc_id", "source"), "doc_id")
        .selectExpr("doc_id", "text_kept AS text", "source",
          "cast(length(text_kept) as bigint) AS n_chars")
      org.apache.spark.sql.graft.PlanBridge.localCheckpointFreshStats(
        qualityGate(rebuilt))
    }

  /** Per-(session, frame-plan) memo of the Gopher-gate survivor ids
    * over an already-decontaminated frame (v5's tail: the scrub
    * replaced the decontam drop, so [[cleanIdsFor]]'s decontam leg
    * must NOT run again) — the cleanIdsMemo convention, gates only. */
  private val gopherIdsMemo = Memos.planMemo[DataFrame]
  private def gopherIdsFor(s: SparkSession, frame: DataFrame): DataFrame =
    gopherIdsMemo((s, frame.queryExecution.analyzed.canonicalized)) {
      frame
        .join(TextAnalysis.dupLines(frame.select("doc_id", "text"))
          .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
        .join(TextAnalysis.gopherNgrams(frame.select("doc_id", "text"))
          .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id").localCheckpoint()
    }

  /** q215 — the curation FUNNEL: per-stage survivor counts and
    * whitespace-token mass through the whole v3 chain (raw → exact
    * dedup → passage rewrite → semantic drop → quality → decontam →
    * Gopher gates → source cap) — the attrition table a curation team
    * publishes with every corpus release (what each gate cost, where
    * the mass went; the audit artifact beside q167's data card). Every
    * stage frame is built from the SAME component calls the pipeline
    * queries use (the shared quality memo, the memoized passage pass,
    * the identical gate rules), so the funnel can never drift from
    * what q183 actually executes; the twin is the same seamed template
    * with a counting tail over its own stage CTEs, so the hash match
    * pins each stage's row set, not just the final survivors.
    *
    * Scale shape: eight one-row aggregates over frames the pipeline
    * already builds — each a scan + the stage's own audited plan; no
    * new shuffle classes, output is 8 rows. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val d1 = Relational.keepFirst(
      docs.select(col("doc_id"), col("text"), col("source"))
        .withColumn("fp", md5(col("text"))),
      Seq("fp"), Seq(col("doc_id"))).drop("fp")
    val rw = Dedup.passageDedupMemo(s, dir)
      .join(d1.select("doc_id", "source"), "doc_id")
      .selectExpr("doc_id", "text_kept AS text", "source")
    val semDrop = Similarity.semanticKeepFor(s, dir)
      .where("NOT keep").selectExpr("vec_id AS doc_id")
    val d3 = rw.join(semDrop, Seq("doc_id"), "left_anti")
    val quality = qualityFor(s, dir)
    val (dIds, gIds) = cleanIdsFor(s, quality)
    val cleanD = quality.join(dIds, Seq("doc_id"), "left_semi")
    val clean = quality.join(gIds, Seq("doc_id"), "left_semi")
    val kept = clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
    Seq(stage(0, "raw", docs), stage(1, "exact_dedup", d1),
      stage(2, "passage_rewrite", rw), stage(3, "semantic_drop", d3),
      stage(4, "quality", quality), stage(5, "decontam", cleanD),
      stage(6, "gopher", clean), stage(7, "source_cap", kept))
      .reduce(_.unionByName(_)).orderBy("stage_ix")
  }

  /** One funnel row: survivor count + whitespace-token mass of a stage
    * frame — shared by the v3 (q215) and v5 (q224) funnels. */
  private def stage(ix: Int, name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        sum(expr(s"size($sparkToks)")).cast("long").as("n_tokens"))
      .selectExpr(s"${ix}L AS stage_ix", s"'$name' AS stage",
        "n_docs", "n_tokens")

  /** q224 — the funnel for the v5 chain (q215's audit applied to the
    * flagship pipeline): per-stage attrition through raw (planted
    * corpus) → exact dedup → passage rewrite → SUFFIX SPAN CUT →
    * semantic drop → quality → SCRUB + re-gate → Gopher gates → source
    * cap — the two stages q215's v3 chain lacks (`suffix_cut`, whose
    * row shows the mass the span cut removes that passage dedup
    * missed, and `scrub`, whose row against v4's decontam DROP is the
    * recovered-token-mass number the surgical operator exists for).
    * Every stage frame is built from the SAME component calls the
    * q221 pipeline uses (the shared v4 quality and v5 scrub memos);
    * the twin is the q221 template with a counting tail over its own
    * stage CTEs, so each intermediate stage's row set is oracle-pinned. */
  def curationFunnelV5(s: SparkSession, dir: String): DataFrame = {
    val corpus = SuffixDedup.plantedSpanCorpus(
      Tables.documents(s, dir), withSource = true)
    val (d1, rw, sx) = v4StagesFor(s, dir)
    val semDrop = Similarity.semanticKeepFor(s, dir)
      .where("NOT keep").selectExpr("vec_id AS doc_id")
    val d3 = sx.join(semDrop, Seq("doc_id"), "left_anti")
    val quality = v4QualityFor(s, dir)
    val scrub = v5ScrubFor(s, dir)
    val clean = scrub.join(gopherIdsFor(s, scrub), Seq("doc_id"), "left_semi")
    val kept = clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
    Seq(stage(0, "raw", corpus), stage(1, "exact_dedup", d1),
      stage(2, "passage_rewrite", rw), stage(3, "suffix_cut", sx),
      stage(4, "semantic_drop", d3), stage(5, "quality", quality),
      stage(6, "scrub", scrub), stage(7, "gopher", clean),
      stage(8, "source_cap", kept))
      .reduce(_.unionByName(_)).orderBy("stage_ix")
  }

  /** Per-(session, quality-frame) memo of the decontam and
    * decontam+Gopher survivor DOC-ID sets (narrow, localCheckpointed):
    * the `clean` subtree (decontam legs + the two interpreted-HOF
    * repetition gates) appears several times in each pipeline's final
    * plan (the surv semi-join's left side, inside sourceCap, and the
    * packing consumer), and un-memoized it re-evaluated once per
    * consumer per rep — q183's bench cost was ~4× the gates' standalone
    * price for exactly this reason (measured: 5.8 → ~1.5 s once the id
    * sets materialize once). Keyed by the quality frame's CANONICALIZED
    * plan so v3 (shared qualityFor) and v4 (the planted-corpus variant)
    * memo separately; Memos-cold re-pays, rows are identical by
    * construction (semi-joins on the same id sets). */
  private val cleanIdsMemo = Memos.planMemo[(DataFrame, DataFrame)]
  private def cleanIdsFor(s: SparkSession,
      quality: DataFrame): (DataFrame, DataFrame) =
    cleanIdsMemo((s, quality.queryExecution.analyzed.canonicalized)) {
      val dIds = quality.join(
        Curation.decontaminate(quality.select("doc_id", "text"))
          .where("NOT contaminated").select("doc_id"),
        Seq("doc_id"), "left_semi").select("doc_id").localCheckpoint()
      val gIds = quality.join(dIds, Seq("doc_id"), "left_semi")
        .join(TextAnalysis.dupLines(quality.select("doc_id", "text"))
          .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
        .join(TextAnalysis.gopherNgrams(quality.select("doc_id", "text"))
          .where("passes").select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id").localCheckpoint()
      (dIds, gIds)
    }

  private def curateTail(s: SparkSession, dir: String, quality: DataFrame,
                         gopherGates: Boolean): DataFrame = {
    val (dIds, gIds) = cleanIdsFor(s, quality)
    val clean = quality.join(if (gopherGates) gIds else dIds,
      Seq("doc_id"), "left_semi")
    val surv = clean.join(Curation.sourceCap(clean).select("doc_id"),
      Seq("doc_id"), "left_semi")
    packShardSummary(s, dir, surv)
  }

  /** The pipelines' shared output surface: survivors packed in
    * trained-BPE tokens (q157), summarized per shard. */
  private def packShardSummary(s: SparkSession, dir: String,
      surv: DataFrame): DataFrame =
    Packing.packSequencesBy(
        Bpe.tokenCountsFor(s, dir, surv.select("doc_id", "text"))
          .selectExpr("doc_id", "n_bpe_tokens AS n_toks"))
      .groupBy("shard")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("seg_tokens").cast("long").as("n_tokens"),
        countDistinct("seq_id").as("n_seqs"))
      .orderBy("shard")

  /** Per-session memo of a DRAINED [[graft.streaming.CurationStream]]
    * ingest of the documents table in 3 micro-batches (doc_id % 3 file
    * split — arbitrary: the fold is split-insensitive by construction,
    * which is exactly what the gate proves), with the TRAINED BPE
    * artifact riding as the stream's static tokenizer model. q212 reads
    * the resulting packing view; its oracle is the BATCH chain verbatim
    * (q129 survivors + the q144 training chain + q157 packing), so the
    * hash match proves streamed tokenize+packing ≡ batch, shard for
    * shard (the q172 convention, applied to the curation fold's new
    * tail). Eval shingles are carved exactly as the batch decontam
    * does: post-dedup, quality-passing eval docs. */
  private val streamPackMemo = Memos.dirMemo[String]
  private def streamStateFor(s: SparkSession, dir: String): String =
    streamPackMemo((s, dir)) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_cur_stream").toString
      val (state, stage, ckpt) = (s"$root/state", s"$root/stage", s"$root/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      (0 until 3).foreach { i =>
        val tmp = s"$root/tmp$i"
        docs.where(s"doc_id % 3 = $i").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(stage, s"b$i.parquet"))
      }
      val deduped = Relational.keepFirst(
        docs.withColumn("fp", org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text"))),
        Seq("fp"), Seq(org.apache.spark.sql.functions.col("doc_id"))).drop("fp")
      val evalSh = Curation.evalShingleSet(
        qualityGate(deduped).where("doc_id % 97 = 3")
          .select("doc_id", "text")).localCheckpoint()
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = graft.streaming.CurationStream
        .start(stream, evalSh, state, ckpt,
          model = Some(Bpe.encodeModelFor(s, dir))).start()
      q.processAllAvailable(); q.stop()
      state
    }

  // ---------------------------------------------------------------- query

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_curation_pipeline" -> ((s, dir) =>
      curate(Tables.documents(s, dir))),
    "q165_curation_v2" -> ((s, dir) => curateV2(s, dir)),
    "q183_curation_v3" -> ((s, dir) => curateV3(s, dir)),
    // v3 + the suffix-array span cut composed between passage dedup and
    // quality, over the planted long-span corpus — the r17 verdict's
    // Next #6 (the flagship operator proven IN pipeline, as q183 proved
    // the Gopher gates)
    "q214_curation_v4" -> ((s, dir) => curateV4(s, dir)),
    // v4 with the whole-doc decontam drop replaced by the q216 span
    // SCRUB + quality re-gate — the surgical operator proven IN
    // composition (the r18 verdict's Next #1), downstream verdicts
    // re-derived over the scrubbed text
    "q221_curation_v5" -> ((s, dir) => curateV5(s, dir)),
    // the per-stage attrition table through the v3 chain — each stage
    // frame from the identical component calls, the twin the same
    // seamed template with a counting tail over its own stage CTEs
    "q215_curation_funnel" -> ((s, dir) => curationFunnel(s, dir)),
    // the same audit over the v5 chain — the suffix_cut and scrub
    // stages' attrition rows (recovered-token-mass made visible)
    "q224_curation_funnel_v5" -> ((s, dir) => curationFunnelV5(s, dir)),
    // the streamed fold's tokenize+packing tail over the same corpus —
    // the oracle is the batch chain verbatim, so the hash gate itself
    // proves stream ≡ batch for the new tail
    "q212_stream_packing" -> ((s, dir) =>
      graft.streaming.CurationStream.bpePackingView(s, streamStateFor(s, dir))),
    // the v5 chain INCREMENTAL: batch 1 curated once into persisted
    // stage indexes (the q115 discipline), the delta folded in with
    // delta-sized work — the oracle is the q221 batch template over
    // the union, so the hash match IS the incremental ≡ batch proof
    "q227_incremental_curation" -> ((s, dir) =>
      IncrementalCuration.incrementalPipeline(s, dir)))

  /** The q129 survivor chain (q20 dedup → q37 quality → q62 decontam →
    * q63 cap) as a shared fragment ending in `kept` (doc_id, toks) —
    * q129's own twin and the q212 streamed-packing gate build on the
    * SAME text, so the batch rule and the stream gate can never fork. */
  private val duckSurvivorCtes: String =
    """d1 AS (
      |  SELECT doc_id, text, source, n_chars FROM (
      |    SELECT doc_id, text, source, n_chars,
      |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM documents) WHERE rn = 1),
      |t AS (
      |  SELECT doc_id, text, source, n_chars,
      |    regexp_split_to_array(trim(text), '\s+') AS toks,
      |    length(text) AS len,
      |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_symbols
      |  FROM d1 WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
      |q AS (
      |  SELECT doc_id, text, source, n_chars, toks FROM t
      |  WHERE len(toks) >= 5 AND len(toks) <= 100000
      |    AND round(100.0 * list_sum(list_transform(toks, tk -> length(tk))) / len(toks)) BETWEEN 200 AND 1200
      |    AND round(10000.0 * n_symbols / len) < 3000),
      |sh6 AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(1, len(toks) - 4)),
      |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
      |  FROM q),
      |eval_sh AS (
      |  SELECT DISTINCT unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 = 3),
      |contaminated AS (
      |  SELECT DISTINCT t2.doc_id
      |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 != 3) t2
      |  JOIN eval_sh e ON t2.shingle = e.shingle),
      |clean AS (
      |  SELECT * FROM q WHERE doc_id % 97 != 3
      |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |kept AS (
      |  SELECT doc_id, toks FROM (
      |    SELECT doc_id, toks,
      |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      |    FROM clean) WHERE rk <= 15)""".stripMargin

  def oracle: Map[String, String] = Map(
    // the q20/q37/q62/q63/q56 oracle fragments chained over the same
    // surviving set
    "q129_curation_pipeline" ->
      s"""WITH $duckSurvivorCtes,
         |c AS (
         |  SELECT doc_id, doc_id % 8 AS shard, CAST(len(toks) AS BIGINT) AS n_toks
         |  FROM kept),
         |w AS (
         |  SELECT doc_id, shard, n_toks,
         |    CAST(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
         |  FROM c),
         |s2 AS (SELECT *, cum - n_toks AS strt FROM w WHERE n_toks > 0),
         |e2 AS (
         |  SELECT shard, doc_id, strt, cum,
         |    unnest(range(strt // 2048, (cum - 1) // 2048 + 1)) AS seq_id
         |  FROM s2),
         |segs AS (
         |  SELECT shard, seq_id, doc_id,
         |    CAST(least(cum, (seq_id + 1) * 2048) - greatest(strt, seq_id * 2048) AS BIGINT) AS seg_tokens
         |  FROM e2)
         |SELECT shard, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(SUM(seg_tokens) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs
         |FROM segs GROUP BY shard ORDER BY shard""".stripMargin,

    // q165: the q139/q159 oracle fragments spliced between q129's dedup
    // and quality stages, the q157 trained-token packing as the tail —
    // every fragment verbatim from its standalone gate, over the
    // rewritten/pruned doc set instead of `documents`.
    "q165_curation_v2" -> v2SqlWith("", ""),

    // q212: the streamed tokenize+packing tail's BATCH twin — the q144
    // training chain (Bpe.duckSqlWith), the SHARED q129 survivor
    // fragment, and the q157 packing tail in trained tokens
    "q212_stream_packing" -> Bpe.duckSqlWith(
      s""",
         |seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym FROM it${Bpe.DefaultMerges} GROUP BY w),
         |$duckSurvivorCtes,
         |ktok AS (SELECT doc_id, unnest(toks) AS w FROM kept),
         |ktc AS (
         |  SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_toks
         |  FROM ktok JOIN seg USING (w) WHERE w <> '' GROUP BY doc_id),
         |ct AS (SELECT doc_id, doc_id % 8 AS shard, n_toks FROM ktc),
         |cw AS (
         |  SELECT doc_id, shard, n_toks,
         |    CAST(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
         |  FROM ct),
         |cs AS (SELECT *, cum - n_toks AS strt FROM cw WHERE n_toks > 0),
         |ce AS (
         |  SELECT shard, doc_id, strt, cum,
         |    unnest(range(strt // 2048, (cum - 1) // 2048 + 1)) AS seq_id
         |  FROM cs),
         |csegs AS (
         |  SELECT shard, seq_id, doc_id,
         |    CAST(least(cum, (seq_id + 1) * 2048) - greatest(strt, seq_id * 2048) AS BIGINT) AS seg_tokens
         |  FROM ce)
         |SELECT shard, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(SUM(seg_tokens) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs
         |FROM csegs GROUP BY shard ORDER BY shard""".stripMargin),

    // q183: the IDENTICAL v2 chain with the two Gopher gates spliced in
    // as nested-WITH CTEs over the rewritten-quality survivor set `q` —
    // the standalone q168/q176 generators are reused verbatim (src = q),
    // so a hash mismatch localizes to the composition seam
    "q183_curation_v3" -> v2SqlWith(v3GateCtes, v3CleanGate),

    // q214: the v3 chain over the PLANTED corpus with the suffix-array
    // span cut spliced between the passage rewrite and d2 — the shared
    // q204 window-route fragment (SuffixDedup.duckSpanCut over `rw`),
    // so a hash mismatch localizes to the composition seam, and the
    // match re-checks the SA↔window equivalence INSIDE the pipeline
    "q214_curation_v4" -> v2SqlWith(v3GateCtes, v3CleanGate,
      corpusCtes = SuffixDedup.duckPlantCtes(withSource = true) + ",\n",
      docSrc = "corpus",
      sfxCtes = SuffixDedup.duckSpanCut("rw", "sx",
          SuffixDedup.DefaultMinSpan) +
        ",\nrw4 AS (SELECT doc_id, txt AS text FROM sxres),\n",
      rwSrc = "rw4"),

    // q215: the v3 template with a COUNTING tail over its own stage
    // CTEs — stage names/indices must mirror curationFunnel exactly
    "q215_curation_funnel" -> v2SqlWith(v3GateCtes, v3CleanGate,
      tail = funnelTail),

    // q221: the v4 template with the decontam seam swapped for the
    // scrub block (gates ride inside it, over the scrubbed `cleand`) —
    // a hash mismatch localizes to the one swapped stage, and the
    // match re-checks the span-cut equivalence inside the pipeline
    "q221_curation_v5" -> v2SqlWith("", v3CleanGate,
      corpusCtes = SuffixDedup.duckPlantCtes(withSource = true) + ",\n",
      docSrc = "corpus",
      sfxCtes = SuffixDedup.duckSpanCut("rw", "sx",
          SuffixDedup.DefaultMinSpan) +
        ",\nrw4 AS (SELECT doc_id, txt AS text FROM sxres),\n",
      rwSrc = "rw4",
      decontamCtes = duckScrubCtes),

    // q224: the q221 template with the v5 counting tail — every
    // intermediate stage row set of the flagship chain oracle-pinned
    "q224_curation_funnel_v5" -> v2SqlWith("", v3CleanGate,
      corpusCtes = SuffixDedup.duckPlantCtes(withSource = true) + ",\n",
      docSrc = "corpus",
      sfxCtes = SuffixDedup.duckSpanCut("rw", "sx",
          SuffixDedup.DefaultMinSpan) +
        ",\nrw4 AS (SELECT doc_id, txt AS text FROM sxres),\n",
      rwSrc = "rw4",
      decontamCtes = duckScrubCtes,
      tail = funnelV5Tail),

    // q227: the q221 BATCH template over the union, verbatim, plus one
    // delta-attribution column (the split is 2/3 of the original id
    // space — `mx` rides in from the plant CTEs) — Spark computes the
    // same integers INCREMENTALLY from persisted batch-1 state, so the
    // hash match is the incremental ≡ batch-over-union proof
    "q227_incremental_curation" -> v2SqlWith("", v3CleanGate,
      corpusCtes = SuffixDedup.duckPlantCtes(withSource = true) + ",\n",
      docSrc = "corpus",
      sfxCtes = SuffixDedup.duckSpanCut("rw", "sx",
          SuffixDedup.DefaultMinSpan) +
        ",\nrw4 AS (SELECT doc_id, txt AS text FROM sxres),\n",
      rwSrc = "rw4",
      decontamCtes = duckScrubCtes,
      tail = packingTailWith(
        ",\n  CAST(COUNT(DISTINCT CASE WHEN doc_id >= " +
          "(SELECT (2 * off) // 3 FROM mx) THEN doc_id END) AS BIGINT) " +
          "AS n_docs_delta")))

  private val funnelTail: String = {
    val wtoks = "len(regexp_split_to_array(trim(text), '\\s+'))"
    s""",
       |ft AS (
       |  SELECT CAST(0 AS BIGINT) AS stage_ix, 'raw' AS stage,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM($wtoks) AS BIGINT) AS n_tokens
       |  FROM documents
       |  UNION ALL SELECT CAST(1 AS BIGINT), 'exact_dedup',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM d1
       |  UNION ALL SELECT CAST(2 AS BIGINT), 'passage_rewrite',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM d2
       |  UNION ALL SELECT CAST(3 AS BIGINT), 'semantic_drop',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM d3
       |  UNION ALL SELECT CAST(4 AS BIGINT), 'quality',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM q
       |  UNION ALL SELECT CAST(5 AS BIGINT), 'decontam',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM cleand
       |  UNION ALL SELECT CAST(6 AS BIGINT), 'gopher',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM clean
       |  UNION ALL SELECT CAST(7 AS BIGINT), 'source_cap',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM kept)
       |SELECT stage_ix, stage, n_docs, n_tokens FROM ft ORDER BY stage_ix""".stripMargin
  }

  /** q224's counting tail — the funnel rows over the v5 template's own
    * stage CTEs (stage names/indices mirror [[curationFunnelV5]]
    * exactly; `rw4` is the suffix-cut stage, `cleand` the scrubbed
    * re-gated survivors). */
  private val funnelV5Tail: String = {
    val wtoks = "len(regexp_split_to_array(trim(text), '\\s+'))"
    s""",
       |ft AS (
       |  SELECT CAST(0 AS BIGINT) AS stage_ix, 'raw' AS stage,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM($wtoks) AS BIGINT) AS n_tokens
       |  FROM corpus
       |  UNION ALL SELECT CAST(1 AS BIGINT), 'exact_dedup',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM d1
       |  UNION ALL SELECT CAST(2 AS BIGINT), 'passage_rewrite',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM rw
       |  UNION ALL SELECT CAST(3 AS BIGINT), 'suffix_cut',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM rw4
       |  UNION ALL SELECT CAST(4 AS BIGINT), 'semantic_drop',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM($wtoks) AS BIGINT) FROM d3
       |  UNION ALL SELECT CAST(5 AS BIGINT), 'quality',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM q
       |  UNION ALL SELECT CAST(6 AS BIGINT), 'scrub',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM cleand
       |  UNION ALL SELECT CAST(7 AS BIGINT), 'gopher',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM clean
       |  UNION ALL SELECT CAST(8 AS BIGINT), 'source_cap',
       |    CAST(COUNT(*) AS BIGINT), CAST(SUM(len(toks)) AS BIGINT) FROM kept)
       |SELECT stage_ix, stage, n_docs, n_tokens FROM ft ORDER BY stage_ix""".stripMargin
  }

  private val v3GateCtes: String =
    s"""gl AS (WITH ${TextAnalysis.dupLinesSql(src = "q")}),
       |gn AS (WITH ${TextAnalysis.gopherNgramsSql(src = "q")}),
       |gok AS (
       |  SELECT gl.doc_id FROM gl JOIN gn ON gl.doc_id = gn.doc_id
       |  WHERE gl.passes AND gn.passes),
       |""".stripMargin

  private val v3CleanGate: String =
    """
      |    AND doc_id IN (SELECT doc_id FROM gok)""".stripMargin

  /** The q165 oracle chain with five seams: extra CTEs after the
    * quality stage (`q`) + an extra predicate on `clean` ("" + "" is
    * exactly the v2 twin, the gate pair is v3), plus — for v4 — a
    * corpus prelude (`corpusCtes` + `docSrc`: the planted corpus
    * replaces `documents` as d1's source) and a post-rewrite stage
    * (`sfxCtes` + `rwSrc`: the suffix span cut between the passage
    * rewrite and d2), plus — for v5 — the decontamination block itself
    * (`decontamCtes`, any CTE chain ending in `cleand`: the default is
    * the q62 whole-doc drop, q221 swaps in the q216 span scrub with
    * the quality re-gate). One template serves all five, so a
    * composition change can never fork the shared fragments. */
  private def v2SqlWith(gateCtes: String, cleanGate: String,
      corpusCtes: String = "", docSrc: String = "documents",
      sfxCtes: String = "", rwSrc: String = "rw",
      decontamCtes: String = duckDecontamDropCtes,
      tail: String = packingTail): String = {
      val duckCos =
        """list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) /
          |  (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x))))""".stripMargin
      Bpe.duckSqlWith(
        s""",
           |$corpusCtes${Similarity.duckIvfCandsCtes()},
           |seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym FROM it${Bpe.DefaultMerges} GROUP BY w),
           |sem_drop AS (
           |  SELECT DISTINCT y.vec_id AS doc_id
           |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
           |  JOIN vecs a ON a.vec_id = x.vec_id
           |  JOIN vecs b ON b.vec_id = y.vec_id
           |  WHERE CAST(round(($duckCos) * 1000000) AS BIGINT) >= 300000),
           |d1 AS (
           |  SELECT doc_id, text, source FROM (
           |    SELECT doc_id, text, source,
           |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM $docSrc) WHERE rn = 1),
           |pt AS (
           |  SELECT doc_id, unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pidx, toks
           |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM d1)
           |  WHERE len(toks) > 0),
           |pp AS (
           |  SELECT doc_id * 65536 + pidx AS packed,
           |    array_to_string(toks[pidx*8+1 : pidx*8+8], ' ') AS ptext
           |  FROM pt),
           |pk AS (SELECT ptext, MIN(packed) AS packed FROM pp GROUP BY ptext),
           |rw AS (
           |  SELECT doc_id, array_to_string(list(ptext ORDER BY pidx), ' ') AS text
           |  FROM (SELECT packed // 65536 AS doc_id, packed % 65536 AS pidx, ptext FROM pk)
           |  GROUP BY doc_id),
           |$sfxCtes d2 AS (
           |  SELECT $rwSrc.doc_id, $rwSrc.text, d1.source,
           |    CAST(length($rwSrc.text) AS BIGINT) AS n_chars
           |  FROM $rwSrc JOIN d1 ON d1.doc_id = $rwSrc.doc_id),
           |d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
           |tq AS (
           |  SELECT doc_id, text, source, n_chars,
           |    regexp_split_to_array(trim(text), '\\s+') AS toks,
           |    length(text) AS len,
           |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_symbols
           |  FROM d3 WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
           |q AS (
           |  SELECT doc_id, text, source, n_chars, toks FROM tq
           |  WHERE len(toks) >= 5 AND len(toks) <= 100000
           |    AND round(100.0 * list_sum(list_transform(toks, tk -> length(tk))) / len(toks)) BETWEEN 200 AND 1200
           |    AND round(10000.0 * n_symbols / len) < 3000),
           |$gateCtes $decontamCtes,
           |clean AS (
           |  SELECT * FROM cleand WHERE 1 = 1$cleanGate),
           |kept AS (
           |  SELECT doc_id, toks FROM (
           |    SELECT doc_id, toks,
           |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
           |    FROM clean) WHERE rk <= 15)
           |$tail""".stripMargin)
  }

  /** The template's default decontamination block — the q62 whole-doc
    * drop (eval carve's 6-gram shingles, contaminated ids, `cleand` =
    * the surviving train docs), verbatim the pre-seam text so the
    * v2/v3/v4 twins are byte-identical to their audited form. */
  private val duckDecontamDropCtes: String =
    """sh6 AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(1, len(toks) - 4)),
      |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
      |  FROM q),
      |eval_sh AS (
      |  SELECT DISTINCT unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 = 3),
      |contaminated AS (
      |  SELECT DISTINCT t2.doc_id
      |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 != 3) t2
      |  JOIN eval_sh e ON t2.shingle = e.shingle),
      |cleand AS (
      |  SELECT * FROM q WHERE doc_id % 97 != 3
      |    AND doc_id NOT IN (SELECT doc_id FROM contaminated))""".stripMargin

  /** The v5 decontamination block — the q216 SURGICAL scrub spliced
    * where the drop was: eval shingles carved from `q`'s eval slice
    * exactly as the drop's, the train slice's shingle-position matches
    * fed through the SHARED merge/remove-all/rebuild tail
    * ([[SuffixDedup.duckSpanCutTail]] — one cut fragment for
    * q204/q214/q216/q221, no fork), the scrubbed text re-derived
    * (n_chars = scrubbed length) and RE-GATED through the q37 quality
    * rule, then the Gopher gates over the scrubbed survivors (`gok`,
    * consumed by the same v3 `cleanGate` predicate). Ends in `cleand`
    * like the default, so the template's cap/packing tail composes
    * unchanged. */
  private val duckScrubCtes: String =
    s"""sh6 AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(1, len(toks) - 4)),
       |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
       |  FROM q),
       |eval_sh AS (
       |  SELECT DISTINCT unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 = 3),
       |sct AS (SELECT doc_id, toks FROM q WHERE doc_id % 97 != 3),
       |scsp AS (
       |  SELECT w.doc_id, w.i AS s, w.i + 6 AS e FROM (
       |    SELECT doc_id, i, array_to_string(toks[i:i+5], ' ') AS sh
       |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 4)) AS i
       |          FROM sct WHERE len(toks) >= 6)) w
       |  JOIN eval_sh e ON w.sh = e.shingle),
       |${SuffixDedup.duckSpanCutTail("sc")},
       |q5 AS (
       |  SELECT r.doc_id, r.txt AS text, q.source,
       |    CAST(length(r.txt) AS BIGINT) AS n_chars,
       |    regexp_split_to_array(trim(r.txt), '\\s+') AS toks,
       |    length(r.txt) AS len,
       |    length(r.txt) - length(regexp_replace(r.txt, '[^a-zA-Z0-9 ]', '', 'g')) AS n_symbols
       |  FROM scres r JOIN q ON q.doc_id = r.doc_id
       |  WHERE len(regexp_split_to_array(trim(r.txt), '\\s+')) >= 2),
       |cleand AS MATERIALIZED (
       |  SELECT doc_id, text, source, n_chars, toks FROM q5
       |  WHERE len(toks) >= 5 AND len(toks) <= 100000
       |    AND round(100.0 * list_sum(list_transform(toks, tk -> length(tk))) / len(toks)) BETWEEN 200 AND 1200
       |    AND round(10000.0 * n_symbols / len) < 3000),
       |gl5 AS (WITH ${TextAnalysis.dupLinesSql(src = "cleand")}),
       |gn5 AS (WITH ${TextAnalysis.gopherNgramsSql(src = "cleand")}),
       |gok AS (
       |  SELECT gl5.doc_id FROM gl5 JOIN gn5 ON gl5.doc_id = gn5.doc_id
       |  WHERE gl5.passes AND gn5.passes)""".stripMargin

  /** The q157 trained-token packing summary with caller-supplied extra
    * output columns — ONE tail template for the default (v2/v3/v4/v5)
    * surface and q227's delta-attributed variant, so the two can never
    * fork. */
  private def packingTailWith(extra: String): String =
    s""",
      |ktok AS (SELECT doc_id, unnest(toks) AS w FROM kept),
      |ktc AS (
      |  SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_toks
      |  FROM ktok JOIN seg USING (w) WHERE w <> '' GROUP BY doc_id),
      |ct AS (SELECT doc_id, doc_id % 8 AS shard, n_toks FROM ktc),
      |cw AS (
      |  SELECT doc_id, shard, n_toks,
      |    CAST(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
      |  FROM ct),
      |cs AS (SELECT *, cum - n_toks AS strt FROM cw WHERE n_toks > 0),
      |ce AS (
      |  SELECT shard, doc_id, strt, cum,
      |    unnest(range(strt // 2048, (cum - 1) // 2048 + 1)) AS seq_id
      |  FROM cs),
      |csegs AS (
      |  SELECT shard, seq_id, doc_id,
      |    CAST(least(cum, (seq_id + 1) * 2048) - greatest(strt, seq_id * 2048) AS BIGINT) AS seg_tokens
      |  FROM ce)
      |SELECT shard, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(SUM(seg_tokens) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs$extra
      |FROM csegs GROUP BY shard ORDER BY shard""".stripMargin

  /** The template's default tail — the q157 trained-token packing
    * summary (the v2/v3/v4 output surface). */
  private val packingTail: String = packingTailWith("")
}
