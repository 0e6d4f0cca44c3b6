package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable._

/** Corpus-curation operators for training-data assembly: deterministic
  * downsampling and mixture allocation — the two knobs a pretraining
  * pipeline turns between "raw crawl" and "training mix".
  *
  * Both are expression-only and integer-exact, so they are fully
  * DuckDB-oracle-checkable, and both are narrow/grouped shapes that hold
  * at 100 TB:
  *  - sampling is a per-row hash predicate (no shuffle at all);
  *  - allocation aggregates to ONE row per source before any window
  *    touches it (the windows run over #sources rows, not data).
  */
object Curation {

  /** Deterministic stratified sampling: keep a per-stratum fraction,
    * decided by the PORTABLE hash of the document id — reproducible
    * across engines, runs, and partitionings (`rand()` would be none of
    * those). Strata here are length buckets (short docs are usually
    * over-represented in crawls); `rates` maps stratum → keep-percent. */
  def stratifiedSample(docs: DataFrame,
                       rates: Map[String, Int] = Map("long" -> 100, "mid" -> 50, "short" -> 25)): DataFrame = {
    val stratum =
      "CASE WHEN length(text) >= 2000 THEN 'long' WHEN length(text) >= 500 THEN 'mid' ELSE 'short' END"
    val keep = rates.toSeq.sortBy(_._1)
      .map { case (s, pct) => s"(stratum = '$s' AND h100 < $pct)" }
      .mkString(" OR ")
    docs
      .selectExpr("doc_id", s"$stratum AS stratum",
        s"pmod(${sparkHash48("cast(doc_id as string)")}, 100) AS h100")
      .where(keep)
  }

  /** Training-mix allocation via the largest-remainder method: split a
    * fixed sequence `budget` across sources proportionally to their
    * token counts, exactly (allocations sum to the budget; every source
    * is within 1 of its exact proportional share). All int64 arithmetic:
    * quota = (budget·tokens) div total, and the `budget − Σquota`
    * leftover goes to the largest remainders (ties → smaller source id).
    */
  def mixtureAllocation(docs: DataFrame, budget: Long = 10000L,
                        sources: Int = 5): DataFrame = {
    val perSource = docs
      .selectExpr(s"doc_id % $sources AS source", s"cast(size($sparkToks) as bigint) AS n")
      .groupBy("source").agg(sum("n").as("n_tokens"))
    // windows run over `sources` rows (the aggregated mix table), never
    // over the corpus — this is a driver-scale table kept distributed
    val all = Window.partitionBy(lit(0))
    val byRem = Window.partitionBy(lit(0))
      .orderBy(col("rem").desc, col("source"))
    perSource
      .withColumn("total", sum("n_tokens").over(all))
      .withColumn("quota", expr(s"($budget * n_tokens) div total"))
      .withColumn("rem", expr(s"($budget * n_tokens) % total"))
      .withColumn("leftover", lit(budget) - sum("quota").over(all))
      .withColumn("rk", row_number().over(byRem))
      .selectExpr("source", "n_tokens",
        "quota + if(rk <= leftover, 1, 0) AS alloc")
  }

  /** q160 — TEMPERATURE-flattened source mixture (the UniMax/mT5
    * α-sampling a multilingual/multi-source pretraining mix actually
    * uses): sampling weight w_s ∝ n_s^α with α = 0.3, which upweights
    * tail sources relative to [[mixtureAllocation]]'s proportional
    * split (α = 1) without letting any head source dominate. The
    * transcendental pow goes through the q145/q130 convention: each
    * source's n_s^α is e9-rounded to an INTEGER before any
    * cross-source arithmetic, so normalization, weights and quotas are
    * integer-exact and shuffle-order-proof in both engines; the budget
    * conserves exactly via the same largest-remainder trick. Windows
    * run over the #sources-row mix table, never the corpus. */
  def temperatureMixture(docs: DataFrame, budget: Long = 10000L): DataFrame =
    temperatureOver(docs
      .selectExpr("source", s"cast(size($sparkToks) as bigint) AS n")
      .groupBy("source").agg(sum("n").as("n_tokens")), budget)

  /** The α-sampling tail over an ARBITRARY per-source mass frame
    * (source, n_tokens) — q160 feeds raw token counts, q186 feeds the
    * SoftDeDup-weighted effective mass (tokens × w_e6), so the
    * temperature flattening composes with reweighting without
    * duplicating the largest-remainder chain. Mass must stay under
    * 2^53 for the pow double to be exact — e6-weighted token counts
    * are ~10^12 at sf0.1, comfortably inside. */
  private[operators] def temperatureOver(perSource: DataFrame,
      budget: Long = 10000L): DataFrame = {
    require(budget > 0, s"temperatureOver: budget must be positive, got $budget")
    val all = Window.partitionBy(lit(0))
    val byRem = Window.partitionBy(lit(0))
      .orderBy(col("rem").desc, col("source"))
    // budget × p_e9 must stay inside int64 (the documented ~2e18 bound
    // binds one order of magnitude above the sf0.1 token scale) — the
    // guard enforces the rescale contract IN-PLAN (the guardedPacked
    // convention): an out-of-bounds run fails loudly on both the quota
    // and remainder arms instead of wrapping into corrupt allocations.
    // In-bounds rows evaluate to the identical product, so hashes are
    // unchanged.
    val pMax = Long.MaxValue / budget
    val guarded = s"""IF(p_e9 <= ${pMax}L, $budget * p_e9,
      |cast(raise_error(concat('temperatureOver: budget*p_e9 overflows bigint ',
      |'(budget=$budget, p_e9=', cast(p_e9 as string),
      |'); rescale p to e6 on both engines')) as bigint))""".stripMargin
    perSource
      .withColumn("p_e9",
        expr("cast(round(1e9 * pow(cast(n_tokens as double), 0.3)) as bigint)"))
      .withColumn("tot", sum("p_e9").over(all))
      .withColumn("w_e6", expr("(1000000 * p_e9) div tot"))
      .withColumn("quota", expr(s"($guarded) div tot"))
      .withColumn("rem", expr(s"($guarded) % tot"))
      .withColumn("leftover", lit(budget) - sum("quota").over(all))
      .withColumn("rk", row_number().over(byRem))
      .selectExpr("source", "n_tokens", "p_e9", "w_e6",
        "quota + if(rk <= leftover, 1, 0) AS alloc_tokens")
      .orderBy("source")
  }

  /** q182 — the deterministic MIXTURE SCHEDULE: the weighted round-robin
    * interleave a data loader materializes from the q160 temperature
    * allocations, so every rank of every worker draws the identical
    * stream without coordination. Occurrence j of source s (quota q of
    * budget Q) lands at virtual time ((2j−1)·Q) div (2q) — the Bresenham
    * midpoint rule: integer-exact, evenly paced (occurrences of a
    * source are ~Q/q apart, never bunched), ties broken by (source, j).
    * Positions are then the rank over (time, source, j).
    *
    * Scale shape: the schedule is BUDGET-sized (the mix table's
    * granularity — 10k rows here), never corpus-sized; the one global
    * window orders that budget-sized frame, which is exactly what a
    * loader materializes per epoch. */
  def mixSchedule(docs: DataFrame, budget: Long = 10000L): DataFrame =
    mixScheduleOver(docs
      .selectExpr("source", s"cast(size($sparkToks) as bigint) AS n")
      .groupBy("source").agg(sum("n").as("n_tokens")), budget)

  /** [[mixSchedule]] over an already-computed per-source mass frame —
    * callers that have tokenized the corpus for their own stages (the
    * q205 shard materialization) feed their counts here instead of
    * paying a second corpus tokenize inside [[temperatureMixture]]. */
  private[operators] def mixScheduleOver(perSource: DataFrame,
      budget: Long = 10000L): DataFrame = {
    val alloc = temperatureOver(perSource, budget)
      .select(col("source"), col("alloc_tokens").as("q"))
      .where("q > 0")
    alloc
      .selectExpr("source", "q", "explode(sequence(1L, q)) AS j")
      .selectExpr("source", "j", s"((2 * j - 1) * ${budget}L) div (2 * q) AS t")
      .withColumn("pos", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("t"), col("source"), col("j")))
        .cast("long"))
      .select("pos", "source", "j", "t")
      .orderBy("pos")
  }

  /** The q182 schedule as a shared DuckDB fragment ending in `sched`
    * (pos, source, j, t) — q182's own twin and the q205 shard
    * materialization build on the SAME chain, so the schedule can never
    * fork between consumers (the duckBm25Ctes extraction discipline). */
  private[operators] def duckScheduleCtes: String =
    """per_source AS (
      |  SELECT source,
      |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |p AS (
      |  SELECT source, n_tokens,
      |    CAST(round(1e9 * pow(CAST(n_tokens AS DOUBLE), 0.3)) AS BIGINT) AS p_e9
      |  FROM per_source),
      |q AS (
      |  SELECT *, CAST(SUM(p_e9) OVER () AS BIGINT) AS tot FROM p),
      |a AS (
      |  SELECT source, p_e9,
      |    (10000 * p_e9) // tot AS quota,
      |    (10000 * p_e9) % tot AS rem
      |  FROM q),
      |r AS (
      |  SELECT *,
      |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM a),
      |al AS (
      |  SELECT source, CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS qt
      |  FROM r),
      |occ AS (
      |  SELECT source, qt, unnest(range(1, qt + 1)) AS j FROM al WHERE qt > 0),
      |tm AS (
      |  SELECT source, CAST(j AS BIGINT) AS j,
      |    ((2 * j - 1) * 10000) // (2 * qt) AS t
      |  FROM occ),
      |sched AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY t, source, j) AS BIGINT) AS pos,
      |    source, j, CAST(t AS BIGINT) AS t
      |  FROM tm)""".stripMargin

  /** q179 — EXCESS-LOSS domain reweighting (the DoReMi idea, Xie et al.
    * 2023, in its one-shot measurable form): a domain whose own token
    * distribution the CORPUS-wide model underfits has learnable
    * headroom and gets upweighted. The excess-loss proxy is exact and
    * model-free: KL(P_s ‖ P_corpus) over unigram token distributions —
    * precisely the average extra NLL a corpus-fit unigram model pays on
    * domain s vs the domain's own fit. Weights here are the LINEARIZED
    * analogue of DoReMi's exponentiated update, w_s ∝ 1 + η·KL_s over a
    * uniform reference (η = 4) — [[domainReweightExp]] (q187) runs the
    * TRUE multiplicative form with the paper's uniform smoothing —
    * allocated to an exact integer budget by the largest-remainder
    * method (q58/q160's conservation trick). The full Group-DRO
    * proxy-TRAINING loop (a reference model re-fit between rounds)
    * stays out of scope and says so, not approximated silently.
    *
    * Determinism: counts are exact; each (source, type) KL term is
    * e9-rounded BEFORE the per-source sum (the q135 entropy
    * convention), so sums, weights and quotas are integer-exact and
    * shuffle-order-proof in both engines.
    *
    * Scale shape: ONE corpus scan into the (source, type) count (map-
    * side combined); the type-marginal join is keyed on the type — the
    * natural shuffle at any corpus size; everything after runs on
    * #sources-row frames (windows over the mix table, never the
    * corpus). */
  /** The (source, t, c_st) type-count frame — ONE corpus scan,
    * MATERIALIZED (localCheckpoint): the kl chain consumes it three
    * times (per-source totals, type marginals, the term join) and the
    * q229 second round twice more, and Catalyst does not reuse the
    * exchange across those subtrees (measured: 18 corpus scans in the
    * un-materialized q229 plan) — at 100 TB that is 18 corpus reads
    * for one vocabulary-×-sources-sized frame. */
  private def typeCountsOf(docs: DataFrame): DataFrame =
    docs.selectExpr("source", s"explode($sparkToks) AS t")
      .where("t <> ''")
      .groupBy("source", "t").agg(count(lit(1)).as("c_st"))
      .localCheckpoint()

  /** Per-(session, sfDir) memo of the type-count frame — the
    * tokenCountsMemo/decileMemo convention applied to the reweighting
    * family: q179/q187/q229 all derive from the IDENTICAL (source, t,
    * c_st) table of the corpus, so the corpus scan + checkpoint is paid
    * once per session and served at memo cost to the other two (and to
    * repeat runs); cold mode clears it with the other model memos. */
  private val typeCountsMemo = Memos.dirMemo[DataFrame]
  private def typeCountsFor(s: SparkSession, dir: String): DataFrame =
    typeCountsMemo((s, dir)) {
      typeCountsOf(Tables.documents(s, dir))
    }

  /** (source, n_tokens, kl_e9) — the shared excess-loss proxy both
    * reweighting variants (q179 linear, q187 exponentiated) read. */
  private def klBySource(docs: DataFrame): DataFrame =
    klFromCounts(typeCountsOf(docs))

  private def klFromCounts(st: DataFrame): DataFrame = {
    val bySource = st.groupBy("source").agg(sum("c_st").as("n_s"))
    val byType = st.groupBy("t").agg(sum("c_st").as("c_t"))
    // corpus total as a 1-row broadcast (never a lit(0) window over the
    // type-sized frame — that would single-partition it)
    val nTot = byType.agg(sum("c_t").as("n_tot"))
    st
      .join(broadcast(bySource), "source")
      .join(byType, "t")
      .crossJoin(broadcast(nTot))
      .selectExpr("source", "n_s",
        "cast(round(1e9 * (c_st / cast(n_s as double)) * " +
          "(ln(c_st) - ln(n_s) - ln(c_t) + ln(n_tot))) as bigint) AS term_e9")
      .groupBy("source")
      .agg(max("n_s").as("n_tokens"), sum("term_e9").cast("long").as("kl_e9"))
  }

  def domainReweight(docs: DataFrame, budget: Long = 10000L,
                     eta: Long = 4L): DataFrame =
    domainReweightSt(typeCountsOf(docs), budget, eta)

  /** q179 over an already-materialized type-count frame (the memoized
    * registration path). */
  private def domainReweightSt(st: DataFrame, budget: Long,
                               eta: Long): DataFrame = {
    val all = Window.partitionBy(lit(0))
    val byRem = Window.partitionBy(lit(0))
      .orderBy(col("rem").desc, col("source"))
    klFromCounts(st)
      .withColumn("w_e9", expr(s"1000000000L + $eta * kl_e9"))
      .withColumn("tot", sum("w_e9").over(all))
      .withColumn("quota", expr(s"($budget * w_e9) div tot"))
      .withColumn("rem", expr(s"($budget * w_e9) % tot"))
      .withColumn("leftover", lit(budget) - sum("quota").over(all))
      .withColumn("rk", row_number().over(byRem))
      .selectExpr("source", "n_tokens", "kl_e9", "w_e9",
        "quota + if(rk <= leftover, 1, 0) AS alloc")
      .orderBy("source")
  }

  /** q187 — the TRUE DoReMi update (Xie et al. 2023 Algorithm 1, one
    * round over the q179 excess-loss proxy): multiplicative weights
    * w_s ∝ exp(η · excess_s) instead of q179's linearization, then the
    * paper's uniform smoothing α = (1−c)·ŵ + c·u (c = 1%) so no domain
    * ever starves. The exp goes through the q160 pow convention —
    * e6-rounded ONCE per source before any cross-source arithmetic
    * (IEEE division and a 1-ulp exp are the same cross-engine risk
    * class pow already carries, green at 3 SFs since q160 landed); the
    * exponent is CLIPPED at 12 nats (identical `least` on both
    * engines) — e^12 ≈ 1.6e5× the uniform weight already saturates any
    * e4 budget allocation, and without the clip an alien domain's
    * weight overflows the share product (the planted CurationOpsSpec
    * case found exactly this). Everything downstream (e6 shares,
    * smoothing, largest-remainder budget) is integer-exact. Windows
    * run over the #sources mix table only. */
  def domainReweightExp(docs: DataFrame, budget: Long = 10000L,
                        eta: Long = 4L, smoothPct: Long = 1L): DataFrame =
    expTail(klBySource(docs), budget, eta, smoothPct)

  /** q187 over an already-materialized type-count frame (the memoized
    * registration path). */
  private def domainReweightExpSt(st: DataFrame, budget: Long = 10000L,
                                  eta: Long = 4L, smoothPct: Long = 1L): DataFrame =
    expTail(klFromCounts(st), budget, eta, smoothPct)

  /** The q187 tail over an already-built excess-loss frame — split out
    * so q229's second round can anchor on round 1 WITHOUT re-scanning
    * the corpus for it (the shared typeCountsOf frame feeds both). */
  private def expTail(kl: DataFrame, budget: Long,
                      eta: Long, smoothPct: Long): DataFrame = {
    val all = Window.partitionBy(lit(0))
    val byRem = Window.partitionBy(lit(0))
      .orderBy(col("rem").desc, col("source"))
    kl
      .withColumn("w_exp_e6",
        expr(s"cast(round(1e6 * exp(least($eta * kl_e9 / 1e9, 12.0d))) as bigint)"))
      .withColumn("totw", sum("w_exp_e6").over(all))
      .withColumn("nsrc", count(lit(1)).over(all))
      .withColumn("share_e6", expr("(1000000L * w_exp_e6) div totw"))
      .withColumn("alpha_e6", expr(
        s"((100 - $smoothPct) * share_e6) div 100 + " +
          s"($smoothPct * (1000000L div nsrc)) div 100"))
      .withColumn("tot", sum("alpha_e6").over(all))
      .withColumn("quota", expr(s"($budget * alpha_e6) div tot"))
      .withColumn("rem", expr(s"($budget * alpha_e6) % tot"))
      .withColumn("leftover", lit(budget) - sum("quota").over(all))
      .withColumn("rk", row_number().over(byRem))
      .selectExpr("source", "n_tokens", "kl_e9", "w_exp_e6", "share_e6",
        "alpha_e6", "quota + if(rk <= leftover, 1, 0) AS alloc")
      .orderBy("source")
  }

  /** q229 — the DoReMi PROXY-TRAINING second round (Xie et al. 2023
    * Algorithm 1 iterated — the reference-model re-fit between rounds
    * that q187's scaladoc documented as out of scope, now in its
    * measurable fixed-point form): the round-1 smoothed mixture α
    * (q187's own chain) RE-FITS the reference unigram distribution as
    * the α-weighted mixture of per-source type distributions, the
    * excess loss is recomputed against THAT reference (KL(P_s ‖
    * P_mix) — the domain the new reference under-serves has headroom
    * again), and the multiplicative update runs once more FROM the
    * round-1 weights: w2 ∝ α · exp(η·KL2), then the paper's 1% uniform
    * smoothing and the largest-remainder budget.
    *
    * Integer discipline: the mixture mass per type is an EXACT
    * integer — mix_t = Σ_s α_e6(s) · p_e9(s,t) with p_e9 = max(1,
    * (c_st·1e9) div n_s). The e9 grid flooring is deterministic on
    * both engines (positive `div` ≡ `//`); the 1-floor keeps rare
    * types' mass nonzero (at corpus scales where a source exceeds 1e9
    * tokens the grid coarsens and the floor binds — stated, not
    * hidden; widen the grid constant there). ln() then consumes
    * IDENTICAL integers on both engines and each (source, type) term
    * is e9-rounded before the per-source sum (the q179 convention).
    * The update product rescales once — w2_e6 = (α_e6 · exp_e6) div
    * 1e6 — so every downstream share/quota stays inside Long.
    * Scale: one extra type-keyed join + one type-marginal aggregate
    * over the (source, type) count frame the round-1 chain already
    * builds; every window rides the #sources mix table. */
  def domainReweightRound2(docs: DataFrame, budget: Long = 10000L,
                           eta: Long = 4L, smoothPct: Long = 1L): DataFrame =
    domainReweightRound2St(typeCountsOf(docs), budget, eta, smoothPct)

  /** q229 over an already-materialized type-count frame (the memoized
    * registration path). */
  private def domainReweightRound2St(st: DataFrame, budget: Long = 10000L,
                                     eta: Long = 4L, smoothPct: Long = 1L): DataFrame = {
    val all = Window.partitionBy(lit(0))
    val byRem = Window.partitionBy(lit(0))
      .orderBy(col("rem").desc, col("source"))
    // ONE materialized type-count frame feeds round 1's excess loss AND
    // round 2's mixture/excess chains (the corpus is scanned once)
    val r1 = expTail(klFromCounts(st), budget, eta, smoothPct)
      .select("source", "alpha_e6")
    val bySource = st.groupBy("source").agg(sum("c_st").as("n_s"))
    val p = st.join(broadcast(bySource), "source")
      .selectExpr("source", "t", "c_st", "n_s",
        "greatest(1L, (c_st * 1000000000L) div n_s) AS p_e9")
    val mix = p.join(broadcast(r1), "source")
      .groupBy("t").agg(sum(expr("alpha_e6 * p_e9")).as("mix_t"))
    val mixtot = mix.agg(sum("mix_t").as("mixtot"))
    val kl2 = p.join(mix, "t")
      .crossJoin(broadcast(mixtot))
      .selectExpr("source", "n_s",
        "cast(round(1e9 * (c_st / cast(n_s as double)) * " +
          "(ln(c_st) - ln(n_s) - ln(mix_t) + ln(mixtot))) as bigint) AS term_e9")
      .groupBy("source")
      .agg(max("n_s").as("n_tokens"), sum("term_e9").cast("long").as("kl2_e9"))
    kl2.join(broadcast(r1), "source")
      .withColumn("w2exp_e6",
        expr(s"cast(round(1e6 * exp(least($eta * kl2_e9 / 1e9, 12.0d))) as bigint)"))
      .withColumn("w2_e6", expr("(alpha_e6 * w2exp_e6) div 1000000L"))
      .withColumn("totw", sum("w2_e6").over(all))
      .withColumn("nsrc", count(lit(1)).over(all))
      .withColumn("share2_e6", expr("(1000000L * w2_e6) div totw"))
      .withColumn("alpha2_e6", expr(
        s"((100 - $smoothPct) * share2_e6) div 100 + " +
          s"($smoothPct * (1000000L div nsrc)) div 100"))
      .withColumn("tot", sum("alpha2_e6").over(all))
      .withColumn("quota", expr(s"($budget * alpha2_e6) div tot"))
      .withColumn("rem", expr(s"($budget * alpha2_e6) % tot"))
      .withColumn("leftover", lit(budget) - sum("quota").over(all))
      .withColumn("rk", row_number().over(byRem))
      .selectExpr("source", "n_tokens", "kl2_e9", "alpha_e6", "w2_e6",
        "share2_e6", "alpha2_e6", "quota + if(rk <= leftover, 1, 0) AS alloc")
      .orderBy("source")
  }

  /** Benchmark decontamination: flag training documents sharing any
    * `gram`-token shingle with a held-out eval set (here: every
    * `evalMod`-th doc stands in for the benchmark). The standard
    * n-gram-overlap test pretraining pipelines run before training.
    *
    * Scale shape: the eval shingle set is benchmark-sized (small) —
    * Spark broadcasts it into a LEFT SEMI hash join against the exploded
    * training shingles; the corpus itself never shuffles. */
  /** (doc_id, sh: array<string>) word `gram`-grams per doc — guarded:
    * sequence(1, 0) is DESCENDING in Spark, so short docs must
    * short-circuit to an empty shingle list instead. Shared by the
    * batch decontamination and the streaming fold's static probes. */
  private def gramSets(docs: DataFrame, gram: Int): DataFrame = docs
    .selectExpr("doc_id", s"$sparkToks AS toks")
    .selectExpr("doc_id",
      s"CASE WHEN size(toks) >= $gram THEN " +
      s"transform(sequence(1, size(toks) - ${gram - 1}), i -> concat_ws(' ', slice(toks, i, $gram))) " +
      "ELSE array() END AS sh")

  /** Distinct word `gram`-grams of `docs` (doc_id, text) — the static
    * benchmark shingle artifact a streaming decontamination probes
    * ([[graft.streaming.CurationStream]]); in production this is built
    * once from the held-out benchmark and broadcast to every batch. */
  def evalShingleSet(docs: DataFrame, gram: Int = 6): DataFrame =
    gramSets(docs, gram)
      .select(explode_outer(col("sh")).as("shingle"))
      .where("shingle IS NOT NULL").distinct()

  /** The broadcast-safe row bound the decontamination family's forced
    * `broadcast()` hints assume of their eval-side frames. ~2M shingle
    * strings ≈ 100–200 MB as a broadcast hash relation — the upper edge
    * of what an executor comfortably holds; real benchmark suites are
    * orders of magnitude smaller. */
  val BoundedEvalRows: Long = 1L << 21

  /** Per-(session, canonicalized plan) memo of eval-frame row counts —
    * the r17 verdict's What's-wrong #3: the eval frames behind the
    * decontam gates are session-constant, but the original in-plan
    * guard re-evaluated each eval subplan for its 1-row count per leg
    * per rep (q183 paid +0.79 s for the r16 contract enforcement). The
    * canonicalized logical plan keys semantically-identical frames
    * built on different calls to the same gate, so each distinct eval
    * frame is counted ONCE per session (the bigram-LM memo precedent);
    * Memos-cold re-pays it. */
  private val evalCountMemo = Memos.planMemo[Long]

  /** Memoizing a row count is only sound for frames whose inputs cannot
    * change under the session: a frame scanning a MUTABLE store table
    * (the DSv2 graft store — the repo's incremental/streaming ingest
    * paths append to it mid-session) canonicalizes identically before
    * and after a write, so a stale memoized count would let
    * [[boundedBroadcast]] wave through a frame that has since grown past
    * the bound — the exact OOM the contract exists to prevent. Frames
    * with a DSv2 or streaming leaf therefore SKIP the memo and re-count
    * at every guard evaluation (the registered gates all read immutable
    * driver parquet, so none of them pays this). */
  private def sessionConstant(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    !plan.exists {
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 => true
      case _ => false
    }

  private def evalCountFor(frame: DataFrame): Long = {
    val analyzed = frame.queryExecution.analyzed
    if (!sessionConstant(analyzed)) frame.count()
    else evalCountMemo((frame.sparkSession, analyzed.canonicalized))(frame.count())
  }

  /** Broadcast `frame` with the bounded-eval CONTRACT ENFORCED — the
    * decontamination gates hint `broadcast()` on their eval-side frames
    * because a benchmark set is tiny and fixed in production, and a
    * caller whose "eval set" is actually carved from (and grows with)
    * the corpus would ride the hint straight into a driver/executor
    * OOM. The eval frame is counted once per (session, frame) via
    * [[evalCountFor]] and the guard throws loudly when the frame
    * exceeds `maxRows`, naming the contract and the fix — BEFORE any
    * broadcast is even planned (the eager driver-side form of the r16
    * raise_error guard, memoized so the pipelines stop re-paying eval
    * subplan counts per leg per rep). In-bounds frames pass through
    * UNTOUCHED — `broadcast(frame)` verbatim — so every decontam
    * oracle hash is unchanged by construction. */
  private[graft] def boundedBroadcast(op: String, frame: DataFrame,
      maxRows: Long = BoundedEvalRows): DataFrame = {
    val n = evalCountFor(frame)
    if (n > maxRows) throw new IllegalStateException(
      s"$op: eval/probe frame exceeds the broadcast-safe bound " +
        s"($maxRows rows; got $n) — the bounded-eval contract is " +
        "violated; shrink the benchmark set or switch this gate to the " +
        "shuffled-join path")
    broadcast(frame)
  }

  /** Per-doc contamination flags of `docs` (doc_id, text) against a
    * prebuilt (broadcast-sized) `evalShingles` set — the side-input
    * form of [[decontaminate]] for callers whose eval set is fixed
    * upfront rather than carved from the same frame. The broadcast is
    * contract-guarded ([[boundedBroadcast]]). */
  def decontaminateAgainst(docs: DataFrame, evalShingles: DataFrame,
      gram: Int = 6, maxEvalRows: Long = BoundedEvalRows): DataFrame = {
    val sh = gramSets(docs, gram)
    val contaminated = sh
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .where("shingle IS NOT NULL")
      .join(boundedBroadcast("decontaminateAgainst", evalShingles, maxEvalRows),
        Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    sh.select("doc_id")
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .selectExpr("doc_id", "coalesce(contaminated, false) AS contaminated")
  }

  /** SURGICAL benchmark decontamination (q216): where [[decontaminate]]
    * DROPS a contaminated document whole, this CUTS only the
    * contaminated spans — every position whose `gram`-token window
    * appears in the eval shingle set marks [pos, pos+gram), overlapping
    * marks merge per doc, and ALL matches are removed (the
    * remove-overlapping-sequences discipline reported for large
    * pretraining runs, e.g. PaLM's n-gram benchmark scrub — the doc's
    * clean remainder stays trainable instead of being sacrificed).
    * Output is the q152/q204 cut surface: (doc_id, n_tokens, n_removed,
    * clean_fp) for every input doc. The eval set rides the
    * bounded-broadcast contract; the probe is one scan → explode →
    * broadcast semi-join → the shared merge/rebuild — the corpus never
    * shuffles on anything wider than doc_id. */
  def decontamScrub(docs: DataFrame, evalShingles: DataFrame,
      gram: Int = 6, maxEvalRows: Long = BoundedEvalRows): DataFrame = {
    val t = docs.selectExpr("doc_id", s"$sparkToks AS toks")
    Dedup.cutSpans(t, scrubSpans(t, evalShingles, gram, maxEvalRows))
  }

  /** The scrub as a REWRITE — (doc_id, text_kept) for every input doc,
    * every eval-contaminated span cut — the form the curation pipeline
    * COMPOSES (q221 swaps it in for the whole-doc decontamination drop,
    * the [[SuffixDedup.suffixCutText]] convention applied to q216's
    * standalone audit surface). */
  def decontamScrubText(docs: DataFrame, evalShingles: DataFrame,
      gram: Int = 6, maxEvalRows: Long = BoundedEvalRows): DataFrame = {
    val t = docs.selectExpr("doc_id", s"$sparkToks AS toks")
    Dedup.cutSpansKept(t, scrubSpans(t, evalShingles, gram, maxEvalRows))
      .selectExpr("doc_id", "array_join(kept, ' ') AS text_kept")
  }

  /** The eval-shingle position matches as a (doc_id, s, e) span frame —
    * shared by the fingerprint ([[decontamScrub]]) and rewrite
    * ([[decontamScrubText]]) surfaces, so the two can never cut
    * differently. */
  private def scrubSpans(t: DataFrame, evalShingles: DataFrame,
      gram: Int, maxEvalRows: Long): DataFrame =
    t.where(s"size(toks) >= $gram")
      .selectExpr("doc_id", "toks",
        s"explode(sequence(1, size(toks) - ${gram - 1})) AS pos")
      .selectExpr("doc_id", "pos",
        s"concat_ws(' ', slice(toks, cast(pos as int), $gram)) AS shingle")
      .join(boundedBroadcast("decontamScrub", evalShingles, maxEvalRows),
        Seq("shingle"), "left_semi")
      .selectExpr("doc_id", "pos AS s", s"pos + $gram AS e")

  def decontaminate(docs: DataFrame, gram: Int = 6, evalMod: Long = 97,
      maxEvalRows: Long = BoundedEvalRows): DataFrame = {
    val sh = gramSets(docs, gram)
    // explode_outer + post-filter, NOT explode: explode's implicit
    // `size(sh) > 0` filter gets pushed below the projection with the
    // whole shingle transform substituted in — the interpreted HOF would
    // run twice per row (observed in the post-scan filters)
    val evalSh = sh.where(s"doc_id % $evalMod = 3")
      .select(explode_outer(col("sh")).as("shingle"))
      .where("shingle IS NOT NULL").distinct()
    val train = sh.where(s"doc_id % $evalMod != 3")
    val contaminated = train
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .where("shingle IS NOT NULL")
      // the test carve (1/97 of the corpus) GROWS with SF — exactly the
      // shape the guard exists for; production replaces the carve with
      // a fixed benchmark registry and the hint is genuinely safe
      .join(boundedBroadcast("decontaminate", evalSh, maxEvalRows),
        Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    train.select("doc_id")
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .selectExpr("doc_id", "coalesce(contaminated, false) AS contaminated")
  }

  /** Bloom-prefiltered exact-hash decontamination: drop every training
    * document whose text fingerprint appears in the eval set, WITHOUT
    * shuffling the corpus.
    *
    * The plain spelling is a corpus-wide anti-join on the fingerprint —
    * at 100 TB that is a full shuffle of the training side. Here the
    * eval fingerprints are folded into a Bloom filter (distributed
    * build via treeAggregate, sketch-sized result on the driver) and
    * probed by a native codegen'd expression in the scan: rows the
    * filter rejects are DEFINITELY clean (no false negatives), so only
    * the candidate sliver — true matches plus the fpp share — reaches
    * the exact confirm join against the broadcast eval set. The result
    * is byte-identical to the plain anti-join; only the data movement
    * changes: full-corpus shuffle → narrow map + candidate-sized
    * broadcast join.
    *
    * Fingerprint is the portable 48-bit hash (`Portable.sparkHash48`),
    * so the DuckDB twin reproduces the join exactly. */
  def bloomDecontaminate(train: DataFrame, evalDocs: DataFrame,
                         fpp: Double = 0.01,
                         maxEvalRows: Long = BoundedEvalRows): DataFrame = {
    val t = train.selectExpr("doc_id", s"${sparkHash48("text")} AS fp")
    val e = evalDocs.selectExpr(s"${sparkHash48("text")} AS fp").distinct()
    // the eval cardinality is already needed for the filter sizing —
    // enforce the bounded-eval contract on it directly, through the
    // same per-(session, frame) count memo the broadcast guard uses
    val nEval = evalCountFor(e)
    require(nEval <= maxEvalRows,
      s"bloomDecontaminate: eval frame exceeds the broadcast-safe bound " +
        s"($maxEvalRows rows; got $nEval) — the bounded-eval contract " +
        "is violated; shrink the benchmark set or switch to the shuffled-join path")
    val bloom = e.stat.bloomFilter("fp", math.max(1L, nEval), fpp)
    val might = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.BloomMightContainLong(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("fp")), bloom))
    val flagged = t.withColumn("might", might)
    val definitelyClean = flagged.where(!col("might")).select("doc_id", "fp")
    val confirmedClean = flagged.where(col("might"))
      .join(broadcast(e), Seq("fp"), "left_anti") // bounded by the require above
      .select("doc_id", "fp")
    definitelyClean.unionByName(confirmedClean).select("doc_id")
  }

  /** Per-source cap, best-first: keep at most `cap` documents per source
    * ranked by descending length (a quality proxy), ties by doc_id — the
    * per-domain cap crawl curation applies so no single site dominates
    * the mix. One shuffle on source; `WindowGroupLimit` pre-filters
    * map-side before the exchange. */
  def sourceCap(docs: DataFrame, cap: Int = 15): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .where(s"rk <= $cap")
      .selectExpr("doc_id", "source", "n_chars", "cast(rk as bigint) AS rk")
  }

  /** Token-budget mixture sampling (q142): each source contributes its
    * BEST documents (by the q141 classifier score, ties by doc_id) up to
    * a per-source token budget — the greedy prefix-under-budget selection
    * a mixture builder runs after scoring, composing quality ranking with
    * token accounting. A doc is kept iff its whole token count still fits
    * (cumulative ≤ budget), so the artifact is reproducible: no partial
    * docs, no RNG.
    *
    * Scale shape: ONE window shuffle partitioned by source — ordering is
    * per source, never global, so the largest sort is one source's docs.
    * For a pathological single mega-source the two-phase form (score
    * histogram → threshold, then one filter pass) replaces the sort; the
    * per-source window is the exact-semantics default. */
  def budgetSample(docs: DataFrame, budget: Long = 800L): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("score_e3").desc, col("doc_id"))
    docs.selectExpr("doc_id", "source", s"$sparkToks AS toks")
      .where("size(toks) > 0")
      .selectExpr("doc_id", "source",
        "cast(size(toks) as bigint) AS n_tokens",
        s"${TextAnalysis.classifierScoreE3} AS score_e3")
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .where(s"cum_tokens <= $budget")
      .orderBy("source", "cum_tokens")
  }

  /** Split novelty audit (q146): for every NON-train document of the q12
    * split, the share of its distinct word-2gram shingles that never
    * occur in ANY train document — the pre-eval memorization check that
    * quantifies how much of the held-out set the model has effectively
    * already seen (novelty 0 = the eval doc is pure train content; the
    * doc-level complement of the q62/q93/q125 decontamination family,
    * measured from the EVAL side).
    *
    * Scale shape: one corpus scan builds labeled shingles; the train
    * shingle set is corpus-scale so membership is a SHUFFLE join keyed
    * on the shingle (honest at 100 TB — both sides hash-partition once;
    * a Bloom pre-filter (q93) cuts the probe volume when the novel
    * fraction is high), then one per-doc aggregate. */
  def splitNovelty(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), col("text"))
      .withColumn("split", Relational.splitLabel(col("doc_id")))
      .where(s"size($sparkToks) >= 2")
      .selectExpr("doc_id", "split", s"$sparkToks AS toks")
      .selectExpr("doc_id", "split",
        "explode(array_distinct(transform(sequence(0, size(toks) - 2), " +
        "i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2))))) AS sh")
    val trainSh = sh.where("split = 'train'").select("sh").distinct()
      .withColumn("seen", lit(true))
    sh.where("split <> 'train'")
      .join(trainSh, Seq("sh"), "left")
      .groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_e4",
        expr("cast(round(1e4 * n_novel / n_shingles) as bigint)"))
      .orderBy("doc_id")
  }

  /** Per-source token entropy (q148) — the corpus-diversity metric a
    * mixture designer reads next to the q135 domain-shift score: Shannon
    * entropy of each source's token distribution, plus its normalized
    * form H/ln(V) ∈ [0,1] (1 = uniform over the source's vocabulary, low
    * = a few tokens dominate — the boilerplate/templated-content smell).
    * Per-type terms −p·ln(p) round to e9 BEFORE the per-source sum (the
    * house transcendental convention), so the score is summation-order
    * independent and cross-engine exact.
    *
    * Scale shape: one explode → ONE map-side-combined aggregate keyed
    * (source, token); the window that attaches per-source totals runs
    * over TYPE rows (vocabulary-sized per source, not corpus-sized);
    * output is #sources rows. */
  def sourceEntropy(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
    docs.selectExpr("source", s"explode($sparkToks) AS tok")
      .where("tok <> ''")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .withColumn("tot", sum("c").over(w))
      .selectExpr("source", "tot",
        "cast(round(1e9 * -(c / cast(tot as double)) * ln(c / cast(tot as double))) as bigint) AS h_term_e9")
      .groupBy("source")
      .agg(max("tot").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum("h_term_e9").cast("long").as("entropy_e9"))
      .selectExpr("source", "n_tokens", "n_types", "entropy_e9",
        // V=1 ⇒ H/ln(V) is 0/0; a constant source is maximally
        // undiverse, so it reports 0 (and never divides)
        "CASE WHEN n_types > 1 THEN cast(round(1e4 * (entropy_e9 / 1e9) / ln(n_types)) as bigint) ELSE 0L END AS norm_e4")
      .orderBy("source")
  }

  /** DSIR-style importance selection (q150) — Data Selection via
    * Importance Resampling (Xie et al. 2023): score every raw document
    * by how target-like its hashed bag-of-trigrams is,
    * log w(x) = Σ_ngrams [ln p̂_target(b(g)) − ln p̂_raw(b(g))], with
    * trigrams feature-hashed into `buckets` bins and add-one smoothing
    * on both models, then keep the top `keepPct`% by per-ngram score
    * (a raw-drawn doc averages −KL(raw‖target) < 0, so a sign test
    * selects nothing — the published method resamples by RANK, and so
    * does this). Feature class chosen by MEASUREMENT on the testdata
    * corpus (all langs share one ~30-token vocabulary; only sequence
    * statistics differ): at sf0.1 unigram AUC-vs-en = 0.55, bigram
    * 0.69 (only ~900 bigram types exist — the model saturates, more
    * buckets don't help), trigram at 32k buckets = 0.98. The small-SF
    * bigram numbers looked fine (0.93) only through self-count
    * leakage — each doc's own mass in a 500-doc model; scale exposed
    * it, hence trigrams.
    * Target here = the English slice of the corpus (select
    * "more-English-like" docs from the mixed crawl); in a real
    * deployment it is a separate high-quality set — the plan is
    * identical, only the target scan's filter changes.
    *
    * Scale shape, two corpus scans total:
    *  1. LEARN: trigrams built IN-ARRAY (transform over the token
    *     array — never a posexplode+lag window, so no per-doc
    *     shuffle), exploded into one map-side-combined aggregate keyed
    *     by bucket — target and raw counts as two conditional sums in
    *     the SAME pass. The model is ≤`buckets` rows; totals are a
    *     1-row agg over it. Each bucket's log-ratio is e6-rounded AT
    *     THE MODEL (the house convention through a transcendental; ln
    *     operand order mirrors the oracle exactly), so every later
    *     addition is exact int64.
    *  2. SCORE: the `buckets`-row model rides a BROADCAST hash join
    *     onto the exploded feature scan (NOT a map literal — Catalyst
    *     literal-map lookup is a linear scan, O(buckets) per ngram),
    *     then one map-side-combined per-doc aggregate: the only
    *     corpus shuffle, carrying ~1 row per doc.
    *
    * Per-ngram score spb_e4 = floor(logw_e6 / (n_ngrams·1e2)) is
    * integer-exact cross-engine (the numerator stays < 2^53, IEEE
    * division is exactly rounded, floor of identical doubles). The cut
    * is the q114 med2x trick at the (100−keepPct)th percentile of
    * spb_e4 — a 1-row aggregate over the doc-level score frame (never a
    * corpus window sort), broadcast back; at 100 TB swap percentile for
    * approx_percentile and the plan is unchanged. */
  def dsirWeights(docs: DataFrame, buckets: Int = 32768,
                  keepPct: Int = 25): DataFrame =
    dsirWeightsFrom(dsirScored(docs, buckets), keepPct)

  private def dsirWeightsFrom(scored: DataFrame, keepPct: Int): DataFrame = {
    val thr = scored.agg(expr(
      s"cast(round(2 * percentile(spb_e4, ${(100 - keepPct) / 100.0})) as bigint) AS thr2x"))
    scored.crossJoin(broadcast(thr))
      .selectExpr("doc_id", "n_ngrams", "logw_e6", "spb_e4",
        "2 * spb_e4 >= thr2x AS keep")
      .orderBy("doc_id")
  }

  /** Session memo for the learn+score pass both DSIR gates consume —
    * the two corpus scans (model learn, feature score) run ONCE per
    * (session, dir, buckets); the checkpointed result is one ~5-column
    * row per doc. `Memos` clearing keeps cold-mode benches honest. */
  private val dsirMemo = Memos.memo[(SparkSession, String, Int), DataFrame](
    k => Tables.fingerprint(k._1, k._2))
  private def dsirScoredMemo(s: SparkSession, dir: String,
                             buckets: Int = 32768): DataFrame =
    dsirMemo((s, dir, buckets)) {
      dsirScored(Tables.documents(s, dir), buckets).localCheckpoint()
    }

  /** q150/q151 shared: learn the DSIR bucket model, score every doc.
    * Returns (doc_id, lang, n_ngrams, logw_e6, spb_e4) — lang rides
    * along for free so the AUC gate never re-joins the corpus. */
  private def dsirScored(docs: DataFrame, buckets: Int): DataFrame = {
    val ngramsE =
      "transform(sequence(1, size(toks) - 2), i -> concat(element_at(toks, i), '_', element_at(toks, i + 1), '_', element_at(toks, i + 2)))"
    val feats = docs
      .selectExpr("doc_id", "lang", s"$sparkToks AS toks")
      .where("size(toks) >= 3")
      .selectExpr("doc_id", "lang", s"explode($ngramsE) AS g")
      .selectExpr("doc_id", "lang",
        s"${sparkHash48("concat('dsir_', g)")} % $buckets AS bkt")
    val stats = feats.groupBy("bkt").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"),
      count(lit(1)).as("c_r"))
    val tot = stats.agg(sum("c_t").cast("long").as("n_t"),
      sum("c_r").cast("long").as("n_r"))
    val lr = stats.crossJoin(broadcast(tot))
      .selectExpr("bkt",
        s"cast(round(1e6 * (ln(c_t + 1) - ln(n_t + $buckets) - ln(c_r + 1) + ln(n_r + $buckets))) as bigint) AS lr_e6")
    feats.join(broadcast(lr), "bkt")
      .groupBy("doc_id").agg(
        first("lang").as("lang"),
        count(lit(1)).as("n_ngrams"),
        sum("lr_e6").cast("long").as("logw_e6"))
      .selectExpr("doc_id", "lang", "n_ngrams", "logw_e6",
        "cast(floor(logw_e6 / (n_ngrams * 1e2)) as bigint) AS spb_e4")
  }

  /** Exact ROC-AUC of the DSIR scorer against the English label (q151)
    * — the Mann-Whitney rank-sum with full tie handling, computed from
    * SCORE-BUCKETED counts so the corpus is never globally sorted:
    * group docs by spb_e4 (one map-side-combined aggregate → a
    * #distinct-scores frame, a few thousand rows however big the
    * corpus), cumulative negatives-below via a window over THAT frame,
    * then 2U = Σ_s n_pos(s)·(2·cumneg_below(s) + n_neg(s)) and
    * auc_e6 = (1e6·2U) div (2·Np·Nn) — all exact int64 at the gated
    * scale (Np·Nn overflows past ~3e9 docs; swap the final three
    * columns to DECIMAL(38,0) there, the plan is unchanged).
    *
    * This turns "the quality scorer separates the target" from a hope
    * into a REGRESSION-CHECKED number (the q131/q147 gate pattern):
    * floor_ok pins AUC ≥ `floorE6`. Measured 0.999/0.999/0.980 at
    * sf0.001/0.01/0.1 — the floor is set at 0.95 with headroom. */
  def dsirAuc(docs: DataFrame, buckets: Int = 32768,
              floorE6: Long = 950000L): DataFrame =
    dsirAucFrom(dsirScored(docs, buckets), floorE6)

  private def dsirAucFrom(scored: DataFrame, floorE6: Long): DataFrame = {
    val byScore = scored
      .groupBy("spb_e4").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nn"))
    val w = Window.partitionBy(lit(0)).orderBy("spb_e4")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cumneg", coalesce(sum("nn").over(w), lit(0L)))
      .agg(sum("np").cast("long").as("n_pos"),
        sum("nn").cast("long").as("n_neg"),
        sum(expr("np * (2 * cumneg + nn)")).cast("long").as("u2"))
      .selectExpr("n_pos", "n_neg",
        "(1000000 * u2) div (2 * n_pos * n_neg) AS auc_e6")
      .selectExpr("n_pos", "n_neg", "auc_e6",
        s"auc_e6 >= $floorE6 AS floor_ok")
  }

  // ---------------------------------------------------------------- queries

  /** RAG-style overlapping text chunking: windows of `size` chars every
    * `stride` chars (stride < size ⇒ overlap), last partial window kept.
    * Pure narrow map + generator — no shuffle at any scale; chunk count
    * per doc is ceil(len/stride), so output is linear in corpus bytes.
    * Emits md5 rather than the chunk text to keep result sets bounded. */
  def textChunks(docs: DataFrame, size: Int = 400, stride: Int = 300): DataFrame = {
    // one-pass custom Generator: the posexplode+substring spelling is
    // Θ(L²/stride) per NON-ASCII doc (substring seeks code points from
    // char 0; the ASCII fast path hides it until one emoji shows up).
    // ChunkGen decodes each document once regardless of content.
    import org.apache.spark.sql.graft.ColumnBridge
    docs.where("length(text) >= 1")
      .select(col("doc_id"), ColumnBridge.column(graft.plans.ChunkGen(
        ColumnBridge.expression(col("text")), size, stride))
        .as(Seq("chunk_idx", "start", "chunk")))
      .selectExpr(
        "doc_id", "chunk_idx", "start",
        "cast(length(chunk) as bigint) AS chunk_len",
        "md5(chunk) AS chunk_md5")
  }

  /** Global vocabulary top-k: token → corpus frequency, ties broken by
    * token text so the cut at k is deterministic. Partial-agg combine on
    * the flat-mapped tokens, then TakeOrdered — the classic two-phase
    * top-k that never materializes the full sorted vocab. */
  def vocabTopK(docs: DataFrame, k: Int = 50): DataFrame =
    docs.selectExpr(s"$sparkToks AS toks")
      .selectExpr("explode(toks) AS tok").where("tok != ''")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(k)

  /** Per-document top terms by integer-exact tf-idf: score_e6 =
    * tf·10^6 div df (idf as literal inverse document frequency — no
    * float log, so both engines agree to the last bit). Two partial
    * aggregations (tf on (doc,term), df on term) + one vocab join + a
    * per-doc window over ≤ vocab rows — every stage map-side combines,
    * and the window partitions by doc_id, so skew is bounded by
    * tokens-per-doc, not corpus size. */
  def tfidfTop(docs: DataFrame, topPerDoc: Int = 3): DataFrame = {
    val toks = docs.selectExpr("doc_id", s"$sparkToks AS toks")
      .selectExpr("doc_id", "explode(toks) AS tok").where("tok != ''")
    // ONE corpus pass and ONE wide exchange where the tf-groupBy /
    // df-groupBy / join spelling paid two corpus explodes and three:
    // hash-partitioning on the tok SUBSET satisfies the (doc_id, tok)
    // grouping (same-key rows are colocated), and df — the number of
    // distinct docs carrying tok, i.e. the number of tf rows per tok —
    // is a count window over that SAME partitioning, so neither the
    // second explode nor the tok-keyed join exchange exists. Skew is
    // unchanged vs the old plan: the join already shuffled tf by tok.
    val tf = toks.repartition(col("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val wd = Window.partitionBy("tok")
    val w = Window.partitionBy("doc_id").orderBy(desc("score_e6"), asc("tok"))
    tf.withColumn("df", count(lit(1)).over(wd))
      .selectExpr("doc_id", "tok", "tf", "df", "tf * 1000000 div df AS score_e6")
      .withColumn("rk", row_number().over(w)).where(s"rk <= $topPerDoc")
      .selectExpr("doc_id", "tok", "tf", "df", "score_e6", "cast(rk as bigint) AS rk")
  }

  /** Cross-document boilerplate removal (the C4/CCNet pattern): any
    * fixed-width token block occurring in more than `maxDocs` DISTINCT
    * documents is boilerplate (nav bars, cookie banners, license
    * headers) and is struck from EVERY document; each document is then
    * reassembled from its surviving blocks in order.
    *
    * Scale shape: one generator (no shuffle) explodes docs to blocks;
    * the boilerplate set is ONE partial-aggregated groupBy on the block
    * string (count-distinct of doc_id collapses map-side); the strike
    * is an equi-join back on the block; reassembly is one ordered
    * collect per doc — the per-group buffer holds one document. Nothing
    * here is quadratic and nothing collects to the driver, which is why
    * this exact shape (hash, count, join back) is what the published
    * web-scale pipelines run.
    *
    * Output fingerprints the cleaned text (portable md5) instead of
    * shipping it — the oracle hash-checks reconstruction byte-exactly
    * without megabyte rows. */
  def crossDocDedup(docs: DataFrame, blockWords: Int = 4, maxDocs: Long = 2): DataFrame = {
    val toks = docs.selectExpr("doc_id", s"$sparkToks AS toks")
    val blocks = toks.select(col("doc_id"), posexplode_outer(expr(
        s"""CASE WHEN size(toks) = 0 THEN array()
           | ELSE transform(sequence(0, cast(ceil(size(toks) / ${blockWords}.0) as int) - 1),
           |   i -> array_join(slice(toks, i * $blockWords + 1, $blockWords), ' ')) END""".stripMargin)))
      .toDF("doc_id", "i", "block")
      .where(col("i").isNotNull)
    val boiler = blocks.groupBy("block")
      .agg(countDistinct("doc_id").as("nd")).where(s"nd > $maxDocs")
      .select(col("block"), lit(1).as("bad"))
    blocks.join(boiler, Seq("block"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("bad").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(CASE WHEN bad IS NULL THEN struct(i, block) END)), x -> x.block), ' ')"))
          .as("clean_fp"))
  }

  /** Statistical-LM quality scoring (the CCNet/KenLM perplexity-filter
    * signal, made integer-exact): a bigram model trained on the corpus
    * itself scores every document by the MEAN corpus probability of its
    * bigrams — p(w2|w1) = c(w1,w2) / c(w1,·) in e6 fixed point (integer
    * division in both engines, no float log). Low score = improbable
    * word sequences, the docs a perplexity filter drops.
    *
    * Scale shape: bigram extraction is ONE window shuffle keyed by
    * doc_id (lag over position — never a token-level self-join); model
    * training is two partial-agg shuffles over bigram rows; scoring is
    * one equi-join on (w1,w2) + a per-doc aggregate. The model lives in
    * the cluster as a table — it is never collected. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val toks = docs.selectExpr("doc_id", s"$sparkToks AS toks")
      .select(col("doc_id"), posexplode(col("toks"))).toDF("doc_id", "pos", "w")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = toks.withColumn("w1", lag("w", 1).over(byPos))
      .where("w1 IS NOT NULL").selectExpr("doc_id", "w1", "w AS w2")
    val pairCnt = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val prefCnt = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val probs = pairCnt.join(prefCnt, "w1")
      .selectExpr("w1", "w2", "c12 * 1000000 div c1 AS p_e6")
    bigrams.join(probs, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(expr("sum(p_e6) div count(1)").as("lm_score_e6"),
        count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity filter: keep the top half of the corpus by
    * bigram-LM score — [[bigramLmScore]]'s integer-exact signal cut at
    * the corpus-wide exact median via [[quantileFilter]]'s med2x trick
    * (round(2·median) keeps the x.5 interpolated median of an even
    * corpus integer-comparable cross-engine). The published pipelines
    * (CCNet, Gopher, Llama) all run exactly this shape: train an LM on
    * the corpus (or a clean reference), score every doc, drop the
    * improbable tail. One extra 1-row broadcast over the q98 plan; at
    * 100 TB swap percentile → approx_percentile, plan unchanged — the
    * swap is REGISTERED as q210 (exact answers + sketch flags, the q47
    * pattern), not just documented. */
  def perplexityFilter(docs: DataFrame): DataFrame =
    perplexityFilterFrom(bigramLmScore(docs))

  /** q220 — the FILTER AGREEMENT matrix: pairwise agreement and
    * Cohen's κ between three independent quality signals every
    * curation run weighs — the Gopher REPETITION gate pair (q168
    * dup-lines ∧ q176 n-gram fractions; the q37 length/symbol rule
    * passes this corpus wholesale, so it would only contribute
    * degenerate all-true marginals), the q141 hashed CLASSIFIER's
    * keep, and the q130 perplexity-median cut — over their common
    * support. This is the standard filter-ensembling analysis (do the
    * cheap rules and the learned scorer agree? where does perplexity
    * dissent?) a team reads before choosing which gates to stack;
    * q215's funnel shows what each gate COSTS, this shows how much of
    * that cost is redundant.
    *
    * Determinism: the contingency counts are exact integers; κ's one
    * division chain runs in doubles with the IDENTICAL expression tree
    * on both engines (the soft-EM fixed-order convention — po, p1, q1
    * each computed once as columns, pe = (p1·q1) + ((1−p1)·(1−q1)),
    * κ_e4 = round(1e4·((po−pe)/(1−pe))), the degenerate pe = 1 case
    * pinned to 10000), so the e4 rounding cannot diverge. Agreement is
    * pure integer. Scale: three audited per-doc scans, one 1-row
    * contingency aggregate, three output rows. */
  def filterAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val rule = TextAnalysis.dupLines(docs.select("doc_id", "text"))
      .selectExpr("doc_id", "passes AS p_gl")
      .join(TextAnalysis.gopherNgrams(docs.select("doc_id", "text"))
        .selectExpr("doc_id", "passes AS p_gn"), "doc_id")
      .selectExpr("doc_id", "p_gl AND p_gn AS f_rule")
    val clf = TextAnalysis.hashedClassifier(docs)
      .selectExpr("doc_id", "keep AS f_clf")
    val scores = bigramScoresFor(s, dir)
    val med = scores.agg(
      expr("cast(round(2 * percentile(lm_score_e6, 0.5)) as bigint) AS med2x"))
    val ppl = scores.crossJoin(broadcast(med))
      .selectExpr("doc_id", "lm_score_e6 * 2 >= med2x AS f_ppl")
    val joined = rule.join(clf, "doc_id").join(ppl, "doc_id")
    // coalesce: SUM over zero rows is NULL; the n = 0 row must carry
    // integer-0 marginals (not half-pinned NULLs) to match the comment
    // below and the twin's COALESCE
    def c(e: String) = coalesce(sum(expr(s"IF($e, 1L, 0L)")), lit(0L))
    val a = joined.agg(count(lit(1)).as("n"),
      c("f_rule AND f_clf").as("rc11"), c("f_rule AND NOT f_clf").as("rc10"),
      c("NOT f_rule AND f_clf").as("rc01"),
      c("f_rule AND f_ppl").as("rp11"), c("f_rule AND NOT f_ppl").as("rp10"),
      c("NOT f_rule AND f_ppl").as("rp01"),
      c("f_clf AND f_ppl").as("cp11"), c("f_clf AND NOT f_ppl").as("cp10"),
      c("NOT f_clf AND f_ppl").as("cp01"))
    kappaTail(a.selectExpr(
        """explode(array(
          |  named_struct('pair', 'clf_ppl', 'n', n, 'n11', cp11, 'n10', cp10, 'n01', cp01),
          |  named_struct('pair', 'rep_clf', 'n', n, 'n11', rc11, 'n10', rc10, 'n01', rc01),
          |  named_struct('pair', 'rep_ppl', 'n', n, 'n11', rp11, 'n10', rp10, 'n01', rp01))) AS e""".stripMargin)
      .selectExpr("e.pair AS pair", "e.n AS n", "e.n11 AS n11",
        "e.n10 AS n10", "e.n01 AS n01"), "pair")
  }

  /** The shared Cohen's-κ tail (q220's fixed-order expression tree,
    * consumed by q220/q225/q230 so the κ arithmetic can never fork):
    * input rows (key, n, n11, n10, n01) → n00 derived, po/p1/q1/pe in
    * fixed-order doubles, agree_e4/kappa_e4 with the degenerate pins —
    * n = 0 (empty common support) exactly like pe = 1: the marginals
    * are defined as 0, so pe = 1 and the κ arm emits 10000; agree
    * carries its own guard (vacuous agreement) — no null/ANSI division
    * ever reaches the output on either engine. */
  private[operators] def kappaTail(e: DataFrame, key: String): DataFrame =
    e.selectExpr(key, "n", "n11", "n10", "n01",
        "n - n11 - n10 - n01 AS n00")
      .selectExpr(key, "n", "n11", "n10", "n01", "n00",
        "IF(n = 0, 0.0d, CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)) AS po",
        "IF(n = 0, 0.0d, CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)) AS p1",
        "IF(n = 0, 0.0d, CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) AS q1")
      .selectExpr(key, "n", "n11", "n10", "n01", "n00", "po",
        "(p1 * q1) + ((1.0d - p1) * (1.0d - q1)) AS pe")
      .selectExpr(key, "n", "n11", "n10", "n01", "n00",
        "IF(n = 0, 10000L, (10000 * (n11 + n00)) div n) AS agree_e4",
        "IF(1.0d - pe = 0.0d, 10000L, " +
          "cast(round(1e4 * ((po - pe) / (1.0d - pe))) as bigint)) AS kappa_e4")
      .orderBy(key)

  /** The κ tail's DuckDB twin — `src` emits (key, n, n11, n10, n01);
    * the fragment ends the query (k/k2/k3 + the final SELECT). */
  private[operators] def duckKappaTail(key: String, src: String): String =
    s"""k AS (
       |  SELECT $key, n, n11, n10, n01, n - n11 - n10 - n01 AS n00 FROM $src),
       |k2 AS (
       |  SELECT *,
       |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) END AS po,
       |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE) END AS p1,
       |    CASE WHEN n = 0 THEN 0.0 ELSE CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE) END AS q1
       |  FROM k),
       |k3 AS (SELECT *, (p1 * q1) + ((1.0 - p1) * (1.0 - q1)) AS pe FROM k2)
       |SELECT $key, n, n11, n10, n01, n00,
       |  CASE WHEN n = 0 THEN 10000 ELSE (10000 * (n11 + n00)) // n END AS agree_e4,
       |  CASE WHEN 1.0 - pe = 0.0 THEN 10000
       |    ELSE CAST(round(1e4 * ((po - pe) / (1.0 - pe))) AS BIGINT) END AS kappa_e4
       |FROM k3 ORDER BY $key""".stripMargin

  /** q225 — the CALIBRATION-DECILE × classifier agreement family
    * (q220's pairwise-κ analysis deepened one axis): does the q141
    * classifier's keep track the perplexity DECILE, or only the q130
    * median cut? The bigram-LM scores split into rank-based deciles
    * (the q191 ntile convention, corpus-wide), and for every head cut
    * k = 1..9 the binary rater "decile ≤ k" is κ-scored against the
    * classifier keep over their common support — a row family whose
    * shape (κ by cut depth) is the analysis that decides whether
    * q199's calibration adds signal over q141's binary keep (flat κ ≈
    * κ(median): the decile axis is redundant; κ peaked off-center:
    * the scorer separates head from tail somewhere the median doesn't).
    *
    * Determinism: deciles are rank-integer (distributedNtile ≡ SQL
    * NTILE, the q191-gated equivalence); the contingencies are exact
    * integer sums; κ runs the IDENTICAL fixed-order double expression
    * tree as q220 (n = 0 and pe = 1 pinned the same way). Scale: the
    * shared memoized score frame + one distributed-rank pass + ONE
    * 1-row contingency aggregate carrying all 9 cuts; output 9 rows. */
  def decileAgreement(s: SparkSession, dir: String): DataFrame =
    decileAgreementFrom(
      bigramScoresFor(s, dir).select("doc_id", "lm_score_e6"),
      TextAnalysis.hashedClassifier(Tables.documents(s, dir))
        .selectExpr("doc_id", "keep AS f_clf"))

  /** The q225 core over arbitrary (doc_id, lm_score_e6) and
    * (doc_id, f_clf) frames — the spec drives planted-correlation
    * corpora through the REAL operator here. */
  private[graft] def decileAgreementFrom(scores: DataFrame,
      clf: DataFrame): DataFrame = {
    val dec = Relational.distributedNtile(
      scores, 10, Seq.empty, Seq(col("lm_score_e6").desc, col("doc_id")),
      tileCol = "decile")
    val j = dec.join(clf, "doc_id").selectExpr("decile", "f_clf")
    val cuts = 1 to 9
    // coalesce: the n = 0 (empty common support) row is fully
    // integer-pinned — SUM over zero rows is NULL, the contract is 0
    val aggs = cuts.flatMap { k => Seq(
      coalesce(sum(expr(s"IF(decile <= $k AND f_clf, 1L, 0L)")), lit(0L)).as(s"a$k"),
      coalesce(sum(expr(s"IF(decile <= $k AND NOT f_clf, 1L, 0L)")), lit(0L)).as(s"b$k"),
      coalesce(sum(expr(s"IF(decile > $k AND f_clf, 1L, 0L)")), lit(0L)).as(s"c$k")) }
    val rows = cuts.map(k =>
      s"named_struct('cut', ${k}L, 'n', n, 'n11', a$k, 'n10', b$k, 'n01', c$k)")
      .mkString(",\n")
    kappaTail(j.agg(count(lit(1)).as("n"), aggs: _*)
      .selectExpr(s"explode(array(\n$rows)) AS e")
      .selectExpr("e.cut AS cut", "e.n AS n", "e.n11 AS n11",
        "e.n10 AS n10", "e.n01 AS n01"), "cut")
  }

  private def perplexityFilterFrom(scores: DataFrame): DataFrame = {
    val med = scores.agg(
      expr("cast(round(2 * percentile(lm_score_e6, 0.5)) as bigint) AS med2x"))
    scores.crossJoin(broadcast(med))
      .where(col("lm_score_e6") * 2 >= col("med2x"))
      .select("doc_id", "lm_score_e6", "n_bigrams", "med2x")
  }

  /** Session memo of the q98 score frame — FOUR gates consume the
    * identical bigram-LM signal (q98, q130's median cut, q191's
    * terciles, q200's head share), and the pair/prefix model join was
    * being re-trained per query (the dsirScoredMemo precedent; one
    * ~3-column row per doc checkpointed). */
  private val bigramMemo = Memos.dirMemo[DataFrame]
  private[graft] def bigramScoresFor(s: SparkSession, dir: String): DataFrame =
    bigramMemo((s, dir)) {
      bigramLmScore(Tables.documents(s, dir)).localCheckpoint()
    }

  /** q191 — CCNet's head/middle/tail quality buckets (Wenzek et al.
    * 2020 §4.3): rather than a hard keep/drop (q130's median cut), the
    * published pipeline SPLITS each language into perplexity terciles
    * and ships all three — downstream consumers choose how deep into
    * the tail to train. Score = the shared integer bigram-LM signal
    * (q98's chain; HIGH score = probable text, so bucket 1 = head);
    * the tercile is rank-based `ntile(3)` over (score DESC, doc_id) —
    * integer-exact by construction (no percentile interpolation to
    * keep cross-engine), identical floor/ceil group sizing in both
    * engines.
    *
    * Scale: spelled with the distributed-rank helper
    * ([[Relational.distributedNtile]] grouped by lang) — at web scale
    * ONE language is most of the corpus, so even a lang-partitioned
    * window is a corpus-sized sort on one task (the r16 verdict's
    * q191 caveat); here every window is partition-local over the
    * range exchange and nothing is corpus-sized anywhere. The
    * sampled-cutpoint sibling (q209) is the registered cheaper
    * approximation beside this exact form (the q106↔q156 convention). */
  def ccnetBuckets(docs: DataFrame): DataFrame =
    ccnetBucketsFrom(bigramLmScore(docs), docs)

  /** Per-(session, sfDir) memo of the q191 tercile assignment — the
    * bigramLm-memo convention one level up: the distributed-rank pass
    * (range exchange + partition counts + offsets) is paid ONCE and
    * served to every consumer (q191 itself, q200's head-share column,
    * repeat bench reps at serving cost). Before the memo the r17 bench
    * priced the helper's exactness swap at +0.5 s PER CONSUMER RUN
    * (q191 0.15 → 0.66, q200 +1.09 via its re-derived chain) — the
    * scale trade is kept, the repetition is not. */
  private val ccnetMemo = Memos.dirMemo[DataFrame]
  private[graft] def ccnetBucketsFor(s: SparkSession, dir: String): DataFrame =
    ccnetMemo((s, dir)) {
      ccnetBucketsFrom(bigramScoresFor(s, dir), Tables.documents(s, dir))
        .localCheckpoint()
    }

  private[graft] def ccnetBucketsFrom(scores: DataFrame, docs: DataFrame): DataFrame =
    Relational.distributedNtile(
        scores.join(docs.select("doc_id", "lang"), "doc_id")
          .select("doc_id", "lang", "lm_score_e6"),
        3, Seq("lang"), Seq(col("lm_score_e6").desc, col("doc_id")),
        tileCol = "bucket")
      .select("doc_id", "lang", "lm_score_e6", "bucket")
      .orderBy("doc_id")

  /** q209 — the q191 terciles from SAMPLED per-lang cutpoints (the
    * registered approx sibling, the q106↔q156 convention): per lang,
    * the sorted deterministic 25%-hash-sample's values at integer
    * ranks ⌈m/3⌉ and ⌈2m/3⌉ (discrete-rank, never interpolated — the
    * q208 cross-engine rounding argument), doubled into the 2× integer
    * domain and broadcast (#langs rows × 2 longs); bucket = 1 +
    * #{cuts above 2·score}, a narrow map. No rank, no window — the
    * plan a 100 TB per-lang bucketing actually runs. A lang absent
    * from the sample defaults its docs to bucket 1 (empty cut list) on
    * BOTH engines. Sampled terciles are approximately even;
    * QuantileSpec measures assignment agreement against exact q191.
    *
    * The keep rate is DERIVED from the corpus count
    * ([[TextAnalysis.derivedKeepSql]] against the TOTAL scored rows —
    * the per-lang buffers share one absolute budget,
    * [[TextAnalysis.SampleRowCap]]), so the buffered sample state never
    * grows with the corpus; the twin replays the identical integer
    * derivation from COUNT(*). */
  private[graft] def ccnetBucketsSampled(scores: DataFrame, docs: DataFrame,
      n: Int = 3, sampleCap: Long = TextAnalysis.SampleRowCap): DataFrame = {
    val scored = scores.join(docs.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "lm_score_e6")
    val sampleHash = sparkHash48("concat('qsmp_', cast(doc_id as string))")
    val nRows = scored.agg(count(lit(1)).as("__n"))
    val cuts = scored.crossJoin(broadcast(nRows))
      .where(s"$sampleHash % 100 < " +
        TextAnalysis.derivedKeepSql("__n", 100, 25, sampleCap))
      .groupBy("lang")
      .agg(expr("sort_array(collect_list(lm_score_e6)) AS __arr"))
      .selectExpr("lang",
        s"""IF(size(__arr) = 0, array(),
           |  transform(sequence(1, ${n - 1}), k -> 2 * element_at(__arr,
           |    cast(greatest(1L, (size(__arr) * ($n - k) + ${n - 1}) div $n) as int))))
           | AS __cuts""".stripMargin)
    scored.join(broadcast(cuts), Seq("lang"), "left")
      .withColumn("bucket", expr(
        "1L + size(filter(coalesce(__cuts, array()), c -> 2 * lm_score_e6 < c))")
        .cast("long"))
      .select("doc_id", "lang", "lm_score_e6", "bucket")
      .orderBy("doc_id")
  }

  /** Per-source token over-representation (domain-shift / boilerplate
    * detector): for each (source, token), the ratio of the token's
    * within-source share to its corpus-wide share — tokens a source
    * uses far more than the corpus does are its domain markers (or its
    * boilerplate), the signal mixture tuning and contamination triage
    * read. Integer-exact: ratio_e3 = (c_st·N·1000) div (n_s·c_t), all
    * longs. Overflow bound: the numerator c_st·N·1000 must stay under
    * Long.Max ≈ 9.2e18, i.e. c_st·N ≲ 9e15 — e.g. a token with 1e6
    * occurrences in one source is safe up to a ~9e9-token corpus;
    * beyond that rewrite the ratio in decimal (or divide before
    * multiplying at the cost of e3 granularity). ANSI mode fails
    * loudly, not silently, past the bound. Top `topPerSource` per
    * source by (ratio desc, token).
    *
    * Plan: two map-side-combined aggregates over the exploded token
    * stream (per-(source,token) and per-source), the vocab-sized token
    * totals derived from the FIRST aggregate (the raw stream is never
    * re-scanned), source totals and the 1-row grand total broadcast —
    * never a token-level self-join. */
  def domainShift(docs: DataFrame, minCount: Long = 5L,
                  topPerSource: Int = 3): DataFrame = {
    val toks = docs.selectExpr("source", s"explode($sparkToks) AS tok")
      .where("tok != ''")
    val bySrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
    val srcTot = bySrc.groupBy("source").agg(sum("c_st").cast("long").as("n_s"))
    val tokTot = bySrc.groupBy("tok").agg(sum("c_st").cast("long").as("c_t"))
    val nTot = srcTot.agg(sum("n_s").cast("long").as("n_tot"))
    val scored = bySrc.where(s"c_st >= $minCount")
      .join(broadcast(srcTot), "source")
      .join(tokTot, "tok")
      .crossJoin(broadcast(nTot))
      .selectExpr("source", "tok", "c_st",
        "(c_st * n_tot * 1000) div (n_s * c_t) AS ratio_e3")
    val w = Window.partitionBy("source")
      .orderBy(col("ratio_e3").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .where(s"rk <= $topPerSource")
      .selectExpr("source", "tok", "c_st", "ratio_e3", "cast(rk as bigint) AS rk")
  }

  /** Per-group quantile gate (q114): keep docs at/above their lang's
    * exact median n_chars. Medians are one grouped aggregate (#langs
    * rows) broadcast back — the corpus itself is never window-sorted.
    * `med2x` = round(2·median) keeps the x.5 interpolated medians of
    * even groups integer-exact cross-engine. Exact `percentile`
    * buffers each group's values on one reducer — q211 is the
    * registered approx_percentile sibling for the scale where that
    * binds (the q106↔q156 convention). */
  def quantileFilter(d: DataFrame): DataFrame = {
    val med = d.groupBy("lang")
      .agg(expr("cast(round(2 * percentile(n_chars, 0.5)) as bigint) AS med2x"))
    d.join(broadcast(med), Seq("lang"))
      .where(col("n_chars") * 2 >= col("med2x"))
      .select("doc_id", "lang", "n_chars", "med2x")
  }

  /** q210 — the q130 median gate's APPROX sibling, the q47 sketch-gate
    * pattern: the hash-checkable surface is the EXACT answers (med2x,
    * corpus size, exact keep count) plus within-bounds FLAGS asserting
    * the quantile sketch's answer — |2·approx − med2x| ≤ 10%·med2x and
    * an approx-thresholded keep count within 5% (floor 3 rows: the
    * sketch returns an ACTUAL element, so tie mass between it and the
    * interpolated exact median shifts small-group counts by a few rows
    * — inherent to the approximation, not sketch error) — because
    * sketch internals are engine-specific and would never hash-match
    * cross-engine. The DuckDB twin computes the same exact answers and
    * literal TRUE; a sketch drifting outside its bound flips a flag
    * and fails the hash gate end-to-end. At 100 TB the exact
    * `percentile` arm is what this sibling retires: approx_percentile
    * (Greenwald–Khanna at accuracy 10k) is a bounded-state mergeable
    * sketch, and the keep gate downstream is plan-identical. */
  private[graft] def pplMedianApprox(scores: DataFrame): DataFrame = {
    val agg = scores.agg(
      expr("cast(round(2 * percentile(lm_score_e6, 0.5)) as bigint) AS med2x"),
      expr("approx_percentile(lm_score_e6, 0.5, 10000)").as("amed"),
      count(lit(1)).as("n_docs"))
    scores.crossJoin(broadcast(agg))
      .groupBy("med2x", "amed", "n_docs")
      .agg(
        sum(when(col("lm_score_e6") * 2 >= col("med2x"), 1L).otherwise(0L))
          .as("n_keep"),
        sum(when(col("lm_score_e6") >= col("amed"), 1L).otherwise(0L))
          .as("n_keep_approx"))
      .selectExpr("med2x", "n_docs", "n_keep",
        "abs(2 * amed - med2x) <= (med2x div 10) AS med_within_bounds",
        "abs(n_keep_approx - n_keep) <= greatest(n_keep div 20, 3) AS keep_within_bounds")
  }

  /** q211 — the q114 per-lang median gate's APPROX sibling (same q47
    * flag pattern as q210, per group): exact per-lang med2x + keep
    * counts hashed, the per-lang approx_percentile and its keep count
    * gated by flags the oracle pins as literal TRUE. */
  private[graft] def langMedianApprox(d: DataFrame): DataFrame = {
    val med = d.groupBy("lang")
      .agg(
        expr("cast(round(2 * percentile(n_chars, 0.5)) as bigint) AS med2x"),
        expr("approx_percentile(n_chars, 0.5, 10000)").as("amed"),
        count(lit(1)).as("n_docs"))
    d.select("lang", "n_chars").join(broadcast(med), Seq("lang"))
      .groupBy("lang", "med2x", "amed", "n_docs")
      .agg(
        sum(when(col("n_chars") * 2 >= col("med2x"), 1L).otherwise(0L))
          .as("n_keep"),
        sum(when(col("n_chars") >= col("amed"), 1L).otherwise(0L))
          .as("n_keep_approx"))
      .selectExpr("lang", "med2x", "n_docs", "n_keep",
        "abs(2 * amed - med2x) <= (med2x div 10) AS med_within_bounds",
        "abs(n_keep_approx - n_keep) <= greatest(n_keep div 20, 3) AS keep_within_bounds")
      .orderBy("lang")
  }

  /** q167 — the per-source DATA CARD: the one-query data statement a
    * training run publishes (Datasheets-for-Datasets / Dolma-style
    * summary), composing the engine's own gates per source: volume
    * (docs, whitespace tokens), exact-dup fraction (q20's winners),
    * passage-level removal fraction (the memoized q139 pass), quality
    * pass rate (q37's rule, the shared qualityGate), benchmark
    * contamination rate over the TRAIN split (q62's 6-gram rule), and
    * the temperature-mixture weight (q160's e9-rounded α=0.3 pow).
    *
    * Scale shape: ONE corpus scan carrying the fp/token projections,
    * three id-keyed flag joins (each flag frame is built by its own
    * audited operator: passage memo, quality filter, decontam
    * broadcast semi-join), partial-aggregated to #sources rows, then a
    * #sources-row broadcast join for the mixture weight. Every ratio
    * is an exact integer fixed-point division. */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val winners = docs.selectExpr("doc_id", "md5(text) AS fp")
      .groupBy("fp").agg(min("doc_id").as("keep_id"))
    val pk = Dedup.passageDedupMemo(s, dir).select("doc_id", "n_kept")
    val qg = CurationPipeline.qualityGate(docs.select("doc_id", "text"))
      .select("doc_id").withColumn("q_ok", lit(1L))
    val ct = decontaminate(docs.select("doc_id", "text"))
      .selectExpr("doc_id", "if(contaminated, 1L, 0L) AS contam")
    val mix = temperatureMixture(docs).select("source", "w_e6")
    docs.selectExpr("doc_id", "source", "md5(text) AS fp",
        s"cast(size($sparkToks) as bigint) AS n_toks",
        "doc_id % 97 != 3 AS is_train")
      .join(winners, Seq("fp"))
      .join(pk, Seq("doc_id"), "left")
      .join(qg, Seq("doc_id"), "left")
      .join(ct, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").cast("long").as("n_tokens"),
        sum(expr("if(doc_id <> keep_id, 1L, 0L)")).cast("long").as("n_dup"),
        sum(expr("CASE WHEN n_toks > 0 THEN cast(ceil(n_toks / 8.0) as bigint) ELSE 0L END"))
          .cast("long").as("n_passages"),
        sum(expr("coalesce(n_kept, 0L)")).cast("long").as("n_kept"),
        sum(expr("coalesce(q_ok, 0L)")).cast("long").as("n_q"),
        sum(expr("if(is_train, 1L, 0L)")).cast("long").as("n_train"),
        sum(expr("coalesce(contam, 0L)")).cast("long").as("n_contam"))
      .join(broadcast(mix), "source")
      .selectExpr("source", "n_docs", "n_tokens",
        "(10000 * n_dup) div n_docs AS dup_doc_frac_e4",
        "(10000 * (n_passages - n_kept)) div greatest(n_passages, 1) AS passage_removed_frac_e4",
        "(10000 * n_q) div n_docs AS quality_pass_e4",
        "(10000 * n_contam) div greatest(n_train, 1) AS contam_e4",
        "w_e6 AS mix_w_e6")
      .orderBy("source")
  }

  /** Per-source UNIQUE token mass: exact-dedup winners' whitespace
    * tokens (q20's keep-first rule). One corpus scan + the keep-first
    * window + a #sources aggregate. */
  private def uniqueMassBySource(corpus: DataFrame): DataFrame =
    uniqueMassFromFp(corpus.selectExpr("doc_id", "source",
      s"cast(size($sparkToks) as bigint) AS n", "md5(text) AS fp"))

  /** [[uniqueMassBySource]] over an already-fingerprinted (doc_id,
    * source, n, fp) frame — lets q200 share one tokenize+md5 pass
    * across its legs instead of re-deriving both from materialized
    * corpus text. */
  private def uniqueMassFromFp(frame: DataFrame): DataFrame =
    Relational.keepFirst(frame, Seq("fp"), Seq(col("doc_id")))
      .groupBy("source").agg(sum("n").as("n_tokens"))

  /** q197's valuation: temperature-allocate B = 4·ΣU tokens over the
    * unique mass frame, then the Muennighoff repeat-decay value per
    * source (exp e6-rounded once — the q187 convention). Shared with
    * the q200 card. */
  private def effectiveTokensTail(u0: DataFrame): DataFrame = {
    // #sources-row frame, materialized: the budget head() below and the
    // temperature allocation would otherwise EACH re-run the corpus
    // pass behind it (q197 measured ~2× the unique-mass keep-first for
    // one answer)
    val u = u0.localCheckpoint()
    // empty-corpus guard (the WordPiece segCounts NULL-max lesson):
    // sum over zero rows is NULL — return the empty frame, not an NPE
    val totRow = u.agg(sum("n_tokens")).head()
    if (totRow.isNullAt(0))
      return u.sparkSession.range(0).selectExpr(
        "cast(null AS string) AS source", "cast(null AS bigint) AS u_tokens",
        "cast(null AS bigint) AS alloc_tokens", "cast(null AS bigint) AS rep_e4",
        "cast(null AS bigint) AS eff_tokens", "cast(null AS bigint) AS waste_e4")
    val budget = 4L * totRow.getLong(0)
    temperatureOver(u, budget)
      .selectExpr("source", "n_tokens AS u_tokens", "alloc_tokens")
      .selectExpr("source", "u_tokens", "alloc_tokens",
        "greatest((10000 * alloc_tokens) div u_tokens - 10000, 0L) AS rep_e4")
      .withColumn("exp_e6", expr(
        "cast(round(1e6 * exp(-(cast(rep_e4 AS double)) / 154000.0)) as bigint)"))
      .selectExpr("source", "u_tokens", "alloc_tokens", "rep_e4",
        """CASE WHEN alloc_tokens <= u_tokens THEN alloc_tokens
          |ELSE u_tokens + (u_tokens * 154 * (1000000 - exp_e6)) div 10000000
          |END AS eff_tokens""".stripMargin)
      .selectExpr("source", "u_tokens", "alloc_tokens", "rep_e4", "eff_tokens",
        "10000 - (10000 * eff_tokens) div greatest(alloc_tokens, 1) AS waste_e4")
  }

  /** q200 — the DATA CARD, second edition: q167's per-source statement
    * extended with the ROUND'S new signals, each the exact frame its
    * standalone gate pins — the dedup-LOCALITY columns (q192: global
    * dup fraction and the share of it shard-local dedup cannot see,
    * over the shared planted corpus), the CCNet HEAD share (q191's
    * per-lang terciles read per source, over the RAW corpus — plants
    * would skew the LM), and the DATA-CONSTRAINED value columns (q197:
    * unique mass, 4×-budget allocation, repeat-decayed effective
    * tokens). One source row joins #sources-row frames — the card
    * stays #sources-sized however many signals ride it. */
  def dataCardV2(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // one planted corpus serves both the locality leg and the
    // effective-tokens leg — built (and its max(doc_id) offset job run)
    // once instead of once per leg. What materializes is the NARROW
    // per-doc projection (doc_id, source, n, fp) both legs actually
    // consume, never the corpus text: at 100 TB checkpointing the
    // planted text would pin the whole corpus in executor storage to
    // save one re-derivation, and the shared fingerprint/tokenize pass
    // now runs once instead of once per leg.
    val planted = Dedup.plantedDupCorpus(docs)
      .selectExpr("doc_id", "source",
        s"cast(size($sparkToks) as bigint) AS n", "md5(text) AS fp")
      .localCheckpoint()
    val loc = Dedup.dedupLocalityFromFp(planted)
      .selectExpr("source", "n_docs",
        "(10000 * n_drop_global) div n_docs AS dup_frac_e4",
        "missed_frac_e4 AS missed_local_frac_e4")
    val head = ccnetBucketsFor(s, dir)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_head"))
      .selectExpr("source", "(10000 * n_head) div n_scored AS head_share_e4")
    val eff = effectiveTokensTail(uniqueMassFromFp(planted))
    loc.join(head, "source").join(eff, "source")
      .select("source", "n_docs", "dup_frac_e4", "missed_local_frac_e4",
        "head_share_e4", "u_tokens", "alloc_tokens", "eff_tokens", "waste_e4")
      .orderBy("source")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The per-source data card — the publishable training-data
    // statement, composed from the individually-gated rules.
    "q167_datacard" -> ((s, dir) => dataCard(s, dir)),

    // The card's second edition over the round's new signals.
    "q200_datacard_v2" -> ((s, dir) => dataCardV2(s, dir)),

    "q98_bigram_lm" -> ((s, dir) => bigramScoresFor(s, dir)),

    "q130_ppl_filter" -> ((s, dir) =>
      perplexityFilterFrom(bigramScoresFor(s, dir)).orderBy("doc_id")),

    // pairwise agreement + Cohen's κ between the three quality gates
    // (rule / classifier / perplexity) over their common support — the
    // filter-ensembling table beside q215's cost funnel
    "q220_filter_agreement" -> ((s, dir) => filterAgreement(s, dir)),

    // κ between "perplexity decile ≤ k" (k = 1..9) and the classifier
    // keep — the decile-depth agreement family q220's single median
    // row can't show (does the scorer add signal beyond the median?)
    "q225_decile_agreement" -> ((s, dir) => decileAgreement(s, dir)),

    // CCNet head/middle/tail terciles per language over the q98 signal
    // (memoized — one rank pass serves q191 and q200's head column).
    "q191_ccnet_buckets" -> ((s, dir) => ccnetBucketsFor(s, dir)),

    // The q191 terciles from sampled per-lang cutpoints (approx sibling).
    "q209_ccnet_sampled" -> ((s, dir) =>
      ccnetBucketsSampled(bigramScoresFor(s, dir), Tables.documents(s, dir))),

    // The q130 median gate's sketch sibling: exact answers + GK flags.
    "q210_ppl_median_approx" -> ((s, dir) =>
      pplMedianApprox(bigramScoresFor(s, dir))),

    // The q114 per-lang median gate's sketch sibling.
    "q211_lang_median_approx" -> ((s, dir) =>
      langMedianApprox(Tables.documents(s, dir))),

    "q135_domain_shift" -> ((s, dir) =>
      domainShift(Tables.documents(s, dir)).orderBy("source", "rk")),

    // Planted boilerplate: a fixed 8-word banner (2 whole blocks)
    // prepended to every 7th document, so the cross-doc counts, the
    // strike, AND the byte-exact reassembly are all oracle-visible.
    "q76_cross_doc_dedup" -> ((s, dir) => {
      val corpus = Tables.documents(s, dir).selectExpr("doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN concat('please subscribe to our newsletter today now dear reader ', text) ELSE text END AS text")
      crossDocDedup(corpus).orderBy("doc_id")
    }),

    "q57_stratified_sample" -> ((s, dir) =>
      stratifiedSample(Tables.documents(s, dir)).orderBy("doc_id")),

    "q58_mixture_alloc" -> ((s, dir) =>
      mixtureAllocation(Tables.documents(s, dir)).orderBy("source")),

    // Temperature-flattened mixture over the REAL source column.
    "q160_temperature_mix" -> ((s, dir) =>
      temperatureMixture(Tables.documents(s, dir))),

    // q195 — SELECTION composed with MIXTURE: q160's temperature chain
    // over the DSIR-SELECTED corpus only (q150's keep flags, shared
    // memoized learn+score pass), the two published stages in the order
    // a real pipeline runs them (Xie et al. 2023 select; temperature
    // α-sample what survives). A source whose mass is mostly off-target
    // loses allocation — per-source kept mass is what the sampler sees,
    // not raw volume. Plan: the memoized per-doc score frame semi-joins
    // ONE corpus scan (id-keyed), one map-side-combined per-source
    // aggregate, then the #sources-row largest-remainder tail (shared
    // code with q160/q186 — temperatureOver). Sources with zero kept
    // docs drop out on BOTH engines (inner-join semantics).
    "q195_dsir_mixture" -> ((s, dir) => {
      val kept = dsirWeightsFrom(dsirScoredMemo(s, dir), 25)
        .where("keep").select("doc_id")
      temperatureOver(Tables.documents(s, dir)
        .selectExpr("doc_id", "source", s"cast(size($sparkToks) as bigint) AS n")
        .join(kept, Seq("doc_id"), "left_semi")
        .groupBy("source").agg(sum("n").as("n_tokens")))
    }),

    // q197 — DATA-CONSTRAINED epoch budgeting (Muennighoff et al. 2023
    // "Scaling Data-Constrained Language Models"): when the token
    // budget B exceeds the unique corpus, sources get REPEATED, and
    // repeated tokens are worth less — the paper's fitted decay values
    // an allocation of R repeat-epochs over unique mass U at
    // D' = U + U·R*·(1 − e^(−R/R*)), R* = 15.4 (their eq. 4 fit: ~4
    // epochs nearly free, value → U·(1+R*) asymptotically). Composed
    // from the house pieces: unique mass = EXACT-DEDUP winners' tokens
    // per source (q20's keep-first over md5(text), with q192's planted
    // copies so dedup visibly bites), B = 4× total unique mass
    // allocated by the q160 temperature chain (largest remainder,
    // budget in TOKENS), then the decay valuation per source. The one
    // transcendental (exp) is e6-rounded ONCE per source before any
    // cross-source arithmetic — the q187 convention — so everything
    // downstream is exact int64; epochs/waste are integer fixed-point.
    // Under-allocated sources (alloc ≤ U) take D' = alloc exactly (no
    // repetition happens). Plan: one corpus scan → keep-first window →
    // #sources aggregate; ΣU is a 1-row collect (model-state class);
    // the valuation runs on #sources rows. Overflow bound: the
    // token-denominated largest remainder computes budget × p_e9,
    // safe to ~2e18 (≈ a 10^7-token corpus at this p scale); a larger
    // run drops p to e6 — same one-line rescale both engines, and the
    // product is guarded in-plan ([[temperatureOver]]'s raise_error
    // arm), so an out-of-bounds run fails loudly instead of wrapping.
    "q197_data_constrained" -> ((s, dir) =>
      effectiveTokensTail(uniqueMassBySource(
        Dedup.plantedDupCorpus(Tables.documents(s, dir)))).orderBy("source")),

    // Excess-loss (KL) domain reweighting over the REAL source column
    // (the shared memoized type-count frame — one corpus scan serves
    // q179/q187/q229 per session).
    "q179_domain_reweight" -> ((s, dir) =>
      domainReweightSt(typeCountsFor(s, dir), 10000L, 4L)),

    // The TRUE exponentiated DoReMi update over the same proxy.
    "q187_doremi_exp" -> ((s, dir) =>
      domainReweightExpSt(typeCountsFor(s, dir))),

    // the proxy-training SECOND round: reference re-fit as the round-1
    // α-weighted mixture, excess loss against it, one more
    // multiplicative update from the round-1 weights — the loop q187
    // documented as out of scope, in integer-exact form
    "q229_doremi_round2" -> ((s, dir) =>
      domainReweightRound2St(typeCountsFor(s, dir))),

    // The loader-facing WRR interleave of the q160 mixture.
    "q182_mix_schedule" -> ((s, dir) =>
      mixSchedule(Tables.documents(s, dir))),

    // Planted leakage: copies of eval docs re-inserted as training rows
    // (+3e6 ids — (id+3000000) % 97 ≠ 3 for id ≡ 3, so every copy lands
    // in the train split) make the contamination detection itself
    // oracle-visible at any scale factor.
    "q62_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(
        d.where("doc_id % 97 = 3").selectExpr("doc_id + 3000000 AS doc_id", "text"))
      decontaminate(corpus).orderBy("doc_id")
    }),

    // surgical decontamination: the q62 carve's shingles CUT from the
    // training docs span-by-span (remove-all + merge, the shared q204
    // cut surface) instead of dropping whole documents. The raw carves
    // share no natural 6-grams, so the corpus plants partial-overlap
    // specimens (the q192/q204 convention): each long-enough EVAL doc
    // donates a 55-token interior window re-housed between fresh flank
    // tokens as a TRAIN doc — the scrub must cut exactly the copied
    // interior and keep the flanks
    "q216_decontam_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val off = d.agg(max("doc_id")).first.getLong(0) + 1
      val plants = d.selectExpr("doc_id", s"$sparkToks AS toks")
        .where("doc_id % 97 = 3 AND size(toks) >= 62")
        .selectExpr(s"doc_id + ${off}L AS doc_id",
          "concat('cs', cast(doc_id as string), ' ', " +
            "array_join(slice(toks, 2, 55), ' '), " +
            "' ce', cast(doc_id as string)) AS text")
      decontamScrub(d.where("doc_id % 97 != 3").unionByName(plants),
        evalShingleSet(d.where("doc_id % 97 = 3")))
    }),

    // Same planted-leakage construction as q62, but exact-hash
    // decontamination through the Bloom prefilter: the kept set must be
    // byte-identical to the plain anti-join (the oracle IS the plain
    // anti-join — a false negative anywhere would hash-mismatch).
    "q93_bloom_decontam" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val evalDocs = d.where("doc_id % 97 = 3")
      val train = d.where("doc_id % 97 != 3").unionByName(
        evalDocs.selectExpr("doc_id + 3000000 AS doc_id", "text"))
      bloomDecontaminate(train, evalDocs).orderBy("doc_id")
    }),

    "q63_source_cap" -> ((s, dir) =>
      sourceCap(Tables.documents(s, dir)).orderBy("source", "rk")),

    // Greedy best-first per-source selection under a token budget,
    // composing the q141 classifier scores with exact token accounting.
    "q142_budget_mixture" -> ((s, dir) =>
      budgetSample(Tables.documents(s, dir))),

    // Eval-side memorization audit over the q12 split.
    "q146_split_novelty" -> ((s, dir) =>
      splitNovelty(Tables.documents(s, dir))),

    // Per-source diversity: Shannon entropy + normalized form.
    "q148_source_entropy" -> ((s, dir) =>
      sourceEntropy(Tables.documents(s, dir))),

    // DSIR importance weights: hashed-trigram target/raw log-ratio
    // (the learn+score pass is memoized and shared with q151).
    "q150_dsir_weight" -> ((s, dir) =>
      dsirWeightsFrom(dsirScoredMemo(s, dir), keepPct = 25)),

    // Exact tie-aware ROC-AUC gate over the DSIR scorer.
    "q151_dsir_auc" -> ((s, dir) =>
      dsirAucFrom(dsirScoredMemo(s, dir), floorE6 = 950000L)),

    "q65_text_chunks" -> ((s, dir) =>
      textChunks(Tables.documents(s, dir)).orderBy("doc_id", "chunk_idx")),

    "q66_vocab_topk" -> ((s, dir) =>
      vocabTopK(Tables.documents(s, dir))),

    // Per-group quantile gate: keep documents at or above their
    // LANGUAGE's median length — the relative quality cut ("top half
    // per language") that absolute thresholds can't express, because a
    // fixed cut over mixed languages just deletes the verbose ones.
    // Plan: exact per-lang median in ONE grouped aggregate (a
    // #langs-row result, broadcast back onto the scan — the fact table
    // is never windowed, so no lang-wide sort/shuffle of the corpus;
    // a percent_rank window would shuffle and sort EVERY row). The
    // median is doubled and rounded to an integer (`med2x`) so the
    // x.5 interpolated medians of even-sized groups compare exactly
    // cross-engine (2*n_chars >= med2x is integer vs integer). At
    // 100 TB swap percentile for approx_percentile and the plan is
    // unchanged — kept exact here for the hash gate.
    "q114_quantile_filter" -> ((s, dir) =>
      quantileFilter(Tables.documents(s, dir)).orderBy("doc_id")),

    "q67_tfidf_top" -> ((s, dir) =>
      tfidfTop(Tables.documents(s, dir)).orderBy("doc_id", "rk"))
  )

  /** DuckDB CTE chain of the q98 bigram model (through `probs`), shared
    * by the q98 gate and the q130 perplexity filter. */
  /** q197's valuation chain as CTE text (tk → win → us → largest
    * remainder → decay, ending `f (source, u_tokens, alloc_tokens,
    * rep_e4, eff_tokens)`); assumes `corpus` in scope (the shared
    * locality fragment provides it). Shared by the q197 twin and the
    * q200 card's. */
  private val duckEffectiveCtes: String =
    """tk AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
      |    md5(text) AS fp
      |  FROM corpus),
      |win AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM tk)
      |  WHERE rn = 1),
      |us AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens FROM win GROUP BY source),
      |tot_u AS (SELECT CAST(4 * SUM(n_tokens) AS BIGINT) AS b FROM us),
      |p AS (
      |  SELECT source, n_tokens,
      |    CAST(round(1e9 * pow(CAST(n_tokens AS DOUBLE), 0.3)) AS BIGINT) AS p_e9
      |  FROM us),
      |q AS (SELECT *, CAST(SUM(p_e9) OVER () AS BIGINT) AS tot FROM p),
      |a AS (
      |  SELECT source, n_tokens, p_e9, b,
      |    (b * p_e9) // tot AS quota,
      |    (b * p_e9) % tot AS rem
      |  FROM q CROSS JOIN tot_u),
      |r AS (
      |  SELECT *,
      |    CAST(b - SUM(quota) OVER () AS BIGINT) AS leftover,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM a),
      |al AS (
      |  SELECT source, n_tokens AS u_tokens,
      |    CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
      |  FROM r),
      |e AS (
      |  SELECT source, u_tokens, alloc_tokens,
      |    CAST(greatest((10000 * alloc_tokens) // u_tokens - 10000, 0) AS BIGINT) AS rep_e4
      |  FROM al),
      |x AS (
      |  SELECT *, CAST(round(1e6 * exp(-(CAST(rep_e4 AS DOUBLE)) / 154000.0)) AS BIGINT) AS exp_e6
      |  FROM e),
      |f AS (
      |  SELECT source, u_tokens, alloc_tokens, rep_e4,
      |    CASE WHEN alloc_tokens <= u_tokens THEN alloc_tokens
      |         ELSE u_tokens + (u_tokens * 154 * (1000000 - exp_e6)) // 10000000
      |    END AS eff_tokens
      |  FROM x)""".stripMargin

  private val bigramLmCtes: String =
    """toks AS (
      |  SELECT doc_id, s.w AS w, s.pos AS pos FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      regexp_split_to_array(trim(text), '\s+'),
      |      (x, i) -> struct_pack(w := x, pos := i))) AS s
      |    FROM documents)),
      |bg AS (
      |  SELECT doc_id, w1, w2 FROM (
      |    SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
      |    FROM toks)
      |  WHERE w1 IS NOT NULL),
      |pair_cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
      |pref_cnt AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
      |probs AS (
      |  SELECT pair_cnt.w1, pair_cnt.w2, c12 * 1000000 // c1 AS p_e6
      |  FROM pair_cnt JOIN pref_cnt ON pair_cnt.w1 = pref_cnt.w1)""".stripMargin

  /** DuckDB CTE chain of the DSIR model + per-doc scores (through
    * `sc`), shared by the q150 selection gate and the q151 AUC gate. */
  private val dsirCtes: String =
    s"""bg AS (
       |  SELECT doc_id, lang,
       |    ${duckHash48("concat('dsir_', toks[i] || '_' || toks[i+1] || '_' || toks[i+2])")} % 32768 AS bkt
       |  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks) - 1)) AS i
       |        FROM (SELECT doc_id, lang,
       |                regexp_split_to_array(trim(text), '\\s+') AS toks
       |              FROM documents)
       |        WHERE len(toks) >= 3)),
       |stats AS (
       |  SELECT bkt,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
       |    CAST(COUNT(*) AS BIGINT) AS c_r
       |  FROM bg GROUP BY bkt),
       |tot AS (
       |  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t, CAST(SUM(c_r) AS BIGINT) AS n_r
       |  FROM stats),
       |lr AS (
       |  SELECT bkt,
       |    CAST(round(1e6 * (ln(c_t + 1) - ln(n_t + 32768) - ln(c_r + 1) + ln(n_r + 32768))) AS BIGINT) AS lr_e6
       |  FROM stats, tot),
       |sc AS (
       |  SELECT bg.doc_id, any_value(bg.lang) AS lang,
       |    CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       |    CAST(SUM(lr_e6) AS BIGINT) AS logw_e6,
       |    CAST(floor(CAST(SUM(lr_e6) AS BIGINT) / (COUNT(*) * 1e2)) AS BIGINT) AS spb_e4
       |  FROM bg JOIN lr ON bg.bkt = lr.bkt
       |  GROUP BY bg.doc_id)""".stripMargin

  /** The q179/q187 shared excess-loss CTE chain: (source, type) counts
    * → marginals → per-source e9-rounded KL. */
  private val duckKlCtes: String =
    """st AS (
      |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_st FROM (
      |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents)
      |  WHERE t <> '' GROUP BY 1, 2),
      |bs AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      |bt AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
      |nt AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_tot FROM bt),
      |kl AS (
      |  SELECT st.source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(round(1e9 * (c_st / CAST(n_s AS DOUBLE)) *
      |      (ln(c_st) - ln(n_s) - ln(c_t) + ln(n_tot))) AS BIGINT)) AS BIGINT) AS kl_e9
      |  FROM st JOIN bs ON st.source = bs.source JOIN bt ON st.t = bt.t CROSS JOIN nt
      |  GROUP BY st.source)""".stripMargin

  /** The q187 round-1 chain (excess loss → clipped exponentiated
    * weights → 1% smoothed alphas, ending in `sm`) — shared by the
    * q187 twin and q229's second round, so the round-1 model the two
    * consume can never fork. */
  private val duckDoremiR1Ctes: String =
    s"""$duckKlCtes,
       |w AS (
       |  SELECT source, n_tokens, kl_e9,
       |    CAST(round(1e6 * exp(least(4 * kl_e9 / 1e9, 12.0))) AS BIGINT) AS w_exp_e6
       |  FROM kl),
       |q AS (
       |  SELECT *, CAST(SUM(w_exp_e6) OVER () AS BIGINT) AS totw,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS nsrc
       |  FROM w),
       |sm AS (
       |  SELECT source, n_tokens, kl_e9, w_exp_e6,
       |    (1000000 * w_exp_e6) // totw AS share_e6,
       |    CAST((99 * ((1000000 * w_exp_e6) // totw)) // 100 +
       |         (1 * (1000000 // nsrc)) // 100 AS BIGINT) AS alpha_e6
       |  FROM q)""".stripMargin

  def oracle: Map[String, String] = Map(
    // round 1 verbatim (the shared chain), then: integer mixture
    // reference mix_t = Σ α·p_e9, excess loss against it (identical
    // e9-rounded term tree), the α-anchored multiplicative update,
    // smoothing and the largest-remainder budget unrolled
    "q229_doremi_round2" ->
      s"""WITH $duckDoremiR1Ctes,
        |p2 AS (
        |  SELECT st.source, st.t, st.c_st, bs.n_s,
        |    greatest(1, (st.c_st * 1000000000) // bs.n_s) AS p_e9
        |  FROM st JOIN bs ON st.source = bs.source),
        |mix AS (
        |  SELECT p2.t, CAST(SUM(sm.alpha_e6 * p2.p_e9) AS BIGINT) AS mix_t
        |  FROM p2 JOIN sm ON sm.source = p2.source GROUP BY p2.t),
        |mt2 AS (SELECT CAST(SUM(mix_t) AS BIGINT) AS mixtot FROM mix),
        |kl2 AS (
        |  SELECT p2.source, CAST(MAX(p2.n_s) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(round(1e9 * (c_st / CAST(n_s AS DOUBLE)) *
        |      (ln(c_st) - ln(n_s) - ln(mix_t) + ln(mixtot))) AS BIGINT)) AS BIGINT) AS kl2_e9
        |  FROM p2 JOIN mix ON p2.t = mix.t CROSS JOIN mt2
        |  GROUP BY p2.source),
        |w2 AS (
        |  SELECT kl2.source, kl2.n_tokens, kl2.kl2_e9, sm.alpha_e6,
        |    (sm.alpha_e6 * CAST(round(1e6 * exp(least(4 * kl2.kl2_e9 / 1e9, 12.0))) AS BIGINT)) // 1000000 AS w2_e6
        |  FROM kl2 JOIN sm ON sm.source = kl2.source),
        |qq AS (
        |  SELECT *, CAST(SUM(w2_e6) OVER () AS BIGINT) AS totw2,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nsrc2
        |  FROM w2),
        |sm2 AS (
        |  SELECT source, n_tokens, kl2_e9, alpha_e6, w2_e6,
        |    (1000000 * w2_e6) // totw2 AS share2_e6,
        |    CAST((99 * ((1000000 * w2_e6) // totw2)) // 100 +
        |         (1 * (1000000 // nsrc2)) // 100 AS BIGINT) AS alpha2_e6
        |  FROM qq),
        |q3 AS (SELECT *, CAST(SUM(alpha2_e6) OVER () AS BIGINT) AS tot FROM sm2),
        |a2 AS (
        |  SELECT source, n_tokens, kl2_e9, alpha_e6, w2_e6, share2_e6, alpha2_e6,
        |    (10000 * alpha2_e6) // tot AS quota,
        |    (10000 * alpha2_e6) % tot AS rem
        |  FROM q3),
        |r2 AS (
        |  SELECT *,
        |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM a2)
        |SELECT source, n_tokens, kl2_e9, alpha_e6, w2_e6, share2_e6, alpha2_e6,
        |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r2 ORDER BY source""".stripMargin,
    // q162's dedup fragments + q37's pass rule + q62's contamination
    // CTEs + q160's weight CTE, rolled up per source
    "q167_datacard" ->
      """WITH t AS (
        |  SELECT doc_id, source, text, md5(text) AS fp,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |win AS (SELECT fp, MIN(doc_id) AS keep_id FROM t GROUP BY fp),
        |pt AS (
        |  SELECT doc_id, unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pidx, toks
        |  FROM t WHERE len(toks) > 0),
        |pp AS (
        |  SELECT doc_id * 65536 + pidx AS packed,
        |    array_to_string(toks[pidx*8+1 : pidx*8+8], ' ') AS ptext
        |  FROM pt),
        |pkw AS (SELECT ptext, MIN(packed) AS packed FROM pp GROUP BY ptext),
        |pkc AS (
        |  SELECT packed // 65536 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
        |  FROM pkw GROUP BY 1),
        |q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, toks, length(text) AS len,
        |      length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_symbols
        |    FROM t WHERE len(toks) >= 2)
        |  WHERE len(toks) >= 5 AND len(toks) <= 100000
        |    AND round(100.0 * list_sum(list_transform(toks, tk -> length(tk))) / len(toks)) BETWEEN 200 AND 1200
        |    AND round(10000.0 * n_symbols / len) < 3000),
        |sh6 AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, len(toks) - 4)),
        |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
        |  FROM t),
        |eval_sh AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 = 3),
        |contam AS (
        |  SELECT DISTINCT s2.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh6 WHERE doc_id % 97 != 3) s2
        |  JOIN eval_sh e ON s2.shingle = e.shingle),
        |ps AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
        |pw AS (
        |  SELECT source,
        |    CAST(round(1e9 * pow(CAST(n_tokens AS DOUBLE), 0.3)) AS BIGINT) AS p_e9
        |  FROM ps),
        |mw AS (
        |  SELECT source,
        |    (1000000 * p_e9) // CAST(SUM(p_e9) OVER () AS BIGINT) AS mix_w_e6
        |  FROM pw),
        |agg AS (
        |  SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN t.doc_id <> w.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |    CAST(SUM(CASE WHEN t.n_toks > 0 THEN CAST(ceil(t.n_toks / 8.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS n_passages,
        |    CAST(SUM(COALESCE(pc.n_kept, 0)) AS BIGINT) AS n_kept,
        |    CAST(SUM(CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
        |    CAST(SUM(CASE WHEN t.doc_id % 97 != 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
        |  FROM t JOIN win w USING (fp)
        |  LEFT JOIN pkc pc ON pc.doc_id = t.doc_id
        |  LEFT JOIN q ON q.doc_id = t.doc_id
        |  LEFT JOIN contam c ON c.doc_id = t.doc_id
        |  GROUP BY t.source)
        |SELECT a.source, n_docs, n_tokens,
        |  (10000 * n_dup) // n_docs AS dup_doc_frac_e4,
        |  (10000 * (n_passages - n_kept)) // greatest(n_passages, 1) AS passage_removed_frac_e4,
        |  (10000 * n_q) // n_docs AS quality_pass_e4,
        |  (10000 * n_contam) // greatest(n_train, 1) AS contam_e4,
        |  m.mix_w_e6
        |FROM agg a JOIN mw m USING (source) ORDER BY a.source""".stripMargin,

    "q98_bigram_lm" ->
      s"""WITH $bigramLmCtes
        |SELECT doc_id,
        |  CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6,
        |  CAST(COUNT(*) AS BIGINT) AS n_bigrams
        |FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q130_ppl_filter" ->
      s"""WITH $bigramLmCtes,
        |scores AS (
        |  SELECT doc_id,
        |    CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6,
        |    CAST(COUNT(*) AS BIGINT) AS n_bigrams
        |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
        |  GROUP BY doc_id),
        |med AS (
        |  SELECT CAST(round(2 * quantile_cont(lm_score_e6, 0.5)) AS BIGINT) AS med2x
        |  FROM scores)
        |SELECT doc_id, lm_score_e6, n_bigrams, med2x FROM scores, med
        |WHERE lm_score_e6 * 2 >= med2x ORDER BY doc_id""".stripMargin,

    "q191_ccnet_buckets" ->
      s"""WITH $bigramLmCtes,
        |scores AS (
        |  SELECT doc_id,
        |    CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6
        |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
        |  GROUP BY doc_id)
        |SELECT s.doc_id, d.lang, s.lm_score_e6,
        |  CAST(NTILE(3) OVER (PARTITION BY d.lang
        |    ORDER BY s.lm_score_e6 DESC, s.doc_id) AS BIGINT) AS bucket
        |FROM scores s JOIN documents d USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    // q209: per-lang discrete-rank cutpoints over the deterministic 25%
    // hash sample — the sorted sample's value at integer rank
    // ⌈m·(3−k)/3⌉ doubled, bucket = 1 + #{cuts above 2·score}; a lang
    // missing from the sample coalesces to no cuts (bucket 1), matching
    // the Spark left join
    "q209_ccnet_sampled" ->
      s"""WITH $bigramLmCtes,
        |scores AS (
        |  SELECT doc_id,
        |    CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6
        |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
        |  GROUP BY doc_id),
        |scored AS (
        |  SELECT s.doc_id, d.lang, s.lm_score_e6
        |  FROM scores s JOIN documents d USING (doc_id)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
        |smp AS (
        |  SELECT lang, list_sort(list(lm_score_e6)) AS arr FROM scored, nn
        |  WHERE ${duckHash48("concat('qsmp_', CAST(doc_id AS VARCHAR))")} % 100 <
        |    least(25, greatest(1, (100 * ${TextAnalysis.SampleRowCap}) // nn.n))
        |  GROUP BY lang),
        |cuts AS (
        |  SELECT lang,
        |    CASE WHEN arr IS NULL OR len(arr) = 0 THEN []::BIGINT[]
        |    ELSE list_transform(range(1, 3), k -> 2 * arr[CAST(greatest(1, (len(arr) * (3 - k) + 2) // 3) AS INT)])
        |    END AS cl
        |  FROM smp)
        |SELECT sc.doc_id, sc.lang, sc.lm_score_e6,
        |  CAST(1 + len(list_filter(coalesce(cuts.cl, []::BIGINT[]),
        |    c -> 2 * sc.lm_score_e6 < c)) AS BIGINT) AS bucket
        |FROM scored sc LEFT JOIN cuts USING (lang)
        |ORDER BY sc.doc_id""".stripMargin,

    // q210: the q47 sketch-flag pattern — exact median/corpus/keep
    // hashed, the Spark-side GK sketch gated by literal-TRUE flags
    "q210_ppl_median_approx" ->
      s"""WITH $bigramLmCtes,
        |scores AS (
        |  SELECT doc_id,
        |    CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6
        |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
        |  GROUP BY doc_id),
        |med AS (
        |  SELECT CAST(round(2 * quantile_cont(lm_score_e6, 0.5)) AS BIGINT) AS med2x,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM scores)
        |SELECT med2x, n_docs,
        |  CAST(SUM(CASE WHEN lm_score_e6 * 2 >= med2x THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  TRUE AS med_within_bounds, TRUE AS keep_within_bounds
        |FROM scores, med GROUP BY med2x, n_docs""".stripMargin,

    // q211: the per-lang form of the same pattern over n_chars (q114's
    // signal)
    "q211_lang_median_approx" ->
      """WITH med AS (
        |  SELECT lang,
        |    CAST(round(2 * quantile_cont(n_chars, 0.5)) AS BIGINT) AS med2x,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, m.med2x, m.n_docs,
        |  CAST(SUM(CASE WHEN d.n_chars * 2 >= m.med2x THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  TRUE AS med_within_bounds, TRUE AS keep_within_bounds
        |FROM documents d JOIN med m USING (lang)
        |GROUP BY d.lang, m.med2x, m.n_docs
        |ORDER BY d.lang""".stripMargin,

    "q76_cross_doc_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN concat('please subscribe to our newsletter today now dear reader ', text)
        |    ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus),
        |blocks AS (
        |  SELECT doc_id, i,
        |    array_to_string(toks[CAST(i*4+1 AS INT):CAST(i*4+4 AS INT)], ' ') AS block
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, CAST(ceil(len(toks)/4.0) AS BIGINT))) AS i FROM toks)),
        |boiler AS (
        |  SELECT block FROM blocks GROUP BY block HAVING count(DISTINCT doc_id) > 2)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN bo.block IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN bo.block IS NULL THEN b.block END, ' ' ORDER BY b.i), '')) AS clean_fp
        |FROM blocks b LEFT JOIN boiler bo ON b.block = bo.block
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "q57_stratified_sample" ->
      s"""SELECT doc_id, stratum, h100 FROM (
         |  SELECT doc_id,
         |    CASE WHEN length(text) >= 2000 THEN 'long'
         |         WHEN length(text) >= 500 THEN 'mid' ELSE 'short' END AS stratum,
         |    ${duckHash48("CAST(doc_id AS VARCHAR)")} % 100 AS h100
         |  FROM documents)
         |WHERE (stratum = 'long' AND h100 < 100)
         |   OR (stratum = 'mid' AND h100 < 50)
         |   OR (stratum = 'short' AND h100 < 25)
         |ORDER BY doc_id""".stripMargin,

    // pow through the e9-integer convention (q145): p_e9 per source is
    // rounded BEFORE normalization, so weights/quotas are integer-exact
    // q160's allocation chain + the midpoint-rule interleave
    "q182_mix_schedule" ->
      s"""WITH $duckScheduleCtes
         |SELECT pos, source, j, t FROM sched ORDER BY pos""".stripMargin,

    "q179_domain_reweight" ->
      s"""WITH $duckKlCtes,
        |w AS (
        |  SELECT source, n_tokens, kl_e9,
        |    CAST(1000000000 + 4 * kl_e9 AS BIGINT) AS w_e9
        |  FROM kl),
        |q AS (SELECT *, CAST(SUM(w_e9) OVER () AS BIGINT) AS tot FROM w),
        |a AS (
        |  SELECT source, n_tokens, kl_e9, w_e9,
        |    (10000 * w_e9) // tot AS quota,
        |    (10000 * w_e9) % tot AS rem
        |  FROM q),
        |r AS (
        |  SELECT *,
        |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM a)
        |SELECT source, n_tokens, kl_e9, w_e9,
        |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin,

    // the exponentiated sibling: multiplicative weights (12-nat clip,
    // e6 scale) + 1% uniform smoothing, largest-remainder budget over
    // the smoothed alphas
    "q187_doremi_exp" ->
      s"""WITH $duckDoremiR1Ctes,
        |q2 AS (SELECT *, CAST(SUM(alpha_e6) OVER () AS BIGINT) AS tot FROM sm),
        |a AS (
        |  SELECT source, n_tokens, kl_e9, w_exp_e6, share_e6, alpha_e6,
        |    (10000 * alpha_e6) // tot AS quota,
        |    (10000 * alpha_e6) % tot AS rem
        |  FROM q2),
        |r AS (
        |  SELECT *,
        |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM a)
        |SELECT source, n_tokens, kl_e9, w_exp_e6, share_e6, alpha_e6,
        |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin,

    "q160_temperature_mix" ->
      """WITH per_source AS (
        |  SELECT source,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT source, n_tokens,
        |    CAST(round(1e9 * pow(CAST(n_tokens AS DOUBLE), 0.3)) AS BIGINT) AS p_e9
        |  FROM per_source),
        |q AS (
        |  SELECT *, CAST(SUM(p_e9) OVER () AS BIGINT) AS tot FROM p),
        |a AS (
        |  SELECT source, n_tokens, p_e9,
        |    (1000000 * p_e9) // tot AS w_e6,
        |    (10000 * p_e9) // tot AS quota,
        |    (10000 * p_e9) % tot AS rem
        |  FROM q),
        |r AS (
        |  SELECT *,
        |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM a)
        |SELECT source, n_tokens, p_e9, w_e6,
        |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        |FROM r ORDER BY source""".stripMargin,

    "q58_mixture_alloc" ->
      """WITH per_source AS (
        |  SELECT doc_id % 5 AS source,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |q AS (
        |  SELECT source, n_tokens,
        |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
        |  FROM per_source),
        |a AS (
        |  SELECT source, n_tokens,
        |    (10000 * n_tokens) // total AS quota,
        |    (10000 * n_tokens) % total AS rem
        |  FROM q),
        |r AS (
        |  SELECT *,
        |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM a)
        |SELECT source, n_tokens,
        |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin,

    "q62_decontaminate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 97 = 3),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, len(toks) - 4)),
        |      i -> array_to_string(toks[i:i+5], ' ')) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus)),
        |eval_sh AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 3),
        |train AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 != 3),
        |contaminated AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM train) t
        |  JOIN eval_sh e ON t.shingle = e.shingle)
        |SELECT t.doc_id, (c.doc_id IS NOT NULL) AS contaminated
        |FROM train t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // the three gate fragments verbatim (gopher gq, classifier score,
    // bigram-LM median cut), inner-joined to the common support, one
    // contingency aggregate, κ in fixed-order doubles (identical
    // expression tree to the Spark side — the soft-EM convention)
    "q220_filter_agreement" ->
      s"""WITH gl AS (WITH ${TextAnalysis.dupLinesSql()}),
         |gn AS (WITH ${TextAnalysis.gopherNgramsSql()}),
         |rep AS (
         |  SELECT gl.doc_id, gl.passes AND gn.passes AS f_rule
         |  FROM gl JOIN gn ON gl.doc_id = gn.doc_id),
         |ct AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |clf AS (
         |  SELECT doc_id, ${TextAnalysis.duckClassifierScoreE3} > 0 AS f_clf
         |  FROM ct WHERE len(toks) > 0),
         |$bigramLmCtes,
         |scoresf AS (
         |  SELECT doc_id,
         |    CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6
         |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
         |  GROUP BY doc_id),
         |medf AS (
         |  SELECT CAST(round(2 * quantile_cont(lm_score_e6, 0.5)) AS BIGINT) AS med2x
         |  FROM scoresf),
         |pplf AS (
         |  SELECT doc_id, lm_score_e6 * 2 >= medf.med2x AS f_ppl
         |  FROM scoresf, medf),
         |j AS (
         |  SELECT rep.doc_id, rep.f_rule, clf.f_clf, pplf.f_ppl
         |  FROM rep JOIN clf USING (doc_id) JOIN pplf USING (doc_id)),
         |a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(CASE WHEN f_rule AND f_clf THEN 1 ELSE 0 END), 0) AS BIGINT) AS rc11,
         |    CAST(COALESCE(SUM(CASE WHEN f_rule AND NOT f_clf THEN 1 ELSE 0 END), 0) AS BIGINT) AS rc10,
         |    CAST(COALESCE(SUM(CASE WHEN NOT f_rule AND f_clf THEN 1 ELSE 0 END), 0) AS BIGINT) AS rc01,
         |    CAST(COALESCE(SUM(CASE WHEN f_rule AND f_ppl THEN 1 ELSE 0 END), 0) AS BIGINT) AS rp11,
         |    CAST(COALESCE(SUM(CASE WHEN f_rule AND NOT f_ppl THEN 1 ELSE 0 END), 0) AS BIGINT) AS rp10,
         |    CAST(COALESCE(SUM(CASE WHEN NOT f_rule AND f_ppl THEN 1 ELSE 0 END), 0) AS BIGINT) AS rp01,
         |    CAST(COALESCE(SUM(CASE WHEN f_clf AND f_ppl THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp11,
         |    CAST(COALESCE(SUM(CASE WHEN f_clf AND NOT f_ppl THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp10,
         |    CAST(COALESCE(SUM(CASE WHEN NOT f_clf AND f_ppl THEN 1 ELSE 0 END), 0) AS BIGINT) AS cp01
         |  FROM j),
         |rows3 AS (
         |  SELECT 'clf_ppl' AS pair, n, cp11 AS n11, cp10 AS n10, cp01 AS n01 FROM a
         |  UNION ALL SELECT 'rep_clf', n, rc11, rc10, rc01 FROM a
         |  UNION ALL SELECT 'rep_ppl', n, rp11, rp10, rp01 FROM a),
         |${duckKappaTail("pair", "rows3")}""".stripMargin,

    // the decile axis: NTILE(10) over the shared bigram-LM scores (the
    // q191-gated rank-tile equivalence), 9 head-cut binary raters
    // κ-scored against the classifier in ONE contingency aggregate —
    // the κ tail is the q220 expression tree verbatim per row
    "q225_decile_agreement" -> {
      val cuts = 1 to 9
      val sums = cuts.map { k =>
        s"""    CAST(COALESCE(SUM(CASE WHEN decile <= $k AND f_clf THEN 1 ELSE 0 END), 0) AS BIGINT) AS a$k,
           |    CAST(COALESCE(SUM(CASE WHEN decile <= $k AND NOT f_clf THEN 1 ELSE 0 END), 0) AS BIGINT) AS b$k,
           |    CAST(COALESCE(SUM(CASE WHEN decile > $k AND f_clf THEN 1 ELSE 0 END), 0) AS BIGINT) AS c$k""".stripMargin
      }.mkString(",\n")
      val rows = cuts.map { k =>
        if (k == 1) s"  SELECT CAST(1 AS BIGINT) AS cut, n, a1 AS n11, b1 AS n10, c1 AS n01 FROM a"
        else s"  UNION ALL SELECT CAST($k AS BIGINT), n, a$k, b$k, c$k FROM a"
      }.mkString("\n")
      s"""WITH ct AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |clf AS (
         |  SELECT doc_id, ${TextAnalysis.duckClassifierScoreE3} > 0 AS f_clf
         |  FROM ct WHERE len(toks) > 0),
         |$bigramLmCtes,
         |scoresf AS (
         |  SELECT doc_id,
         |    CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6
         |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
         |  GROUP BY doc_id),
         |dec AS (
         |  SELECT doc_id,
         |    CAST(NTILE(10) OVER (ORDER BY lm_score_e6 DESC, doc_id) AS BIGINT) AS decile
         |  FROM scoresf),
         |j AS (SELECT dec.decile, clf.f_clf FROM dec JOIN clf USING (doc_id)),
         |a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |$sums
         |  FROM j),
         |rows9 AS (
         |$rows),
         |${duckKappaTail("cut", "rows9")}""".stripMargin
    },

    // eval-shingle position matches feed the SHARED merge/remove-all/
    // rebuild tail (SuffixDedup.duckSpanCutTail — one cut fragment for
    // q204/q214/q216, no fork)
    "q216_decontam_scrub" ->
      s"""WITH eval_sh AS (
         |  SELECT DISTINCT unnest(list_transform(range(1, greatest(1, len(toks) - 4)),
         |    i -> array_to_string(toks[i:i+5], ' '))) AS shingle
         |  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
         |        FROM documents WHERE doc_id % 97 = 3)),
         |mx AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         |pl AS (
         |  SELECT did + mx.off AS doc_id,
         |    'cs' || CAST(did AS VARCHAR) || ' ' ||
         |    array_to_string(toks[2:56], ' ') ||
         |    ' ce' || CAST(did AS VARCHAR) AS text
         |  FROM (SELECT doc_id AS did, regexp_split_to_array(trim(text), '\\s+') AS toks
         |        FROM documents) CROSS JOIN mx
         |  WHERE did % 97 = 3 AND len(toks) >= 62),
         |tr AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 != 3
         |  UNION ALL SELECT doc_id, text FROM pl),
         |sct AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM tr),
         |scsp AS (
         |  SELECT w.doc_id, w.i AS s, w.i + 6 AS e FROM (
         |    SELECT doc_id, i, array_to_string(toks[i:i+5], ' ') AS sh
         |    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 4)) AS i
         |          FROM sct WHERE len(toks) >= 6)) w
         |  JOIN eval_sh e ON w.sh = e.shingle),
         |${graft.operators.SuffixDedup.duckSpanCutTail("sc")}
         |SELECT doc_id, n_tokens,
         |  CAST(n_tokens - n_kept AS BIGINT) AS n_removed,
         |  md5(txt) AS clean_fp
         |FROM scres ORDER BY doc_id""".stripMargin,

    "q93_bloom_decontam" ->
      s"""WITH ev AS (
         |  SELECT DISTINCT ${duckHash48("text")} AS fp
         |  FROM documents WHERE doc_id % 97 = 3),
         |train AS (
         |  SELECT doc_id, ${duckHash48("text")} AS fp
         |  FROM documents WHERE doc_id % 97 != 3
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, ${duckHash48("text")} AS fp
         |  FROM documents WHERE doc_id % 97 = 3)
         |SELECT doc_id FROM train t
         |WHERE NOT EXISTS (SELECT 1 FROM ev e WHERE e.fp = t.fp)
         |ORDER BY doc_id""".stripMargin,

    "q63_source_cap" ->
      """SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15 ORDER BY source, rk""".stripMargin,

    "q148_source_entropy" ->
      """WITH c AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |g AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM c WHERE tok <> '' GROUP BY source, tok),
        |t AS (
        |  SELECT source, CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot,
        |    CAST(round(1e9 * -(c / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE)) * ln(c / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE))) AS BIGINT) AS h_term_e9
        |  FROM g),
        |e AS (
        |  SELECT source, MAX(tot) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(h_term_e9) AS BIGINT) AS entropy_e9
        |  FROM t GROUP BY source)
        |SELECT source, n_tokens, n_types, entropy_e9,
        |  CASE WHEN n_types > 1 THEN CAST(round(1e4 * (entropy_e9 / 1e9) / ln(n_types)) AS BIGINT) ELSE 0 END AS norm_e4
        |FROM e ORDER BY source""".stripMargin,

    // DSIR: per-bucket bigram log-ratio e6-rounded at the model (ln
    // operand order mirrors the Spark side exactly), exact integer
    // per-doc sums, top-quartile keep via the med2x percentile trick.
    "q150_dsir_weight" ->
      s"""WITH $dsirCtes,
         |thr AS (
         |  SELECT CAST(round(2 * quantile_cont(spb_e4, 0.75)) AS BIGINT) AS thr2x FROM sc)
         |SELECT doc_id, n_ngrams, logw_e6, spb_e4,
         |  2 * spb_e4 >= thr2x AS keep
         |FROM sc, thr ORDER BY doc_id""".stripMargin,

    // the q150 keep set feeding the q160 temperature tail verbatim —
    // selection then mixture, one shared dsir chain
    "q195_dsir_mixture" ->
      s"""WITH $dsirCtes,
         |thr AS (
         |  SELECT CAST(round(2 * quantile_cont(spb_e4, 0.75)) AS BIGINT) AS thr2x FROM sc),
         |kept AS (SELECT doc_id FROM sc, thr WHERE 2 * spb_e4 >= thr2x),
         |per_source AS (
         |  SELECT source,
         |    CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
         |  FROM documents JOIN kept USING (doc_id) GROUP BY 1),
         |p AS (
         |  SELECT source, n_tokens,
         |    CAST(round(1e9 * pow(CAST(n_tokens AS DOUBLE), 0.3)) AS BIGINT) AS p_e9
         |  FROM per_source),
         |q AS (
         |  SELECT *, CAST(SUM(p_e9) OVER () AS BIGINT) AS tot FROM p),
         |a AS (
         |  SELECT source, n_tokens, p_e9,
         |    (1000000 * p_e9) // tot AS w_e6,
         |    (10000 * p_e9) // tot AS quota,
         |    (10000 * p_e9) % tot AS rem
         |  FROM q),
         |r AS (
         |  SELECT *,
         |    CAST(10000 - SUM(quota) OVER () AS BIGINT) AS leftover,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
         |  FROM a)
         |SELECT source, n_tokens, p_e9, w_e6,
         |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
         |FROM r ORDER BY source""".stripMargin,

    // dedup winners → token-budget largest remainder → decay valuation;
    // exp e6-rounded once per source (the q187 convention); the corpus
    // CTE comes from the shared q192 locality fragment
    "q197_data_constrained" ->
      s"""WITH ${Dedup.duckLocalityCtes},
        |$duckEffectiveCtes
        |SELECT source, u_tokens, alloc_tokens, rep_e4,
        |  CAST(eff_tokens AS BIGINT) AS eff_tokens,
        |  CAST(10000 - (10000 * eff_tokens) // greatest(alloc_tokens, 1) AS BIGINT) AS waste_e4
        |FROM f ORDER BY source""".stripMargin,

    // the card: locality + head-share + valuation, every chain the
    // shared fragment its standalone gate runs
    "q200_datacard_v2" ->
      s"""WITH ${Dedup.duckLocalityCtes},
        |loc AS (
        |  SELECT source, n_docs,
        |    (10000 * n_drop_global) // n_docs AS dup_frac_e4,
        |    (10000 * (n_drop_global - n_drop_local)) // greatest(n_drop_global, 1) AS missed_local_frac_e4
        |  FROM agg),
        |$bigramLmCtes,
        |bscores AS (
        |  SELECT doc_id, CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS lm_score_e6
        |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
        |  GROUP BY doc_id),
        |buck AS (
        |  SELECT s.doc_id, d.source,
        |    NTILE(3) OVER (PARTITION BY d.lang ORDER BY s.lm_score_e6 DESC, s.doc_id) AS bucket
        |  FROM bscores s JOIN documents d USING (doc_id)),
        |head AS (
        |  SELECT source,
        |    (10000 * CAST(SUM(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS head_share_e4
        |  FROM buck GROUP BY source),
        |$duckEffectiveCtes
        |SELECT l.source, l.n_docs, l.dup_frac_e4, l.missed_local_frac_e4,
        |  h.head_share_e4, f.u_tokens, f.alloc_tokens,
        |  CAST(f.eff_tokens AS BIGINT) AS eff_tokens,
        |  CAST(10000 - (10000 * f.eff_tokens) // greatest(f.alloc_tokens, 1) AS BIGINT) AS waste_e4
        |FROM loc l JOIN head h USING (source) JOIN f USING (source)
        |ORDER BY l.source""".stripMargin,

    // Tie-aware Mann-Whitney AUC from score-bucketed counts: 2U kept
    // integral (half-ranks never materialize), floor-div matches
    // Spark's `div` on the all-positive operands.
    "q151_dsir_auc" ->
      s"""WITH $dsirCtes,
         |byscore AS (
         |  SELECT spb_e4,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM sc GROUP BY spb_e4),
         |cum AS (
         |  SELECT np, nn,
         |    COALESCE(SUM(nn) OVER (ORDER BY spb_e4
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
         |  FROM byscore)
         |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
         |  CAST((1000000 * SUM(np * (2 * cumneg + nn))) // (2 * SUM(np) * SUM(nn)) AS BIGINT) AS auc_e6,
         |  CAST((1000000 * SUM(np * (2 * cumneg + nn))) // (2 * SUM(np) * SUM(nn)) AS BIGINT) >= 950000 AS floor_ok
         |FROM cum""".stripMargin,

    "q146_split_novelty" ->
      """WITH l AS (
        |  SELECT doc_id, text,
        |    CASE WHEN ((doc_id % 1000000007) * 2654435761 + 40503) % 10000 < 6400 THEN 'train'
        |         WHEN ((doc_id % 1000000007) * 2654435761 + 40503) % 10000 < 8000 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, split, regexp_split_to_array(trim(text), '\s+') AS toks FROM l),
        |sh AS (
        |  SELECT doc_id, split,
        |    unnest(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS sh
        |  FROM t WHERE len(toks) >= 2),
        |tr AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
        |e AS (
        |  SELECT s.doc_id, s.split, (tr.sh IS NOT NULL) AS seen
        |  FROM sh s LEFT JOIN tr ON s.sh = tr.sh
        |  WHERE s.split <> 'train')
        |SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
        |  CAST(round(1e4 * SUM(CASE WHEN seen THEN 0 ELSE 1 END) / COUNT(*)) AS BIGINT) AS novelty_e4
        |FROM e GROUP BY doc_id, split ORDER BY doc_id""".stripMargin,

    "q142_budget_mixture" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |sc AS (
         |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    ${TextAnalysis.duckClassifierScoreE3} AS score_e3
         |  FROM t WHERE len(toks) > 0),
         |c AS (
         |  SELECT doc_id, source, n_tokens, score_e3,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY score_e3 DESC, doc_id) AS BIGINT) AS cum_tokens
         |  FROM sc)
         |SELECT doc_id, source, n_tokens, score_e3, cum_tokens
         |FROM c WHERE cum_tokens <= 800 ORDER BY source, cum_tokens""".stripMargin,

    "q65_text_chunks" ->
      """SELECT doc_id,
        |  (start - 1) // 300 AS chunk_idx,
        |  CAST(start AS BIGINT) AS start,
        |  CAST(length(substr(text, CAST(start AS INTEGER), 400)) AS BIGINT) AS chunk_len,
        |  md5(substr(text, CAST(start AS INTEGER), 400)) AS chunk_md5
        |FROM (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1, 300)) AS start
        |  FROM documents WHERE length(text) >= 1)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q114_quantile_filter" ->
      """WITH med AS (
        |  SELECT lang, CAST(ROUND(2 * median(n_chars)) AS BIGINT) AS med2x
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, med.med2x
        |FROM documents d JOIN med ON d.lang = med.lang
        |WHERE d.n_chars * 2 >= med.med2x
        |ORDER BY d.doc_id""".stripMargin,

    "q66_vocab_topk" ->
      """SELECT tok, count(*) AS cnt FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
        |WHERE tok != ''
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 50""".stripMargin,

    "q135_domain_shift" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |t2 AS (SELECT source, tok FROM toks WHERE tok != ''),
        |by_src AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
        |  FROM t2 GROUP BY 1, 2),
        |src_tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM by_src GROUP BY 1),
        |tok_tot AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM by_src GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM src_tot),
        |scored AS (
        |  SELECT b.source, b.tok, b.c_st,
        |    (b.c_st * t.n_tot * 1000) // (s.n_s * k.c_t) AS ratio_e3
        |  FROM by_src b JOIN src_tot s USING (source) JOIN tok_tot k USING (tok), tot t
        |  WHERE b.c_st >= 5)
        |SELECT source, tok, c_st, ratio_e3, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY ratio_e3 DESC, tok) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    "q67_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok != '' GROUP BY 1, 2),
        |df AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    (tf.tf * 1000000) // df.df AS score_e6,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY (tf.tf * 1000000) // df.df DESC, tf.tok) AS rk
        |  FROM tf JOIN df USING (tok))
        |SELECT doc_id, tok, tf, df, score_e6, CAST(rk AS BIGINT) AS rk
        |FROM scored WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin
  )
}
