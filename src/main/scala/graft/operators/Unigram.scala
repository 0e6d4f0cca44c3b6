package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** Unigram-LM tokenizer, single-shot Viterbi fit (q180) — the third
  * tokenizer family next to BPE and greedy WordPiece: piece inventory =
  * the q173 frequency-seeded vocabulary, piece log-probs from its exact
  * counts, segmentation = the TRUE Viterbi optimum per word (Kudo 2018
  * §3, decoding with ℓ(x) = Σ log p(piece) maximized over the whole
  * lattice — not the greedy approximation). The EM re-estimation loop
  * stays documented out of scope: soft expected counts are normalized
  * lattice sums (products), which the integer fixed-point oracle
  * contract can't carry; the VITERBI decode needs only SUMS of
  * e6-rounded logs, so it fits the contract exactly.
  *
  * The whole DP rides ONE packed integer per lattice position:
  * packed = (score_e6 + 10^12)·1024 + (1023 − ntok). Extending a path by
  * a piece with score s is `packed + s·1024 − 1` (pure addition), and
  * integer MAX implements the (max score, then min tokens) tie-break in
  * one comparison — both engines agree on integer max, so segmentation
  * scores AND token counts are cross-engine exact. The 10-bit token
  * budget caps words at 1023 chars, ENFORCED in-plan ON BOTH ENGINES
  * (Spark raise_error here, a matching error() arm in the twin's useg
  * CTE — the contract fails loudly on whichever side hits it first,
  * never silently corrupts the oracle).
  *
  * Scale shape — the BPE/WordPiece bound: the word-TYPE count is the
  * only corpus-sized training stage; scoring runs per TYPE as an IN-ROW
  * fold over the word's positions (≤ 6 candidate pieces per position
  * looked up in a per-word score map — no joins, no shuffles inside the
  * DP), and the apply is the type-sized segment frame joined (UNhinted
  * — it scales with distinct words, so AQE broadcasts it only when
  * genuinely small; see [[Bpe.bpeTokenCounts]]) onto one corpus scan. The DuckDB twin walks the same recurrence as a
  * recursive CTE carrying the last 6 packed bests as columns (the
  * aggregate-free sliding window a recursive term allows), so the two
  * engines take structurally different routes to the same integers —
  * the q168/q176 in-row vs declarative convention. */
object Unigram {

  /** Score offset: keeps packed values positive (a word's total log
    * score is ≥ −2.8e10 at the 1023-char guard; 10^12 dwarfs it). */
  private val Off = 1000000000000L

  /** (w, n_uni, score_e6) per word TYPE — the Viterbi-optimal token
    * count and path score under the seeded unigram model. */
  private[graft] def segCounts(types: DataFrame): DataFrame = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    viterbiCounts(cands, seedScores(cands))
  }

  /** The SEED piece scores — e6-rounded log-prob of each q173 vocab
    * piece against the vocabulary's exact count total (1-row broadcast). */
  private def seedScores(cands: DataFrame): DataFrame =
    scoresOf(WordPiece.vocabFrom(cands))

  /** (s, c) → (s, s_e6): e6-rounded ln(c) − ln(Σc). Shared by the seed
    * fit and the q184 hard-EM re-fit — the M-step IS this formula over
    * re-estimated counts. */
  private def scoresOf(counted: DataFrame): DataFrame = {
    val tot = counted.agg(sum("c").as("tot"))
    counted.crossJoin(broadcast(tot))
      .selectExpr("s", "cast(round(1e6 * (ln(c) - ln(tot))) as bigint) AS s_e6")
  }

  /** Per word: map (start·8 + len) → piece score, for the in-row DP.
    * `scored` is the model — vocabulary-sized (bounded), so the hint
    * is structurally safe. */
  private def scoreMapOf(cands: DataFrame, scored: DataFrame): DataFrame =
    cands
      .join(broadcast(scored), Seq("s"))
      .groupBy("w")
      .agg(map_from_entries(collect_list(
        struct((col("pos") * 8 + col("l")).as("k"), col("s_e6").as("v")))).as("m"))

  private val base = s"array(cast(${Off}L * 1024 + 1023 AS bigint))"

  // best(i) = max over piece lengths l of best(i−l) + s·1024 − 1; the
  // accumulator is the best-array so far (acc[i+1] = best(i)), grown
  // one position per step — array_max skips the null (no-piece) arms
  private def dp(finish: String) =
    s"""aggregate(
       |  sequence(1, length(w)),
       |  $base,
       |  (acc, i) -> concat(acc, array(array_max(
       |    transform(sequence(1, least(${WordPiece.MaxPieceLen}, i)),
       |      l -> element_at(acc, i - l + 1) +
       |           element_at(m, cast((i - l) * 8 + l AS bigint)) * 1024L - 1L)))),
       |  $finish)""".stripMargin

  /** (w, n_uni, score_e6) per type under an arbitrary scored piece set
    * (the seed fit and the EM re-fit share this decode verbatim). */
  private def viterbiCounts(cands: DataFrame, scored: DataFrame): DataFrame =
    scoreMapOf(cands, scored)
      .selectExpr("w",
        // the 10-bit token budget binds at 1023 chars — refuse loudly
        s"""IF(length(w) > 1023,
           |   cast(raise_error(concat('unigram: word past the 1023-char packed budget: ', w)) AS bigint),
           |   ${dp("acc -> element_at(acc, size(acc))")}) AS packed""".stripMargin)
      .selectExpr("w",
        "cast(1023 - (packed % 1024) AS bigint) AS n_uni",
        s"cast((packed div 1024) - ${Off}L AS bigint) AS score_e6")

  /** (w, s) — the pieces on each type's Viterbi path, WITH multiplicity
    * (one row per path step): the E-step of hard EM. The forward DP
    * keeps its whole best-array; the path is then re-read BACKWARD by
    * an in-row fold — at position i the chosen arm is the SMALLEST l
    * whose extension equality best(i−l) + s·1024 − 1 = best(i) holds
    * (packed equality ⇒ same score AND token count, so min-l is a
    * total deterministic tie-break both engines apply identically; the
    * twin's `choice` CTE is MIN(l) over the same equality). Runs per
    * word TYPE — the HOF-fold cost rides the type table, never the
    * corpus (the q176 kernel lesson's boundary). */
  private def viterbiPieces(cands: DataFrame, scored: DataFrame): DataFrame = {
    val pickL =
      s"""element_at(filter(sequence(1L, least(${WordPiece.MaxPieceLen}L, st.i)),
         |  l -> element_at(best, cast(st.i - l + 1 AS int)) +
         |       element_at(m, (st.i - l) * 8 + l) * 1024L - 1L =
         |       element_at(best, cast(st.i + 1 AS int))), 1)""".stripMargin
    val backtrack =
      s"""aggregate(
         |  sequence(1, length(w)),
         |  named_struct('i', cast(length(w) AS bigint),
         |               'ps', cast(array() AS array<string>)),
         |  (st, z) -> IF(st.i = 0, st, named_struct(
         |    'i', st.i - $pickL,
         |    'ps', concat(st.ps, array(substring(w,
         |            cast(st.i - $pickL + 1 AS int), cast($pickL AS int)))))),
         |  st -> st.ps)""".stripMargin
    scoreMapOf(cands, scored)
      .selectExpr("w",
        s"""IF(length(w) > 1023,
           |   cast(raise_error(concat('unigram: word past the 1023-char packed budget: ', w)) AS array<bigint>),
           |   ${dp("acc -> acc")}) AS best""".stripMargin,
        "m")
      .selectExpr("w", s"$backtrack AS pieces")
      .selectExpr("w", "explode(pieces) AS s")
  }

  /** ONE hard-EM round (Viterbi EM, Kudo 2018's E-step with hard
    * assignments): re-estimate piece counts from the SEED model's
    * Viterbi segmentations (integer counts by construction — c'(s) =
    * Σ_types cnt × uses-on-path, so the M-step stays inside the
    * fixed-point oracle contract; the soft-EM lattice sums that
    * contract can't carry remain out of scope and say so), re-fit
    * scores over the survivors, decode again. Pieces off every path
    * drop out (the standard EM prune); coverage survives because each
    * type's OWN path pieces keep count ≥ cnt ≥ 1. Classic hard-EM
    * monotonicity: the refit corpus Viterbi score is non-decreasing vs
    * the seed fit (UnigramSpec pins it, strictly-better witness
    * included). */
  private[graft] def emRefitCounts(types: DataFrame): DataFrame = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    val used = viterbiPieces(cands, seedScores(cands))
      .join(types.select("w", "cnt"), Seq("w"))
      .groupBy("s").agg(sum("cnt").as("c"))
    viterbiCounts(cands, scoresOf(used))
  }

  /** One M-step: re-estimated integer piece counts from the Viterbi
    * paths under `scored` (Σ type cnt × on-path multiplicity). */
  private def emCounts(cands: DataFrame, types: DataFrame,
      scored: DataFrame): DataFrame =
    viterbiPieces(cands, scored)
      .join(types.select("w", "cnt"), Seq("w"))
      .groupBy("s").agg(sum("cnt").as("c"))

  /** q206 — the hard-EM loop run to its integer FIXED POINT under a
    * bounded round cap (Kudo 2018's EM iterated, still in hard/Viterbi
    * form — the soft-EM lattice sums stay outside the fixed-point
    * oracle contract and say so at q180): round r's E-step segments
    * every type under the round-(r−1) model (the min-l deterministic
    * backtrack), the M-step recounts pieces and refits e6 scores.
    *
    * Why a FIXED-depth DuckDB twin can oracle a CONVERGENT loop: the
    * round map counts → scoresOf(counts) → paths → counts is
    * deterministic (integer scores, total min-l tie-break), so equal
    * consecutive count frames make every later round the identity —
    * EM^cap ≡ EM^converged whenever the fixed point lands within the
    * cap. The Spark side therefore detects convergence (exact frame
    * equality, two vocab-sized EXCEPTs per round — model-state-class
    * work) and stops early; the twin unrolls all `cap` rounds
    * unconditionally; the hashes agree either way, converged or not.
    * UnigramSpec witnesses that at test SF the fixed point IS reached
    * inside the cap and that the per-round corpus Viterbi score is
    * monotone non-decreasing on the way there.
    *
    * Returns the per-round count frames (round 1 = counts off the seed
    * paths) and whether a fixed point was certified. Scale shape per
    * round: everything rides the word-TYPE table (paths re-derived
    * in-row per type, counts one hash aggregate); the loop state is one
    * vocab-sized checkpointed frame. */
  private[graft] def emHistory(types: DataFrame,
      cap: Int): (Seq[DataFrame], Boolean) = {
    require(cap >= 1)
    val cands = WordPiece.candidates(types).localCheckpoint()
    var counts = emCounts(cands, types, seedScores(cands)).localCheckpoint()
    val hist = scala.collection.mutable.ArrayBuffer(counts)
    var converged = false
    while (!converged && hist.size < cap) {
      val next = emCounts(cands, types, scoresOf(counts)).localCheckpoint()
      converged = next.except(counts).isEmpty && counts.except(next).isEmpty
      if (!converged) { counts = next; hist += next }
    }
    (hist.toSeq, converged)
  }

  // ------------------------------------------------------------- soft EM

  /** Per-word piece PROBABILITIES for the soft-EM lattice: map
    * (pos·8 + l) → p as a DOUBLE, p = c/tot of the integer counts. The
    * whole soft E-step is +/×/÷ on doubles in a FIXED evaluation order
    * (no transcendentals), and IEEE elementary ops are bit-exact across
    * engines — so unlike the q187 exp convention (1-ulp risk class),
    * the lattice masses here are cross-engine IDENTICAL doubles and the
    * single e6 rounding boundary can never flip. */
  private def probMapOf(cands: DataFrame, counted: DataFrame): DataFrame = {
    val tot = counted.agg(sum("c").as("tot"))
    val probs = counted.crossJoin(broadcast(tot))
      .selectExpr("s", "cast(c as double) / cast(tot as double) AS p")
    cands.join(broadcast(probs), Seq("s"))
      .groupBy("w")
      .agg(map_from_entries(collect_list(
        struct((col("pos") * 8 + col("l")).as("k"), col("p").as("v")))).as("m"))
  }

  private val Arms = WordPiece.MaxPieceLen

  /** Forward lattice mass as an in-row fold: fwd[i+1] = α(i) =
    * Σ_{l=1..min(6,i)} α(i−l)·p(start=i−l, len=l), α(0) = 1. The inner
    * fold runs l ASCENDING from 0.0 — the twin's COALESCE arms add in
    * the identical left-to-right order, so the double sums agree bit
    * for bit (IEEE + fixed order, the scaladoc argument above). */
  private def fwdSql: String =
    s"""aggregate(sequence(1, length(w)), array(cast(1.0 as double)),
       |  (acc, i) -> concat(acc, array(
       |    aggregate(sequence(1, least($Arms, i)), cast(0.0 as double),
       |      (a, l) -> a + coalesce(element_at(acc, cast(i - l + 1 as int)) *
       |        element_at(m, cast((i - l) * 8 + l as bigint)), 0d)))),
       |  acc -> acc)""".stripMargin

  /** Backward mass, built END-first: bwd[z+1] = β(N−z) =
    * Σ_{l} p(start=N−z, len=l)·β(N−z+l), β(N) = 1 — so β(i) =
    * bwd[N−i+1]. Term order: p·β (the twin writes the same operand
    * order; IEEE multiplication is exact either way, the ORDER of the
    * ADDITIONS is what must match). */
  private def bwdSql: String =
    s"""aggregate(sequence(1, length(w)), array(cast(1.0 as double)),
       |  (acc, z) -> concat(acc, array(
       |    aggregate(sequence(1, least($Arms, z)), cast(0.0 as double),
       |      (a, l) -> a + coalesce(element_at(m, cast((length(w) - z) * 8 + l as bigint)) *
       |        element_at(acc, cast(z - l + 1 as int)), 0d)))),
       |  acc -> acc)""".stripMargin

  /** Soft-EM E-step (Kudo 2018's ACTUAL E-step — the lattice
    * forward-backward the hard/Viterbi rounds q184/q206 approximate):
    * per word TYPE, every edge (start p, length l)'s expected count
    * E = ((α(p)·p_piece)·β(p+l)) / α(N), e6-rounded ONCE PER EDGE (the
    * single documented rounding boundary — edges then sum as integers,
    * associatively, so neither engine's aggregation order matters).
    * Runs entirely IN-ROW per type: the edges explode from the score
    * map's own keys (piece strings re-derived by substring), so the
    * lattice arrays are built once per word and never duplicated
    * through a join — the q176 kernel boundary. α(N) = 0 (deterministic
    * double underflow, identical on both engines) fails LOUDLY on both
    * sides rather than emitting NaN counts. Output: (w, s, ec). */
  private[graft] def softEdges(probMap: DataFrame): DataFrame =
    probMap
      .selectExpr("w", "m", s"$fwdSql AS fwd", s"$bwdSql AS bwd")
      .selectExpr("w",
        s"""transform(
           |  transform(map_keys(m), k -> named_struct(
           |    'p', cast(k div 8 as int), 'l', cast(k % 8 as int), 'k', k)),
           |  e -> named_struct(
           |    's', substring(w, e.p + 1, e.l),
           |    'ec', IF(element_at(fwd, length(w) + 1) <= 0d,
           |      cast(raise_error(concat(
           |        'unigram soft-em: lattice mass underflowed for word: ', w)) as bigint),
           |      cast(round(1e6 * (((element_at(fwd, e.p + 1) * element_at(m, e.k)) *
           |        element_at(bwd, length(w) - e.p - e.l + 1)) /
           |        element_at(fwd, length(w) + 1))) as bigint)))) AS edges""".stripMargin)
      .selectExpr("w", "explode(edges) AS e")
      .selectExpr("w", "e.s AS s", "e.ec AS ec")

  /** Soft M-step: c′(s) = max(1, Σ_types cnt·ec(type, s-edges)) — the
    * e6-scaled integer expected counts (the common e6 factor cancels in
    * [[scoresOf]]'s log-ratio). The 1-at-e6 floor (10⁻⁶ of one
    * occurrence) keeps every inventory piece's log-prob finite, so the
    * lattice stays total — soft-EM here re-estimates a FIXED inventory
    * (Kudo's loss-ranked vocabulary pruning is a separate mechanism —
    * q222's outer loop ([[pruneHistory]]), which CONSUMES this E+M
    * step per round, deliberately not conflated with it). */
  private def softCounts(types: DataFrame, cands: DataFrame,
      counted: DataFrame): DataFrame =
    softEdges(probMapOf(cands, counted))
      .join(types.select("w", "cnt"), Seq("w"))
      .groupBy("s")
      .agg(greatest(lit(1L), sum(expr("cnt * ec"))).as("c"))

  /** The q213 round cap (both engines run this depth; the twin
    * unrolled, the Spark loop early-exiting at the fixed point — the
    * q206 identity argument verbatim). */
  private[graft] val SoftEmCap = 2

  /** q213 — the soft-EM loop to its integer fixed point under the cap:
    * round r re-estimates e6 expected counts under the round-(r−1)
    * model (round 1: the q173 seed counts). Same loop shape, detection
    * and oracle argument as [[emHistory]]; only the E-step differs —
    * expected counts over the WHOLE lattice instead of hard counts on
    * the Viterbi path. */
  private[graft] def softEmHistory(types: DataFrame,
      cap: Int): (Seq[DataFrame], Boolean) = {
    require(cap >= 1)
    val cands = WordPiece.candidates(types).localCheckpoint()
    var counts = softCounts(types, cands, WordPiece.vocabFrom(cands))
      .localCheckpoint()
    val hist = scala.collection.mutable.ArrayBuffer(counts)
    var converged = false
    while (!converged && hist.size < cap) {
      val next = softCounts(types, cands, counts).localCheckpoint()
      converged = next.except(counts).isEmpty && counts.except(next).isEmpty
      if (!converged) { counts = next; hist += next }
    }
    (hist.toSeq, converged)
  }

  // ------------------------------------------- loss-ranked vocab pruning

  /** The q222 prune schedule: rounds of (soft E+M → loss-rank → prune),
    * each keeping the top ⌈3K/5⌉ of the K current multi-char pieces
    * (the alphabet is never pruned — totality). Both engines run
    * exactly this depth, the twin unrolled. */
  private[graft] val PruneRounds = 2

  /** Per-piece ALTERNATIVE segmentation score: the Viterbi decode of
    * each multi-char inventory piece's OWN string under the current
    * model with the piece's full-cover slice excluded — i.e. the best
    * the model can do on that string USING ONLY OTHER PIECES (the
    * only slice of w equal to w is the (0, len) one, so dropping it is
    * exactly "remove w from the model" for w's own lattice; w stays
    * available as a sub-piece of every other piece's alt decode, which
    * is Kudo's one-piece-at-a-time marginal). Pieces are ≤
    * [[WordPiece.MaxPieceLen]] chars and the inventory is
    * model-sized (alphabet + MultiVocab), so this whole frame is
    * bounded — the in-row DP rides ≤ vocab rows. Output: (s, alt_e6). */
  private def altScores(counts: DataFrame, scored: DataFrame): DataFrame = {
    val pieces = counts.where("length(s) > 1")
      .selectExpr("s AS w", "cast(1 as bigint) AS cnt")
    val pcands = WordPiece.candidates(pieces)
      .where("NOT (pos = 0 AND l = length(w))")
    viterbiCounts(pcands, scored).selectExpr("w AS s", "score_e6 AS alt_e6")
  }

  /** Per-piece PRUNE LOSS under `counts` (the current expected-count
    * model): loss(s) = c(s) × (score(s) − alt(s)) — the likelihood the
    * corpus loses when s is removed and its expected mass re-segments
    * through the alternative path (Kudo 2018 §3.2's loss, the
    * SentencePiece prune criterion). Exact integers end to end: c and
    * both e6 scores are integers, the product rides DECIMAL(38,0)
    * (c ~ 1e13 × Δ ~ 1e8 overflows Long; the twin multiplies in
    * HUGEINT — ranking-only, never emitted, and integer order is
    * engine-independent). Output: (s, c, loss) for multi-char pieces. */
  private def pruneLosses(counts: DataFrame): DataFrame = {
    val scored = scoresOf(counts)
    counts.where("length(s) > 1")
      .join(scored, Seq("s"))
      .join(altScores(counts, scored), Seq("s"))
      .selectExpr("s", "c",
        "cast(c as decimal(38,0)) * cast(s_e6 - alt_e6 as decimal(38,0)) AS loss")
  }

  /** The prune loop: round r runs ONE soft E+M step under the current
    * inventory (round 1: the q173 seed), ranks the multi-char pieces by
    * [[pruneLosses]] (loss DESC, ties by piece — the deterministic
    * tiebreak convention) and keeps the top ⌈3K/5⌉ plus the whole
    * alphabet. Returns the per-round surviving (s, c) inventories.
    * Scale shape: every round is one q213 E-step (type-table-bound) +
    * a vocab-sized loss rank (the global window and the driver-side
    * K count both ride the bounded model frame, alphabet +
    * [[WordPiece.MultiVocab]] rows — never the corpus). */
  private[graft] def pruneHistory(types: DataFrame,
      rounds: Int): Seq[DataFrame] = {
    require(rounds >= 1)
    import org.apache.spark.sql.expressions.Window
    val cands = WordPiece.candidates(types).localCheckpoint()
    var inv = WordPiece.vocabFrom(cands)
    val hist = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to rounds).foreach { _ =>
      val counts = softCounts(types, cands, inv).localCheckpoint()
      val losses = pruneLosses(counts)
      val k = losses.count() // model-sized (≤ alphabet + MultiVocab)
      val keepN = (3 * k + 4) / 5
      val kept = losses
        .withColumn("rk", row_number().over(
          Window.orderBy(col("loss").desc, col("s"))))
        .where(s"rk <= $keepN").select("s")
      inv = counts.where("length(s) = 1").select("s", "c")
        .unionByName(counts.join(broadcast(kept), Seq("s"), "left_semi")
          .select("s", "c"))
        .localCheckpoint()
      hist += inv
    }
    hist.toSeq
  }

  /** Memo of the q222 pruned INVENTORY (the [[PruneRounds]]-deep prune
    * loop's final (s, c) frame) — shared by the q222 decode and the
    * q228 n-best apply, so the two consume the IDENTICAL trained
    * model. */
  private val prunedInvMemo = Memos.dirMemo[DataFrame]
  private[graft] def prunedInvFor(s: SparkSession, dir: String): DataFrame =
    prunedInvMemo((s, dir)) {
      val types = WordPiece.wordTypes(Tables.documents(s, dir))
      pruneHistory(types, PruneRounds).last
    }

  /** Memo of the q222 pruned-model seg frame: the pruned inventory
    * decoded over the corpus types (the final model's scores are the
    * log-ratios of the surviving counts — the twin decodes under the
    * same `pinv` frame). */
  private val prunedSegMemo = Memos.dirMemo[DataFrame]
  private[graft] def prunedSegFor(s: SparkSession, dir: String): DataFrame =
    prunedSegMemo((s, dir)) {
      val types = WordPiece.wordTypes(Tables.documents(s, dir))
      val cands = WordPiece.candidates(types).localCheckpoint()
      viterbiCounts(cands, scoresOf(prunedInvFor(s, dir))).localCheckpoint()
    }

  // ------------------------------------------- n-best apply (Kudo §4)

  /** q228's list depth — the n of the n-best apply. */
  private[graft] val NBest = 3

  /** The packed DP extended to carry the TOP-[[NBest]] packed values
    * per lattice position (Kudo 2018 §4's subword regularization in
    * its EXACT n-best form — the deterministic alternative the paper
    * gives beside lattice sampling, and the one an integer oracle can
    * gate): list(i) = the n largest of { list(i−l)[r] + s·1024 − 1 }
    * over piece arms l and ranks r. Correct by the standard n-best DP
    * argument (extension adds a constant, so the k-th best path to i
    * uses at most the k-th best at its predecessor); ties keep
    * MULTISET semantics (two distinct paths with equal score AND token
    * count contribute two equal packed values — both engines sort
    * integers, so the lists agree exactly). A pruned-vocabulary arm
    * with no piece contributes an empty array (the null-arm convention
    * of the max DP, lifted to lists). */
  private def nbestDp: String =
    s"""aggregate(
       |  sequence(1, length(w)),
       |  array($base),
       |  (acc, i) -> concat(acc, array(
       |    slice(reverse(array_sort(flatten(
       |      transform(sequence(1, least(${WordPiece.MaxPieceLen}, i)),
       |        l -> IF(element_at(m, cast((i - l) * 8 + l AS bigint)) IS NULL,
       |          cast(array() AS array<bigint>),
       |          transform(element_at(acc, i - l + 1),
       |            p -> p + element_at(m, cast((i - l) * 8 + l AS bigint)) * 1024L - 1L)))))),
       |      1, $NBest))),
       |  acc -> element_at(acc, size(acc)))""".stripMargin

  /** (w, lst) — the raw top-n packed list per word type (spec surface:
    * ordering, achievability and coverage are asserted on this). */
  private[graft] def nbestLists(cands: DataFrame, scored: DataFrame): DataFrame =
    scoreMapOf(cands, scored)
      .selectExpr("w",
        s"""IF(length(w) > 1023,
           |   cast(raise_error(concat('unigram: word past the 1023-char packed budget: ', w)) AS array<bigint>),
           |   $nbestDp) AS lst""".stripMargin)

  /** (w, n_uni, score_e6, nseg, nbest_e6) per type: the best path's
    * token count and score (MUST equal the Viterbi decode — the oracle
    * carries both, so best-of-n ≡ Viterbi is hash-gated), the number
    * of distinct paths found (≤ n — the subword-regularization
    * coverage the sampler draws from), and the summed score of the
    * whole n-best list. */
  private[graft] def nbestCounts(cands: DataFrame, scored: DataFrame): DataFrame =
    nbestLists(cands, scored)
      .selectExpr("w",
        "cast(1023 - (element_at(lst, 1) % 1024) as bigint) AS n_uni",
        s"cast((element_at(lst, 1) div 1024) - ${Off}L as bigint) AS score_e6",
        "cast(size(lst) as bigint) AS nseg",
        s"aggregate(lst, cast(0 as bigint), (a, p) -> a + (p div 1024) - ${Off}L) AS nbest_e6")

  /** n-best lists under the SEED model of `types` — UnigramSpec's
    * exhaustive-enumeration surface. */
  private[graft] def nbestSeed(types: DataFrame): DataFrame = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    nbestLists(cands, seedScores(cands))
  }

  /** Memo of the q228 n-best seg frame under the q222 pruned model. */
  private val nbestSegMemo = Memos.dirMemo[DataFrame]
  private def nbestSegFor(s: SparkSession, dir: String): DataFrame =
    nbestSegMemo((s, dir)) {
      val types = WordPiece.wordTypes(Tables.documents(s, dir))
      val cands = WordPiece.candidates(types).localCheckpoint()
      nbestCounts(cands, scoresOf(prunedInvFor(s, dir))).localCheckpoint()
    }

  /** One round's loss frame from the seed inventory — exposed so
    * UnigramSpec can assert survivors' losses dominate the pruned
    * pieces'. */
  private[graft] def pruneLossesSeed(types: DataFrame): DataFrame = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    pruneLosses(softCounts(types, cands, WordPiece.vocabFrom(cands)))
  }

  /** The q173 seed count frame (s, c) for `types` — exposed for
    * UnigramSpec's seed-vs-refit marginal comparison. */
  private[graft] def seedCountsOf(types: DataFrame): DataFrame =
    WordPiece.vocabFrom(WordPiece.candidates(types))

  /** One soft E+M step from an ARBITRARY count frame — UnigramSpec's
    * the-E-step-improves-from-anywhere witness. */
  private[graft] def softStepFrom(types: DataFrame,
      counted: DataFrame): DataFrame =
    softCounts(types, WordPiece.candidates(types).localCheckpoint(), counted)

  /** The raw per-edge expected counts under the SEED model — exposed so
    * UnigramSpec can cross-check the lattice forward-backward against
    * exhaustive segmentation enumeration. */
  private[graft] def softEdgesSeed(types: DataFrame): DataFrame = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    softEdges(probMapOf(cands, WordPiece.vocabFrom(cands)))
  }

  /** Corpus MARGINAL log-likelihood (Σ type cnt × e6-rounded ln α(N))
    * under the model refit from `counts` — the objective soft-EM
    * optimizes (where [[corpusScoreE6]] reads the Viterbi path score,
    * hard-EM's objective); UnigramSpec compares the two EM variants
    * each on its own yardstick. Spec-only: never oracle-gated (the ln
    * is the q187 1-ulp risk class). */
  private[graft] def corpusMarginalE6(types: DataFrame,
      counts: DataFrame): Long = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    probMapOf(cands, counts)
      .selectExpr("w", s"$fwdSql AS fwd")
      .join(types.select("w", "cnt"), Seq("w"))
      .selectExpr(
        "cnt * cast(round(1e6 * ln(element_at(fwd, length(w) + 1))) as bigint) AS t")
      .agg(sum("t")).head().getLong(0)
  }

  /** Memo of the q213 soft-EM fixed-point seg frame. */
  private val softEmMemo = Memos.dirMemo[DataFrame]
  private[operators] def softEmSegFor(s: SparkSession, dir: String): DataFrame =
    softEmMemo((s, dir)) {
      val types = WordPiece.wordTypes(Tables.documents(s, dir))
      val (hist, _) = softEmHistory(types, SoftEmCap)
      val cands = WordPiece.candidates(types).localCheckpoint()
      viterbiCounts(cands, scoresOf(hist.last)).localCheckpoint()
    }

  /** Corpus Viterbi score (Σ type cnt × path score_e6) under the model
    * refit from `counts` — the per-round likelihood UnigramSpec reads. */
  private[graft] def corpusScoreE6(types: DataFrame,
      counts: DataFrame): Long = {
    val cands = WordPiece.candidates(types).localCheckpoint()
    viterbiCounts(cands, scoresOf(counts))
      .join(types.select("w", "cnt"), Seq("w"))
      .selectExpr("cnt * score_e6 AS t")
      .agg(sum("t")).head().getLong(0)
  }

  /** The q206 round cap — both engines run exactly this depth (the twin
    * unrolled, the Spark loop early-exiting at the fixed point, which
    * the identity argument makes equivalent). */
  private[graft] val EmCap = 3

  /** Per-(session, sfDir) memo (the Bpe.trainMemo precedent). */
  private val segMemo = Memos.dirMemo[DataFrame]
  private[operators] def segFor(s: SparkSession, dir: String): DataFrame =
    segMemo((s, dir)) {
      segCounts(WordPiece.wordTypes(Tables.documents(s, dir))).localCheckpoint()
    }

  /** Memo of the q184 hard-EM refit seg frame. */
  private val emMemo = Memos.dirMemo[DataFrame]
  private[operators] def emSegFor(s: SparkSession, dir: String): DataFrame =
    emMemo((s, dir)) {
      emRefitCounts(WordPiece.wordTypes(Tables.documents(s, dir)))
        .localCheckpoint()
    }

  /** Memo of the q206 fixed-point (EM^cap) seg frame. */
  private val emFixMemo = Memos.dirMemo[DataFrame]
  private[operators] def emFixSegFor(s: SparkSession, dir: String): DataFrame =
    emFixMemo((s, dir)) {
      val types = WordPiece.wordTypes(Tables.documents(s, dir))
      val (hist, _) = emHistory(types, EmCap)
      val cands = WordPiece.candidates(types).localCheckpoint()
      viterbiCounts(cands, scoresOf(hist.last)).localCheckpoint()
    }

  /** q180: the Viterbi segmentation applied back to the corpus — per
    * doc, word count, optimal token count, and total path score. */
  def unigramTokenCounts(docs: DataFrame, seg: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"explode(${Portable.sparkToks}) AS w")
      .where("w <> ''")
      .join(seg, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_uni").cast("long").as("n_uni_tokens"),
        sum("score_e6").cast("long").as("score_e6"))
      .orderBy("doc_id")

  /** The SEED model as the SHIPPED artifact — (piece, score_e6) pairs,
    * the vocab+scores file a SentencePiece unigram checkpoint actually
    * contains (bounded: MultiVocab + alphabet rows). q194 decodes with
    * it executor-side via [[graft.plans.UnigramEncodeModel]]'s packed
    * DP — bit-identical to q180's in-plan fold, NO seg join. NOT built
    * for the q184 refit model: a PRUNED vocabulary can leave interior
    * code points off-inventory, where the kernel's totality fallback
    * (UnkScoreE6) and the in-plan null-arm semantics part ways. */
  private val encModelMemo = Memos.dirMemo[graft.plans.UnigramEncodeModel]
  private[operators] def encodeModelFor(s: SparkSession, dir: String): graft.plans.UnigramEncodeModel =
    encModelMemo((s, dir)) {
      val cands = WordPiece.candidates(
        WordPiece.wordTypes(Tables.documents(s, dir)))
      val rows = seedScores(cands).collect()
      new graft.plans.UnigramEncodeModel(
        rows.map(_.getString(0)), rows.map(_.getLong(1)),
        WordPiece.MaxPieceLen)
    }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_unigram_viterbi" -> ((s, dir) =>
      unigramTokenCounts(Tables.documents(s, dir), segFor(s, dir))),
    // the hard-EM refit model applied back to the corpus — q180's
    // surface under the re-estimated scores, so the EM round is
    // oracle-visible end to end (path counts → refit → re-decode)
    "q184_unigram_hard_em" -> ((s, dir) =>
      unigramTokenCounts(Tables.documents(s, dir), emSegFor(s, dir))),
    // the hard-EM loop at its integer fixed point (early-exit ≡ the
    // twin's unrolled EM^cap by the identity argument at emHistory)
    "q206_unigram_em_converged" -> ((s, dir) =>
      unigramTokenCounts(Tables.documents(s, dir), emFixSegFor(s, dir))),
    // SOFT-EM (lattice forward-backward — Kudo 2018's actual E-step,
    // the one published tokenizer-training form q180/q206 documented as
    // absent): q180's surface under the soft-refit model; the twin
    // unrolls the capped loop with recursive forward/backward walks
    "q213_unigram_soft_em" -> ((s, dir) =>
      unigramTokenCounts(Tables.documents(s, dir), softEmSegFor(s, dir))),
    // KUDO'S PRUNING LOOP (Kudo 2018 §3.2 — the loss-ranked vocabulary
    // shrink q213's scaladoc named as the one published mechanism still
    // absent): seed inventory → soft E+M → per-piece loss = expected
    // count × (own score − best alternative segmentation) → keep the
    // top ⌈3K/5⌉ multi-char pieces + the alphabet → repeat; decode the
    // corpus under the final pruned model
    "q222_unigram_pruned" -> ((s, dir) =>
      unigramTokenCounts(Tables.documents(s, dir), prunedSegFor(s, dir))),
    // APPLY-TIME SUBWORD REGULARIZATION (Kudo 2018 §4, exact n-best
    // form): the top-3 lattice paths per word type under the q222
    // pruned model — per doc, the best path's tokens/score (hash-gated
    // ≡ Viterbi), the path count the sampler would draw from, and the
    // summed n-best score mass
    "q228_unigram_nbest" -> ((s, dir) =>
      Tables.documents(s, dir)
        .selectExpr("doc_id", s"explode(${Portable.sparkToks}) AS w")
        .where("w <> ''")
        .join(nbestSegFor(s, dir), Seq("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_uni").cast("long").as("n_uni_tokens"),
          sum("score_e6").cast("long").as("score_e6"),
          sum("nseg").cast("long").as("n_paths"),
          sum("nbest_e6").cast("long").as("nbest_score_e6"))
        .orderBy("doc_id")),
    // the shipped-artifact Viterbi encoder — scan → packed-DP map →
    // sort, no seg join; q180's recursive-walk twin gates it verbatim
    // (the q188/q189 convention, closing the THIRD tokenizer family)
    "q194_unigram_encode" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val tc = ColumnBridge.column(graft.plans.TokenizeCounts(
        ColumnBridge.expression(col("text")), encodeModelFor(s, dir)))
      Tables.documents(s, dir).select(col("doc_id"), tc.as("tc"))
        .where(col("tc").getItem(0) > 0)
        .selectExpr("doc_id", "tc[0] AS n_words", "tc[1] AS n_uni_tokens",
          "tc[3] AS score_e6")
        .orderBy("doc_id")
    }))

  /** Score + pivot + recursive Viterbi walk + seg, names parameterized
    * for clash-free splicing (q181); by default decodes the corpus
    * word types (`v`, `cand` from
    * [[WordPiece.duckVDef]]/[[WordPiece.duckSeedCtes]], assumed in
    * scope) — q222's per-piece ALT decode re-points `wordSrc`/`candSrc`
    * at the inventory pieces themselves. */
  private[operators] def duckViterbiCtes(tot: String = "tot",
      sc: String = "sc", piv: String = "piv", walk: String = "uwalk",
      seg: String = "useg", vocabSrc: String = "vocab",
      wordSrc: String = "v", candSrc: String = "cand"): String =
    s"""$tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM $vocabSrc),
       |$sc AS MATERIALIZED (
       |  SELECT $candSrc.w, $candSrc.pos + $candSrc.l AS i, $candSrc.l,
       |    CAST(round(1e6 * (ln($vocabSrc.c) - ln($tot.tot))) AS BIGINT) AS s_e6
       |  FROM $candSrc JOIN $vocabSrc ON substr($candSrc.w, CAST($candSrc.pos + 1 AS INT), CAST($candSrc.l AS INT)) = $vocabSrc.s
       |  CROSS JOIN $tot),
       |$piv AS MATERIALIZED (
       |  SELECT w, i,
       |    MAX(CASE WHEN l = 1 THEN s_e6 END) AS s1, MAX(CASE WHEN l = 2 THEN s_e6 END) AS s2,
       |    MAX(CASE WHEN l = 3 THEN s_e6 END) AS s3, MAX(CASE WHEN l = 4 THEN s_e6 END) AS s4,
       |    MAX(CASE WHEN l = 5 THEN s_e6 END) AS s5, MAX(CASE WHEN l = 6 THEN s_e6 END) AS s6
       |  FROM $sc GROUP BY w, i),
       |$walk AS (
       |  SELECT w, CAST(0 AS BIGINT) AS i,
       |    CAST($Off * 1024 + 1023 AS BIGINT) AS b0,
       |    CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2, CAST(NULL AS BIGINT) AS b3,
       |    CAST(NULL AS BIGINT) AS b4, CAST(NULL AS BIGINT) AS b5
       |  FROM $wordSrc
       |  UNION ALL
       |  -- LEFT join on the pivoted scores, bounded by word length: a
       |  -- PRUNED vocabulary (the q184 refit) can leave an interior
       |  -- position with no piece ending there — the position is
       |  -- unreachable (all-NULL greatest -> NULL best, exactly the
       |  -- Spark array_max semantics) yet longer pieces span OVER it,
       |  -- so the walk must step through rather than die (an inner
       |  -- join here silently dropped such words from the refit twin)
       |  SELECT $walk.w, $walk.i + 1,
       |    greatest(
       |      $walk.b0 + $piv.s1 * 1024 - 1,
       |      $walk.b1 + $piv.s2 * 1024 - 1,
       |      $walk.b2 + $piv.s3 * 1024 - 1,
       |      $walk.b3 + $piv.s4 * 1024 - 1,
       |      $walk.b4 + $piv.s5 * 1024 - 1,
       |      $walk.b5 + $piv.s6 * 1024 - 1),
       |    $walk.b0, $walk.b1, $walk.b2, $walk.b3, $walk.b4
       |  FROM $walk
       |  JOIN $wordSrc ON $wordSrc.w = $walk.w AND $walk.i < length($wordSrc.w)
       |  LEFT JOIN $piv ON $piv.w = $walk.w AND $piv.i = $walk.i + 1),
       |$seg AS (
       |  SELECT $wordSrc.w,
       |    CASE WHEN length($wordSrc.w) > 1023
       |      THEN CAST(error('unigram: word past the 1023-char packed budget: ' || $wordSrc.w) AS BIGINT)
       |      ELSE CAST(1023 - ($walk.b0 % 1024) AS BIGINT) END AS n_uni,
       |    CAST(($walk.b0 // 1024) - $Off AS BIGINT) AS score_e6
       |  FROM $wordSrc JOIN $walk ON $walk.w = $wordSrc.w AND $walk.i = length($wordSrc.w))""".stripMargin

  /** Hard-EM CTE chain, assumes the seed walk (`sc`, `uwalk`) is in
    * scope: per-(w, i) best table → deterministic min-l backtrack
    * `choice` → recursive path walk `bt` emitting each step's piece →
    * re-estimated counts `used` (Σ type cnt × path multiplicity). The
    * refit decode is then [[duckViterbiCtes]] verbatim with `used` as
    * the score source. */
  private def duckEmCtes: String = duckEmRound("sc", "uwalk", "")

  /** One unrolled EM round, names suffixed for clash-free chaining
    * (q184 is the ""-suffixed single round; q206 chains [[EmCap]] of
    * these, each reading the PREVIOUS round's scored candidates + walk
    * and emitting `used$sfx` for the next decode). */
  private def duckEmRound(sc: String, walk: String, sfx: String): String =
    s"""bw$sfx AS MATERIALIZED (SELECT w, i, b0 AS b FROM $walk),
       |choice$sfx AS MATERIALIZED (
       |  SELECT $sc.w, $sc.i, CAST(MIN($sc.l) AS BIGINT) AS l
       |  FROM $sc
       |  JOIN bw$sfx prev ON prev.w = $sc.w AND prev.i = $sc.i - $sc.l
       |  JOIN bw$sfx cur ON cur.w = $sc.w AND cur.i = $sc.i
       |  WHERE prev.b + $sc.s_e6 * 1024 - 1 = cur.b
       |  GROUP BY $sc.w, $sc.i),
       |bt$sfx AS (
       |  SELECT w, CAST(length(w) AS BIGINT) AS i, CAST(NULL AS VARCHAR) AS piece FROM v
       |  UNION ALL
       |  SELECT bt$sfx.w, bt$sfx.i - c.l,
       |    substr(bt$sfx.w, CAST(bt$sfx.i - c.l + 1 AS INT), CAST(c.l AS INT))
       |  FROM bt$sfx JOIN choice$sfx c ON c.w = bt$sfx.w AND c.i = bt$sfx.i),
       |used$sfx AS MATERIALIZED (
       |  SELECT bt$sfx.piece AS s, CAST(SUM(v.cnt) AS BIGINT) AS c
       |  FROM bt$sfx JOIN v USING (w) WHERE bt$sfx.piece IS NOT NULL GROUP BY 1)""".stripMargin

  /** One unrolled SOFT-EM round: per-edge probabilities pivoted twice
    * (by END for the forward walk, by START for the backward), two
    * recursive lattice walks carrying the last 6 masses as columns,
    * the α(N) underflow guard (the matching error() arm of the Spark
    * raise_error), per-edge e6 expected counts with the IDENTICAL
    * parenthesization `1e6 · (((α·p)·β) / α(N))`, and the floored
    * integer M-step. Addition arms run l ascending with COALESCE per
    * term — the exact order of the Spark in-row fold, so the doubles
    * agree bit for bit (no transcendentals anywhere in the E-step). */
  private def duckSoftRound(vocabSrc: String, sfx: String): String =
    s"""stot$sfx AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM $vocabSrc),
       |sscp$sfx AS MATERIALIZED (
       |  SELECT cand.w, cand.pos AS st, cand.l,
       |    substr(cand.w, CAST(cand.pos + 1 AS INT), CAST(cand.l AS INT)) AS s,
       |    CAST($vocabSrc.c AS DOUBLE) / CAST(stot$sfx.tot AS DOUBLE) AS p
       |  FROM cand JOIN $vocabSrc ON substr(cand.w, CAST(cand.pos + 1 AS INT), CAST(cand.l AS INT)) = $vocabSrc.s
       |  CROSS JOIN stot$sfx),
       |spf$sfx AS MATERIALIZED (
       |  SELECT w, st + l AS i,
       |    MAX(CASE WHEN l = 1 THEN p END) AS s1, MAX(CASE WHEN l = 2 THEN p END) AS s2,
       |    MAX(CASE WHEN l = 3 THEN p END) AS s3, MAX(CASE WHEN l = 4 THEN p END) AS s4,
       |    MAX(CASE WHEN l = 5 THEN p END) AS s5, MAX(CASE WHEN l = 6 THEN p END) AS s6
       |  FROM sscp$sfx GROUP BY w, st + l),
       |spb$sfx AS MATERIALIZED (
       |  SELECT w, st,
       |    MAX(CASE WHEN l = 1 THEN p END) AS p1, MAX(CASE WHEN l = 2 THEN p END) AS p2,
       |    MAX(CASE WHEN l = 3 THEN p END) AS p3, MAX(CASE WHEN l = 4 THEN p END) AS p4,
       |    MAX(CASE WHEN l = 5 THEN p END) AS p5, MAX(CASE WHEN l = 6 THEN p END) AS p6
       |  FROM sscp$sfx GROUP BY w, st),
       |sfw$sfx AS (
       |  SELECT w, CAST(0 AS BIGINT) AS i, CAST(1.0 AS DOUBLE) AS a0,
       |    CAST(NULL AS DOUBLE) AS a1, CAST(NULL AS DOUBLE) AS a2, CAST(NULL AS DOUBLE) AS a3,
       |    CAST(NULL AS DOUBLE) AS a4, CAST(NULL AS DOUBLE) AS a5
       |  FROM v
       |  UNION ALL
       |  SELECT sfw$sfx.w, sfw$sfx.i + 1,
       |    COALESCE(sfw$sfx.a0 * spf$sfx.s1, 0) + COALESCE(sfw$sfx.a1 * spf$sfx.s2, 0) +
       |    COALESCE(sfw$sfx.a2 * spf$sfx.s3, 0) + COALESCE(sfw$sfx.a3 * spf$sfx.s4, 0) +
       |    COALESCE(sfw$sfx.a4 * spf$sfx.s5, 0) + COALESCE(sfw$sfx.a5 * spf$sfx.s6, 0),
       |    sfw$sfx.a0, sfw$sfx.a1, sfw$sfx.a2, sfw$sfx.a3, sfw$sfx.a4
       |  FROM sfw$sfx
       |  JOIN v ON v.w = sfw$sfx.w AND sfw$sfx.i < length(v.w)
       |  LEFT JOIN spf$sfx ON spf$sfx.w = sfw$sfx.w AND spf$sfx.i = sfw$sfx.i + 1),
       |sbw$sfx AS (
       |  SELECT w, CAST(0 AS BIGINT) AS j, CAST(1.0 AS DOUBLE) AS b0,
       |    CAST(NULL AS DOUBLE) AS b1, CAST(NULL AS DOUBLE) AS b2, CAST(NULL AS DOUBLE) AS b3,
       |    CAST(NULL AS DOUBLE) AS b4, CAST(NULL AS DOUBLE) AS b5
       |  FROM v
       |  UNION ALL
       |  SELECT sbw$sfx.w, sbw$sfx.j + 1,
       |    COALESCE(spb$sfx.p1 * sbw$sfx.b0, 0) + COALESCE(spb$sfx.p2 * sbw$sfx.b1, 0) +
       |    COALESCE(spb$sfx.p3 * sbw$sfx.b2, 0) + COALESCE(spb$sfx.p4 * sbw$sfx.b3, 0) +
       |    COALESCE(spb$sfx.p5 * sbw$sfx.b4, 0) + COALESCE(spb$sfx.p6 * sbw$sfx.b5, 0),
       |    sbw$sfx.b0, sbw$sfx.b1, sbw$sfx.b2, sbw$sfx.b3, sbw$sfx.b4
       |  FROM sbw$sfx
       |  JOIN v ON v.w = sbw$sfx.w AND sbw$sfx.j < length(v.w)
       |  LEFT JOIN spb$sfx ON spb$sfx.w = sbw$sfx.w AND spb$sfx.st = length(v.w) - sbw$sfx.j - 1),
       |san$sfx AS (
       |  SELECT w, CASE WHEN a0 <= 0
       |    THEN CAST(error('unigram soft-em: lattice mass underflowed for word: ' || w) AS DOUBLE)
       |    ELSE a0 END AS a
       |  FROM sfw$sfx WHERE i = length(w)),
       |sec$sfx AS MATERIALIZED (
       |  SELECT e.w, e.s,
       |    CAST(round(1e6 * (((f.a0 * e.p) * b.b0) / an.a)) AS BIGINT) AS ec
       |  FROM sscp$sfx e
       |  JOIN sfw$sfx f ON f.w = e.w AND f.i = e.st
       |  JOIN sbw$sfx b ON b.w = e.w AND b.j = length(e.w) - e.st - e.l
       |  JOIN san$sfx an ON an.w = e.w),
       |sused$sfx AS MATERIALIZED (
       |  SELECT sec$sfx.s, greatest(1, CAST(SUM(v.cnt * sec$sfx.ec) AS BIGINT)) AS c
       |  FROM sec$sfx JOIN v USING (w) GROUP BY sec$sfx.s)""".stripMargin

  /** The full soft-EM CTE chain (rounds 1..[[SoftEmCap]], each off the
    * previous counts, plus the decode under the FINAL counts, ending in
    * `usegs` (w, n_uni, score_e6)) — shared verbatim by the q213 twin
    * and the q217 composed tokenizer report, so the fourth family can
    * never fork from its standalone gate. */
  private[operators] def duckSoftChain: String = {
    val chain = (1 to SoftEmCap).map { r =>
      val vocabSrc = if (r == 1) "vocab" else s"sused_s${r - 1}"
      duckSoftRound(vocabSrc, s"_s$r")
    }.mkString(",\n")
    s"""$chain,
       |${duckViterbiCtes(tot = "tots", sc = "scs", piv = "pivs",
          walk = "uwalks", seg = "usegs",
          vocabSrc = s"sused_s$SoftEmCap")}""".stripMargin
  }

  /** One unrolled PRUNE round (q222): a soft E+M round off `vocabSrc`
    * (the shared [[duckSoftRound]] fragment — no fork from q213), then
    * the loss rank: each multi-char piece's candidate slices (minus the
    * full-cover self slice) walk the SHARED Viterbi fragment re-pointed
    * at the pieces themselves (`wordSrc`/`candSrc`), loss =
    * c × (score − alt) in HUGEINT (ranking-only; Spark rides
    * DECIMAL(38,0) — integer order is engine-independent), keep the
    * top ⌈3K/5⌉ by (loss DESC, s) plus the alphabet → `pinv_p<r>`. */
  private def duckPruneRound(vocabSrc: String, r: Int): String = {
    val sfx = s"_p$r"
    s"""${duckSoftRound(vocabSrc, sfx)},
       |pvv$sfx AS (SELECT s AS w FROM sused$sfx WHERE length(s) > 1),
       |pcx$sfx AS (
       |  SELECT w, CAST(pos AS BIGINT) AS pos, CAST(l AS BIGINT) AS l
       |  FROM (SELECT w, pos, unnest(range(1, least(${WordPiece.MaxPieceLen}, length(w) - pos) + 1)) AS l
       |        FROM (SELECT w, unnest(range(0, length(w))) AS pos FROM pvv$sfx))
       |  WHERE NOT (pos = 0 AND l = length(w))),
       |${duckViterbiCtes(tot = s"ptot$sfx", sc = s"psc$sfx",
          piv = s"ppiv$sfx", walk = s"pwalk$sfx", seg = s"pseg$sfx",
          vocabSrc = s"sused$sfx", wordSrc = s"pvv$sfx",
          candSrc = s"pcx$sfx")},
       |plos$sfx AS (
       |  SELECT m.s,
       |    CAST(m.c AS HUGEINT) * (CAST(round(1e6 * (ln(m.c) - ln(pt.tot))) AS BIGINT) - a.score_e6) AS loss
       |  FROM sused$sfx m CROSS JOIN ptot$sfx pt
       |  JOIN pseg$sfx a ON a.w = m.s),
       |pkn$sfx AS (SELECT ((3 * COUNT(*) + 4) // 5) AS keepn FROM plos$sfx),
       |pkeep$sfx AS (
       |  SELECT s FROM
       |    (SELECT s, ROW_NUMBER() OVER (ORDER BY loss DESC, s) AS rk FROM plos$sfx), pkn$sfx
       |  WHERE rk <= keepn),
       |pinv$sfx AS (
       |  SELECT s, c FROM sused$sfx WHERE length(s) = 1
       |  UNION ALL SELECT m.s, m.c FROM sused$sfx m JOIN pkeep$sfx k ON k.s = m.s)""".stripMargin
  }

  /** The q222 prune loop unrolled to [[PruneRounds]] — ONE chain shared
    * by the q222 twin and the q228 n-best apply twin, so the model the
    * two gates decode under can never fork. */
  private def duckPruneChain: String =
    (1 to PruneRounds).map { r =>
      duckPruneRound(if (r == 1) "vocab" else s"pinv_p${r - 1}", r)
    }.mkString(",\n")

  /** The n-best walk as a recursive CTE over the pruned inventory: the
    * last 6 positions' top-n lists ride as LIST(BIGINT) columns
    * (n0..n5 — the b0..b5 convention lifted to lists); each step sorts
    * the concatenated extension arms DESC and keeps the first
    * [[NBest]]. Arm order and the final slice are pure integer
    * operations, so the lists agree with the Spark fold exactly. */
  private def duckNBestCtes: String = {
    val vocabSrc = s"pinv_p$PruneRounds"
    def arm(j: Int) =
      s"""CASE WHEN nbp.s${j + 1} IS NULL OR nbwalk.n$j IS NULL THEN CAST([] AS BIGINT[])
         |      ELSE list_transform(nbwalk.n$j, p -> p + nbp.s${j + 1} * 1024 - 1) END""".stripMargin
    val arms = (0 to 5).map(arm).mkString(" ||\n    ")
    s"""nbtot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM $vocabSrc),
       |nbsc AS MATERIALIZED (
       |  SELECT cand.w, cand.pos + cand.l AS i, cand.l,
       |    CAST(round(1e6 * (ln($vocabSrc.c) - ln(nbtot.tot))) AS BIGINT) AS s_e6
       |  FROM cand JOIN $vocabSrc ON substr(cand.w, CAST(cand.pos + 1 AS INT), CAST(cand.l AS INT)) = $vocabSrc.s
       |  CROSS JOIN nbtot),
       |nbp AS MATERIALIZED (
       |  SELECT w, i,
       |    MAX(CASE WHEN l = 1 THEN s_e6 END) AS s1, MAX(CASE WHEN l = 2 THEN s_e6 END) AS s2,
       |    MAX(CASE WHEN l = 3 THEN s_e6 END) AS s3, MAX(CASE WHEN l = 4 THEN s_e6 END) AS s4,
       |    MAX(CASE WHEN l = 5 THEN s_e6 END) AS s5, MAX(CASE WHEN l = 6 THEN s_e6 END) AS s6
       |  FROM nbsc GROUP BY w, i),
       |nbwalk AS (
       |  SELECT w, CAST(0 AS BIGINT) AS i,
       |    [CAST($Off * 1024 + 1023 AS BIGINT)] AS n0,
       |    CAST(NULL AS BIGINT[]) AS n1, CAST(NULL AS BIGINT[]) AS n2,
       |    CAST(NULL AS BIGINT[]) AS n3, CAST(NULL AS BIGINT[]) AS n4,
       |    CAST(NULL AS BIGINT[]) AS n5
       |  FROM v
       |  UNION ALL
       |  SELECT nbwalk.w, nbwalk.i + 1,
       |    (list_sort(
       |    $arms, 'DESC'))[1:$NBest],
       |    nbwalk.n0, nbwalk.n1, nbwalk.n2, nbwalk.n3, nbwalk.n4
       |  FROM nbwalk
       |  JOIN v ON v.w = nbwalk.w AND nbwalk.i < length(v.w)
       |  LEFT JOIN nbp ON nbp.w = nbwalk.w AND nbp.i = nbwalk.i + 1),
       |nbseg AS (
       |  SELECT v.w,
       |    CASE WHEN length(v.w) > 1023
       |      THEN CAST(error('unigram: word past the 1023-char packed budget: ' || v.w) AS BIGINT)
       |      ELSE CAST(1023 - (nbwalk.n0[1] % 1024) AS BIGINT) END AS n_uni,
       |    CAST((nbwalk.n0[1] // 1024) - $Off AS BIGINT) AS score_e6,
       |    CAST(len(nbwalk.n0) AS BIGINT) AS nseg,
       |    CAST(list_sum(list_transform(nbwalk.n0, p -> (p // 1024) - $Off)) AS BIGINT) AS nbest_e6
       |  FROM v JOIN nbwalk ON nbwalk.w = v.w AND nbwalk.i = length(v.w))""".stripMargin
  }

  private def duckPerDocTail(seg: String): String =
    s"""tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_uni) AS BIGINT) AS n_uni_tokens,
       |  CAST(SUM(score_e6) AS BIGINT) AS score_e6
       |FROM tok JOIN $seg USING (w) WHERE w <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def oracle: Map[String, String] = Map(
    // the same recurrence as a recursive CTE: the last 6 packed bests
    // ride as columns (b0..b5), so each step is aggregate-free; words
    // leave the walk when position i exceeds their length
    "q180_unigram_viterbi" ->
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |${duckViterbiCtes()},
         |${duckPerDocTail("useg")}""".stripMargin,
    // seed walk → backtracked paths → integer M-step → refit decode
    "q184_unigram_hard_em" ->
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |${duckViterbiCtes()},
         |$duckEmCtes,
         |${duckViterbiCtes(tot = "tot2", sc = "sc2", piv = "piv2",
            walk = "uwalk2", seg = "useg2", vocabSrc = "used")},
         |${duckPerDocTail("useg2")}""".stripMargin,
    // EM unrolled to the cap: each round re-reads the previous decode's
    // scored candidates + walk (backtrack → integer M-step → refit
    // decode), the tail over the LAST decode — the Spark loop's
    // early-exit-at-identity makes fixed depth ≡ fixed point
    "q206_unigram_em_converged" -> {
      val emChain = (1 to EmCap).map { r =>
        val sfx = if (r == 1) "" else s"_r$r"
        val scIn = if (r == 1) "sc" else s"sc$r"
        val walkIn = if (r == 1) "uwalk" else s"uwalk$r"
        val n = r + 1
        duckEmRound(scIn, walkIn, sfx) + ",\n" +
          duckViterbiCtes(tot = s"tot$n", sc = s"sc$n", piv = s"piv$n",
            walk = s"uwalk$n", seg = s"useg$n", vocabSrc = s"used$sfx")
      }.mkString(",\n")
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |${duckViterbiCtes()},
         |$emChain,
         |${duckPerDocTail(s"useg${EmCap + 1}")}""".stripMargin
    },

    // soft-EM unrolled to the cap: each round = probabilities off the
    // previous counts (round 1: the seed vocab), two recursive lattice
    // walks, per-edge e6 expected counts, floored M-step; the tail
    // decodes under the FINAL counts — the q206 fixed-depth ≡
    // fixed-point argument carries over verbatim (the round map is
    // deterministic: bit-exact doubles → e6 integers → counts)
    "q213_unigram_soft_em" ->
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |$duckSoftChain,
         |${duckPerDocTail("usegs")}""".stripMargin,

    // the prune loop unrolled to PruneRounds (fixed schedule — no
    // convergence argument needed): each round chains the shared soft
    // round + the piece-level alt walk + the loss rank; the tail
    // decodes the corpus under the final surviving inventory
    "q222_unigram_pruned" ->
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |$duckPruneChain,
         |${duckViterbiCtes(tot = "totp", sc = "scp", piv = "pivp",
            walk = "uwalkp", seg = "usegp",
            vocabSrc = s"pinv_p$PruneRounds")},
         |${duckPerDocTail("usegp")}""".stripMargin,

    // the n-best walk under the SAME pruned inventory (the shared
    // prune chain — no fork from q222): recursive list-columns DP,
    // identical packed integers, the per-doc tail summing the extra
    // path-count and n-best-mass columns
    "q228_unigram_nbest" ->
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |$duckPruneChain,
         |$duckNBestCtes,
         |tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_uni) AS BIGINT) AS n_uni_tokens,
         |  CAST(SUM(score_e6) AS BIGINT) AS score_e6,
         |  CAST(SUM(nseg) AS BIGINT) AS n_paths,
         |  CAST(SUM(nbest_e6) AS BIGINT) AS nbest_score_e6
         |FROM tok JOIN nbseg USING (w) WHERE w <> ''
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q194 must equal q180 value-for-value — the shipped (piece, score)
    // artifact reproduces the in-plan DP, so the twin is the SAME
    // recursive-walk chain, not a second encoder
    "q194_unigram_encode" ->
      s"""WITH RECURSIVE ${WordPiece.duckVDef},
         |${WordPiece.duckSeedCtes},
         |${duckViterbiCtes()},
         |${duckPerDocTail("useg")}""".stripMargin)
}
