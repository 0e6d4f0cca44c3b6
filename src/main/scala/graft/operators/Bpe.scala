package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** BPE vocabulary induction (q143) — the tokenizer-TRAINING operator: learn
  * the first `k` byte-pair merges from the corpus, Sennrich-style
  * (subword-nmt `learn_bpe`): count adjacent symbol pairs over the
  * word-TYPE vocabulary weighted by type frequency, merge the most
  * frequent pair greedily left-to-right in every word, repeat.
  *
  * Scale shape — the textbook reason BPE training is feasible at 100 TB:
  * the ONLY corpus-sized operation is the initial `explode → groupBy(w)`
  * type count (one shuffle, map-side combined). Every iteration runs on
  * the TYPE table (distinct words × word length rows — millions, not
  * trillions), windowed per word, so the largest per-iteration partition
  * is one word's symbols. The argmax is a 1-row collect per step
  * (bounded model state, the centroid convention); `localCheckpoint`
  * per iteration truncates the otherwise-nesting window lineage (the
  * Dedup label-prop / PageRank lesson).
  *
  * Determinism: ties on pair count break by (sym_a, sym_b) ascending —
  * both engines compare ASCII strings identically, so the learned merge
  * list is cross-engine exact. Overlapping occurrences (only possible
  * when sym_a = sym_b) merge greedily left-to-right: runs of consecutive
  * match positions keep alternate members (pos − run_min even), exactly
  * the semantics of a sequential scan.
  */
object Bpe {

  /** The shared training loop: word-type symbol table after `k` merges,
    * plus the learned merge list. The final symbol table IS the trained
    * tokenizer's segmentation of every word type — [[bpeMerges]] emits
    * the merge rules, [[bpeTokenCounts]] applies the segmentation back
    * to the corpus. Runs the FREQUENCY-GAP batched loop (gapExact):
    * merge-for-merge identical to sequential subword-nmt (LlmOpsSpec
    * pins the equivalence on a corpus where fixed-M batching diverges)
    * while folding count-separated merges into shared passes — so the
    * production path and the scale path are the same code. */
  private[graft] def trainSyms(docs: DataFrame, k: Int):
      (DataFrame, Seq[(Long, String, String, Long)]) = {
    val (syms, merges, _) = trainSymsBatched(docs, k, k, gapExact = true)
    (syms, merges)
  }

  /** Batched-merge training: per iteration, take up to `maxBatch`
    * pairs from the rank order (count desc / (a, b)) and apply them in
    * ONE pass over the type table. Two batch-selection modes:
    *
    *  - `gapExact = false` (fixed-M, the opt-in APPROXIMATE mode): a
    *    conflicting pair (sharing a symbol with an earlier choice) is
    *    SKIPPED and later candidates still join the batch. Sequential
    *    BPE would recount pairs after each merge, so a batch can miss
    *    a NEW pair (one touching a just-created symbol) that would
    *    have outranked a later batch member — at batch 1 this is
    *    EXACTLY subword-nmt; past it the learned vocabulary can drift
    *    (round-14 measurement: 36/64 merges agree at k=64, M=8).
    *
    *  - `gapExact = true` (FREQUENCY-GAP batching, the default scale
    *    path): the batch is the longest CONFLICT-FREE PREFIX of the
    *    rank order whose last member's count STRICTLY exceeds the
    *    first excluded candidate's. That batch is provably identical
    *    to `|batch|` sequential merges: (1) disjoint pairs' counts
    *    are merge-invariant, and merging cannot create an occurrence
    *    of a disjoint pair; (2) a NEW pair born from merging p=(a,b)
    *    — (x, ab) or (ab, y) — occurs only where the OLD pair (x, a)
    *    / (b, y) did, and that old pair CONFLICTS with p, so it sits
    *    outside the conflict-free prefix with count ≤ the excluded
    *    count < every batch member's count: no overtake is possible,
    *    and the strict gap keeps tie-breaks out of reach too. Batch
    *    size adapts to the count distribution per round — ties and
    *    conflicts shrink it (worst case 1 = sequential), well-
    *    separated counts in real text keep it near the cap.
    *
    * Why conflict-freedom makes the single pass exact: with disjoint
    * symbol sets, a position matches at most one chosen pair, and two
    * CONSECUTIVE matched positions can only come from the same
    * self-overlapping pair (a, a) — a cross-pair adjacency would force
    * the second pair's left symbol to equal the first pair's right.
    * So the greedy-left run alternation resolves every chosen pair
    * simultaneously, exactly as `|batch|` sequential passes would.
    *
    * The payoff is driver round trips: k merges cost ~k/batch Spark
    * jobs instead of k — the difference between 32k sequential jobs
    * and a few hundred at a real vocabulary size (the third returned
    * value is the measured round count; tools/BpeScale records the
    * curve).
    *
    * Exhaustion: when no adjacent pair remains (every word type is a
    * single symbol), training stops cleanly with the merges learned so
    * far rather than failing on an empty argmax.
    *
    * Deep-iteration safety: the per-round checkpoint is
    * [[org.apache.spark.sql.graft.PlanBridge.localCheckpointFreshStats]],
    * NOT plain localCheckpoint — Spark's checkpoint carries the origin
    * plan's size statistics into the new leaf, and across self-joining
    * rounds those estimates MULTIPLY until stats estimation itself
    * overflows BigInteger (~45 rounds in; the k=6 production run never
    * gets there, a real-vocabulary run dies during planning). The
    * fresh-stats leaf keeps estimates bounded at any merge count. */
  private[graft] def trainSymsBatched(docs: DataFrame, k: Int, maxBatch: Int,
      gapExact: Boolean = false):
      (DataFrame, Seq[(Long, String, String, Long)], Int) = {
    require(k >= 1 && maxBatch >= 1)
    val vocab = docs.selectExpr(s"explode(${Portable.sparkToks}) AS w")
      .where("w <> ''").groupBy("w").agg(count(lit(1)).as("cnt"))
    var syms = vocab
      .selectExpr("w", "cnt", "posexplode(split(w, '')) AS (pos, sym)")
      .selectExpr("w", "cnt", "cast(pos as bigint) AS pos", "sym")
    syms = org.apache.spark.sql.graft.PlanBridge.localCheckpointFreshStats(syms)
    val byPos = Window.partitionBy("w").orderBy("pos")
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    var rounds = 0
    while (merges.size < k && !exhausted) {
      rounds += 1
      val withNext = syms.withColumn("nsym", lead("sym", 1).over(byPos))
      val budget = math.min(maxBatch, k - merges.size)
      // rank-ordered candidate prefix — oversized so a batch usually
      // survives conflict pruning (and, in gap mode, so the first
      // EXCLUDED candidate is in hand); a bounded model frame either way
      val prefetch = math.max(budget * 4, 8)
      val top = withNext.where("nsym IS NOT NULL")
        .groupBy("sym", "nsym").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("sym"), col("nsym"))
        .limit(prefetch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var i = 0
        var cut = false
        while (i < top.length && chosen.size < budget && !cut) {
          val (a, b) = (top(i).getString(0), top(i).getString(1))
          if (!used(a) && !used(b)) {
            chosen += ((a, b, top(i).getLong(2))); used += a; used += b
            i += 1
          } else if (gapExact) cut = true // conflict ends the exact prefix
          else i += 1                     // fixed-M skips and keeps going
        }
        if (gapExact) {
          // strict-gap shrink: the last taken count must EXCEED the
          // first excluded candidate's (the conflict, the next ranked
          // pair, or — when the fetched list ran out at the prefetch
          // cap — a possible unfetched tie of the last fetched count)
          val excluded: Option[Long] =
            if (i < top.length) Some(top(i).getLong(2))
            else if (top.length == prefetch) Some(top.last.getLong(2))
            else None
          excluded.foreach { ec =>
            var m = chosen.length
            while (m > 1 && chosen(m - 1)._3 <= ec) m -= 1
            chosen.takeInPlace(m) // size 1 is sequential — always exact
          }
        }
        chosen.foreach { case (a, b, c) => merges += ((merges.size + 1L, a, b, c)) }
        val isMatch = chosen.map { case (a, b, _) =>
          col("sym") === lit(a) && col("nsym") === lit(b) }.reduce(_ || _)
        val m = withNext.withColumn("is_match", isMatch)
        // greedy-left overlap resolution: consecutive match positions form
        // a run (pos − row_number constant); alternate members merge
        val mm = m.where("is_match")
          .withColumn("grp", col("pos") - row_number().over(byPos))
          .withColumn("keep",
            (col("pos") - min("pos").over(Window.partitionBy("w", "grp"))) % 2 === 0)
          .where("keep")
          .select(col("w").as("w2"), col("pos").as("pos2"), lit(true).as("merge_here"))
        val j = m.join(mm, col("w") === col("w2") && col("pos") === col("pos2"), "left")
          .withColumn("do_merge", coalesce(col("merge_here"), lit(false)))
          .withColumn("pm", coalesce(lag("do_merge", 1).over(byPos), lit(false)))
          .where(!col("pm")) // the absorbed right symbol disappears
          .selectExpr("w", "cnt", "pos",
            "CASE WHEN do_merge THEN concat(sym, nsym) ELSE sym END AS sym")
        syms = org.apache.spark.sql.graft.PlanBridge.localCheckpointFreshStats(
          j.withColumn("pos", row_number().over(byPos).cast("long") - 1)
            .select("w", "cnt", "pos", "sym"))
      }
    }
    (syms, merges.toList, rounds)
  }

  /** Per-(session, sfDir, k) memo of the trained model: q143, q144 and
    * q154 train the IDENTICAL k-merge tokenizer over the identical
    * corpus, and retraining it per query was the #1/#3/#4 bench cost
    * (the Similarity.ivfIndexFor precedent). The memoized symbol table
    * is localCheckpoint'd by the training loop, the merge list is a
    * k-row driver value; cold mode (Memos.clearAll) re-pays training. */
  private val trainMemo = Memos.memo[(SparkSession, String, Int),
    (DataFrame, Seq[(Long, String, String, Long)])](k => Tables.fingerprint(k._1, k._2))
  private def trainSymsFor(s: SparkSession, dir: String, k: Int):
      (DataFrame, Seq[(Long, String, String, Long)]) =
    trainMemo((s, dir, k))(trainSyms(Tables.documents(s, dir), k))

  /** (w, n_sym) per word TYPE under the memoized DefaultMerges model —
    * the per-type view q181 joins next to the other families'. */
  private[operators] def wordSegFor(s: SparkSession, dir: String): DataFrame =
    trainSymsFor(s, dir, DefaultMerges)._1
      .groupBy("w").agg(count(lit(1)).as("n_sym"))

  /** Memoized per-doc BPE token counts for downstream consumers —
    * q157 packs sequences by these instead of whitespace counts, so
    * its budget is denominated in the tokens a trainer sees. Served by
    * the SHIPPED-ARTIFACT kernel (q188's path): counts are identical
    * to the seg join by the q188 ≡ q144 gate, and the consumer's plan
    * loses the seg-frame join entirely — the packing tail becomes
    * scan → map → pack. */
  private[operators] def tokenCountsMemo(s: SparkSession, dir: String): DataFrame =
    encodeCounts(Tables.documents(s, dir), encodeModelFor(s, dir),
      "n_bpe_tokens")

  /** The memoized trained model applied to an ARBITRARY (doc_id, text)
    * frame — the composed pipeline (q165/q183) counts the tokens of
    * passage-REWRITTEN survivors. Kernel path: the encoder is total on
    * any input, and on rewritten text (words ⊆ the training corpus's
    * vocabulary) it equals the seg join word-for-word. */
  private[operators] def tokenCountsFor(s: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    encodeCounts(docs, encodeModelFor(s, dir), "n_bpe_tokens")

  /** The trained model as the SHIPPED artifact — the k-row merge list
    * packed into [[graft.plans.BpeEncodeModel]], the form a tokenizer
    * actually deploys in (merges.txt in every published checkpoint).
    * Constant-size by construction (k rows, not word types), so it
    * rides to executors inside the expression; see q188. */
  private[operators] def encodeModelFor(s: SparkSession, dir: String): graft.plans.BpeEncodeModel = {
    val merges = trainSymsFor(s, dir, DefaultMerges)._2
    new graft.plans.BpeEncodeModel(
      merges.map(_._2).toArray, merges.map(_._3).toArray)
  }

  /** q188/q189 shared projection: one narrow pass of
    * [[graft.plans.TokenizeCounts]] over `text` — NO seg-frame join
    * anywhere in the plan (the scan maps straight into the final
    * doc_id sort). Docs with zero words drop, matching the inner seg
    * join's behavior on the q144/q174 twins this path reuses. */
  private[graft] def encodeCounts(docs: DataFrame,
      model: graft.plans.TokenizerModel, tokensCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val tc = ColumnBridge.column(graft.plans.TokenizeCounts(
      ColumnBridge.expression(col("text")), model))
    docs.select(col("doc_id"), tc.as("tc"))
      .where(col("tc").getItem(0) > 0)
      .selectExpr("doc_id", "tc[0] AS n_words", s"tc[1] AS $tokensCol")
      .orderBy("doc_id")
  }

  /** The k-merge training CTE chain with a caller-supplied tail — lets
    * sibling operators (q157 packing) build oracles on top of the
    * trained segmentation without duplicating the chain. */
  private[operators] def duckSqlWith(tail: String): String =
    duckSql(DefaultMerges, tail)

  private def mergesDf(spark: SparkSession,
                       merges: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("step", "sym_a", "sym_b", "pair_cnt")
  }

  /** Learned merge list: (step, sym_a, sym_b, pair_cnt), step 1..k. */
  def bpeMerges(docs: DataFrame, k: Int = DefaultMerges): DataFrame =
    mergesDf(docs.sparkSession, trainSyms(docs, k)._2)

  /** q144: apply the trained segmentation back to the corpus — per-doc
    * whitespace-word count and BPE token count under the k learned
    * merges. The applied artifact is `seg` (symbols per word TYPE) — a
    * frame that scales with DISTINCT corpus words (typos, URLs, numbers
    * run it to billions on a 100 TB web corpus), NOT with the constant-
    * size merge table — so the join carries NO broadcast hint: AQE
    * broadcasts it when it is genuinely under the threshold (every test
    * SF) and shuffles both sides on `w` when it is not. A forced hint
    * here is a hard abort at scale (driver OOM / 8 GB broadcast
    * ceiling); ScaleCheck's `tokenizer_apply` section drives this exact
    * join through a 10M-type seg frame in a 512 MB heap to keep the
    * claim falsifiable. */
  def bpeTokenCounts(docs: DataFrame, k: Int = DefaultMerges): DataFrame =
    tokenCountsFrom(docs, trainSyms(docs, k)._1)

  private def tokenCountsFrom(docs: DataFrame, syms: DataFrame): DataFrame = {
    val seg = syms.groupBy("w").agg(count(lit(1)).as("n_sym"))
    docs.selectExpr("doc_id", s"explode(${Portable.sparkToks}) AS w")
      .where("w <> ''")
      .join(seg, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** q154: tokenizer FERTILITY per language — the standard tokenizer-
    * evaluation metric (avg BPE tokens per word; chars per BPE token as
    * the compression view). A tokenizer trained on a mixed corpus
    * over-fragments the languages it under-saw; this is the number that
    * shows it, per lang, before a training run bakes it in. Same plan
    * family as q144: the type-sized `seg` artifact joins onto one
    * corpus scan (unhinted — AQE broadcasts at test SFs, shuffles at
    * web scale; see [[bpeTokenCounts]]), then ONE #langs-row aggregate
    * — ratios as integer fixed-point divisions of the exact sums
    * (all-positive, so Spark `div` ≡ DuckDB `//`). */
  def bpeFertility(docs: DataFrame, k: Int = DefaultMerges): DataFrame =
    fertilityFrom(docs, trainSyms(docs, k)._1)

  private def fertilityFrom(docs: DataFrame, syms: DataFrame): DataFrame = {
    val seg = syms.groupBy("w").agg(count(lit(1)).as("n_sym"))
    docs.selectExpr("doc_id", "lang", s"explode(${Portable.sparkToks}) AS w")
      .where("w <> ''")
      .join(seg, Seq("w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sym").cast("long").as("n_bpe_tokens"),
        sum(length(col("w"))).cast("long").as("n_chars"))
      .selectExpr("lang", "n_words", "n_bpe_tokens", "n_chars",
        "(10000 * n_bpe_tokens) div n_words AS fertility_e4",
        "(10000 * n_chars) div n_bpe_tokens AS chars_per_tok_e4")
      .orderBy("lang")
  }

  val DefaultMerges = 6

  // ---------------------------------------------------------------- queries

  // all three queries share ONE memoized training run per (session, sf)
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q143_bpe_merges" -> ((s, dir) =>
      mergesDf(s, trainSymsFor(s, dir, DefaultMerges)._2)),
    "q144_bpe_tokenize" -> ((s, dir) =>
      tokenCountsFrom(Tables.documents(s, dir), trainSymsFor(s, dir, DefaultMerges)._1)),
    "q154_bpe_fertility" -> ((s, dir) =>
      fertilityFrom(Tables.documents(s, dir), trainSymsFor(s, dir, DefaultMerges)._1)),
    // the shipped-artifact encoder: same output as q144 (the twin is
    // reused verbatim), but the plan is scan → map → sort — the apply
    // shape that holds at ANY type-table size because nothing joins
    "q188_bpe_encode" -> ((s, dir) =>
      encodeCounts(Tables.documents(s, dir), encodeModelFor(s, dir),
        "n_bpe_tokens")))

  /** DuckDB twin: the same k iterations unrolled as chained CTEs. The
    * MATERIALIZED hints are semantics-neutral but load-bearing for the
    * oracle's own runtime — inlined, each of the ~8 CTEs per step
    * re-expands its whole upstream chain and the plan grows
    * exponentially in k (observed: >120 s inlined vs 0.6 s
    * materialized at k=6). */
  def oracle: Map[String, String] = Map(
    "q143_bpe_merges" -> duckSql(DefaultMerges, mergeListTail(DefaultMerges)),
    "q144_bpe_tokenize" -> duckSql(DefaultMerges, tokenizeTail(DefaultMerges)),
    "q154_bpe_fertility" -> duckSql(DefaultMerges, fertilityTail(DefaultMerges)),
    // q188 must equal q144 value-for-value — the whole claim is that the
    // shipped merge list reproduces the trained segmentation, so the
    // oracle is the SAME training-chain twin, not a second encoder
    "q188_bpe_encode" -> duckSql(DefaultMerges, tokenizeTail(DefaultMerges)))

  private def mergeListTail(k: Int): String = {
    val best = (1 to k).map(i =>
      s"SELECT $i AS step, a AS sym_a, b AS sym_b, c AS pair_cnt FROM it${i}_best")
    "SELECT CAST(step AS BIGINT) AS step, sym_a, sym_b, pair_cnt FROM (" +
      best.mkString(" UNION ALL ") + ") ORDER BY step"
  }

  private def fertilityTail(k: Int): String =
    s""",
       |seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym FROM it$k GROUP BY w),
       |tok AS (
       |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       |  (10000 * CAST(SUM(n_sym) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS fertility_e4,
       |  (10000 * CAST(SUM(length(w)) AS BIGINT)) // CAST(SUM(n_sym) AS BIGINT) AS chars_per_tok_e4
       |FROM tok JOIN seg USING (w) WHERE w <> ''
       |GROUP BY lang ORDER BY lang""".stripMargin

  private def tokenizeTail(k: Int): String =
    s""",
       |seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym FROM it$k GROUP BY w),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM tok JOIN seg USING (w) WHERE w <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def duckSql(k: Int, tail: String): String = {
    val head = Seq(
      """v AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin,
      """v0 AS (SELECT w, cnt, string_split(w, '') AS chars FROM v),
        |v1 AS (SELECT w, cnt, chars, unnest(range(CAST(len(chars) AS BIGINT))) AS pos FROM v0),
        |it0 AS MATERIALIZED (SELECT w, cnt, pos, chars[pos + 1] AS sym FROM v1)""".stripMargin)
    val steps = (1 to k).map { i =>
      val p = s"it${i}_"
      s"""${p}n AS MATERIALIZED (
         |  SELECT w, cnt, pos, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym FROM it${i - 1}),
         |${p}pc AS (
         |  SELECT sym AS a, nsym AS b, CAST(SUM(cnt) AS BIGINT) AS c FROM ${p}n WHERE nsym IS NOT NULL GROUP BY 1, 2),
         |${p}best AS MATERIALIZED (SELECT a, b, c FROM ${p}pc ORDER BY c DESC, a, b LIMIT 1),
         |${p}m AS MATERIALIZED (
         |  SELECT n.*, (n.sym = (SELECT a FROM ${p}best) AND n.nsym = (SELECT b FROM ${p}best)) AS is_match FROM ${p}n n),
         |${p}mm AS (
         |  SELECT w, pos FROM (
         |    SELECT w, pos, pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS grp
         |    FROM ${p}m WHERE is_match) q
         |  QUALIFY (pos - MIN(pos) OVER (PARTITION BY w, grp)) % 2 = 0),
         |${p}j AS (
         |  SELECT m.w, m.cnt, m.pos, m.sym, m.nsym, (mm.pos IS NOT NULL) AS do_merge
         |  FROM ${p}m m LEFT JOIN ${p}mm mm ON m.w = mm.w AND m.pos = mm.pos),
         |it$i AS MATERIALIZED (
         |  SELECT w, cnt, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
         |    CASE WHEN do_merge THEN sym || nsym ELSE sym END AS sym
         |  FROM (SELECT *, COALESCE(LAG(do_merge) OVER (PARTITION BY w ORDER BY pos), false) AS pm FROM ${p}j)
         |  WHERE NOT pm)""".stripMargin
    }
    // RECURSIVE is allowed (and inert) when no CTE recurses — it lets
    // callers splice recursive fragments (q181) into this chain
    "WITH RECURSIVE " + (head ++ steps).mkString(",\n") + "\n" + tail
  }
}
