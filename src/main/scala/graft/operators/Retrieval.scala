package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Rank-fusion operators for hybrid retrieval: combining per-query
  * candidate lists from heterogeneous retrievers (lexical BM25, dense
  * cosine, binary-sketch Hamming, ...) into one ranking — the serving
  * and hard-negative-mining pattern behind RAG corpus construction.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * score(q, d) = Σ over lists of 1 / (k0 + rank_list(q, d)), documents
    * absent from a list contribute nothing. Rank-based, so retrievers
    * with incomparable score scales (BM25 vs cosine) fuse without
    * calibration; `k0` (default 60, the paper's constant) damps the top
    * ranks' dominance.
    *
    * Determinism: float sums are partition-order-dependent, so each
    * contribution is rounded to 9 dp and summed in decimal(18,9) —
    * exact in any order, in any engine — and only the final score casts
    * to double. Ties break on the document id.
    *
    * Scale: the inputs are already per-query top-N lists (the corpus
    * scans happened upstream under their own contracts — see
    * [[Similarity.cosineTopK]], [[TextAnalytics.bm25]]), so this plan
    * only ever moves |queries| · N · #lists rows: one union, one
    * (q_id, id) hash aggregate with map-side partials, and a per-query
    * window over ≤ N · #lists rows.
    *
    * Output: (q_id, id, rrf, n_lists, fused_rank), fused_rank 1..topK
    * per query.
    */
  def rrfFuse(
      lists: Seq[DataFrame], qIdCol: String, idCol: String,
      rankCol: String, k0: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 >= 1, s"k0 must be positive (got $k0)")
    require(topK >= 1, s"topK must be positive (got $topK)")
    // same 1-based-rank guard as rankingMetrics: a 0-based rank (the
    // common row_number()-1 off-by-one) would shift every 1/(rank+k0)
    // contribution silently; a rank of exactly -k0 would contribute a
    // null that sum() skips while n_lists still counts it
    val tagged = lists.map(_.select(
      col(qIdCol).cast("long").as("q_id"),
      col(idCol).cast("long").as("id"),
      when(col(rankCol).cast("long") < 1,
        raise_error(lit("rrfFuse: ranks must be 1-based (got a rank < 1)")))
        .otherwise(col(rankCol).cast("long")).as("rank")))
    val contrib = tagged.reduce(_ unionByName _)
      .select(col("q_id"), col("id"),
        round(lit(1.0) / (col("rank") + lit(k0)), 9)
          .cast(DecimalType(18, 9)).as("c"))
    val fused = contrib.groupBy("q_id", "id")
      .agg(sum("c").as("s"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("q_id").orderBy(col("s").desc, col("id").asc)
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topK)
      .select(col("q_id"), col("id"), col("s").cast("double").as("rrf"),
        col("n_lists"), col("fused_rank"))
  }

  /** The 1/log₂(rank+1) DCG discount table for ranks 1..k — computed
    * once so callers (and engine twins) can embed the identical double
    * literals instead of re-deriving them through engine-specific log
    * implementations.
    */
  def dcgDiscounts(k: Int): Array[Double] =
    Array.tabulate(k)(i => 1.0 / (math.log(i + 2) / math.log(2.0)))

  /** Offline ranking-quality evaluation — MRR@k and nDCG@k of a
    * retriever's ranked lists against graded relevance judgments (the
    * eval harness step of tuning an ANN/quantized retrieval stack
    * against an exact float baseline, or a retriever against human
    * qrels).
    *
    * MRR@k  = 1 / (first relevant rank), 0 when no hit in the top k.
    * DCG@k  = Σ_hits (2^rel − 1) · disc(rank),  disc = [[dcgDiscounts]]
    * IDCG@k = the same sum over the ideal head (judgments ordered by
    *          grade) — rel ties reorder only equal terms, so the sum is
    *          tie-order-independent.
    * nDCG   = DCG / IDCG (0 for queries with no judgments).
    *
    * Determinism: the discount doubles are literal-embedded (no engine
    * log), 2^rel − 1 is exact for the small integer grades, and each
    * per-query sum adds grid-rounded terms in decimal — exact in any
    * order. Outputs round at 6dp.
    *
    * Scale: both inputs are per-query top-N lists (corpus-sized
    * retrieval ran upstream), so the equi join and the two per-query
    * aggregates move |queries| · k rows; the only window runs over the
    * judgment lists, partitioned by query.
    */
  def rankingMetrics(
      ranked: DataFrame, judgments: DataFrame, k: Int,
      qIdCol: String = "q_id", cIdCol: String = "c_id",
      rankCol: String = "rank", relCol: String = "rel",
      grid: Int = 12): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000] (got $k)")
    val disc = dcgDiscounts(k)
    val discCol = array(disc.map(lit): _*)
    val dec = DecimalType(38, grid)
    val gain = pow(lit(2.0), col("rel")) - lit(1.0)
    // rank < 1 would silently read the discount table from the wrong
    // end (element_at is 1-based, negative indexes from the tail) —
    // fail loudly instead of corrupting DCG.
    val rk = ranked.select(col(qIdCol).cast("long").as("q_id"),
        col(cIdCol).cast("long").as("c_id"),
        when(col(rankCol).cast("int") < 1,
          raise_error(lit("rankingMetrics: ranks must be 1-based (got a rank < 1)")))
          .otherwise(col(rankCol).cast("int")).as("rank"))
      .filter(col("rank") <= k)
    // Duplicate (q_id, c_id) judgments (e.g. concatenated assessor
    // files) would fan the hit join out and double-count DCG terms —
    // collapse to the max grade (deterministic, unlike dropDuplicates).
    val jd = judgments.select(col(qIdCol).cast("long").as("q_id"),
        col(cIdCol).cast("long").as("c_id"), col(relCol).cast("int").as("rel"))
      .filter(col("rel") > 0)
      .groupBy("q_id", "c_id").agg(max("rel").as("rel"))
    val hits = rk.join(jd, Seq("q_id", "c_id"), "left")
      .select(col("q_id"), col("rank"), coalesce(col("rel"), lit(0)).as("rel"))
    val perQ = hits.groupBy("q_id").agg(
      min(when(col("rel") > 0, col("rank"))).as("first_rel"),
      sum(when(col("rel") > 0,
        round(gain * element_at(discCol, col("rank")), grid))
        .otherwise(lit(0.0)).cast(dec)).as("dcg"))
    val w = Window.partitionBy("q_id").orderBy(col("rel").desc, col("c_id"))
    val ideal = jd.withColumn("irank", row_number().over(w))
      .filter(col("irank") <= k)
      .groupBy("q_id")
      .agg(sum(round(gain * element_at(discCol, col("irank")), grid)
        .cast(dec)).as("idcg"))
    // full_outer, not left: a judged query the retriever returned NOTHING
    // for (within rank ≤ k) exists only on the ideal side — it must emit
    // an mrr=0/ndcg=0 row (the TREC convention: every judged query
    // counts), or averaged metrics silently overstate a retriever that
    // answers few queries well
    perQ.join(ideal, Seq("q_id"), "full_outer")
      .select(col("q_id"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg").cast("double"), lit(0.0)), 6).as("dcg"),
        round(coalesce(col("dcg").cast("double") /
          col("idcg").cast("double"), lit(0.0)), 6).as("ndcg"))
  }

  /** Average precision at k (the MAP building block — the ranking
    * metric [[rankingMetrics]]'s MRR/nDCG pair doesn't cover: MRR sees
    * only the first hit, nDCG needs graded judgments; AP is THE
    * binary-judgment ranking summary):
    *
    *   AP@k = Σ_{r ≤ k} rel_r · (hits_≤r / r) / min(R, k)
    *
    * computed EXACTLY: each precision term rides as the integer
    * rel_r · hits_≤r · (L/r) with L = lcm(1..k) (k ≤ 20 keeps L =
    * 232792560 and the term sum far inside a long), the division by
    * L·min(R, k) happens once on the 1e-6 lattice — no float anywhere,
    * no partition-order float sum (the cumulative-hit window is
    * rank-ordered per query). Duplicate judgments collapse first; a
    * rank < 1 fails loudly (the [[rankingMetrics]] guard). Judged
    * queries the retriever missed emit ap = 0 (the TREC convention);
    * retrieved-but-unjudged queries have no defined denominator → NULL.
    *
    * Scale: one (q, c) equi-join of the top-k lists against the judged
    * set, one per-query rank window over ≤ k rows, one rollup. Output:
    * (q_id, n_rel, n_hits, ap_e6).
    */
  def averagePrecision(
      ranked: DataFrame, judgments: DataFrame, k: Int,
      qIdCol: String = "q_id", cIdCol: String = "c_id",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    require(k >= 1 && k <= 20,
      s"k must be in [1, 20] (got $k) — lcm(1..k) must stay long-exact")
    val lcmK = (1 to k).map(BigInt(_)).reduce(
      (a, b) => a * b / a.gcd(b)).toLong
    val rk = ranked.select(col(qIdCol).cast("long").as("q_id"),
        col(cIdCol).cast("long").as("c_id"),
        when(col(rankCol).cast("int") < 1,
          raise_error(lit("averagePrecision: ranks must be 1-based")))
          .otherwise(col(rankCol).cast("int")).as("rank"))
      .filter(col("rank") <= k)
    val jd = judgments.select(col(qIdCol).cast("long").as("q_id"),
        col(cIdCol).cast("long").as("c_id"),
        col(relCol).cast("int").as("rel"))
      .filter(col("rel") > 0)
      .select("q_id", "c_id").distinct()
    val relTotals = jd.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val w = Window.partitionBy("q_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = rk
      .join(jd.withColumn("__hit", lit(1L)), Seq("q_id", "c_id"), "left")
      .withColumn("__rel", coalesce(col("__hit"), lit(0L)))
      .withColumn("__cum", sum("__rel").over(w))
      .groupBy("q_id").agg(
        sum(col("__rel") * col("__cum") *
          expr(s"${lcmK}L div CAST(rank AS BIGINT)")).as("num"),
        sum("__rel").as("n_hits"))
    relTotals.join(terms, Seq("q_id"), "full_outer")
      .select(col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_rel").isNotNull,
          expr(s"(2 * coalesce(num, 0) * 1000000 + " +
            s"$lcmK * least(n_rel, $k)) div " +
            s"(2 * $lcmK * least(n_rel, $k))"))
          .as("ap_e6"))
  }

  /** Hard-negative mining for contrastive / embedding training: per
    * query, the retriever's candidates ranked in [loRank, hiRank] minus
    * the known positives — the "near the query but not relevant" band.
    * Skipping the head (loRank > 1) avoids unlabeled true positives;
    * capping the tail (hiRank) avoids easy negatives that contribute no
    * gradient — the standard dense-retriever mining recipe (e.g. DPR,
    * Karpukhin et al. 2020).
    *
    * Scale: `ranked` is already a per-query top-N list, so the band
    * filter and the (q_id, c_id) anti join move ≤ |queries| · N rows;
    * per-query positive sets are label-sized, so AQE broadcasts the
    * anti join. The corpus-sized retrieval ran upstream under its own
    * contract.
    *
    * Output: (q_id, c_id, rank) — the retriever's rank preserved so
    * downstream samplers can weight harder negatives higher.
    */
  def hardNegatives(
      ranked: DataFrame, positives: DataFrame, loRank: Int, hiRank: Int,
      qIdCol: String = "q_id", cIdCol: String = "c_id",
      rankCol: String = "rank"): DataFrame = {
    require(1 <= loRank && loRank <= hiRank,
      s"need 1 <= loRank <= hiRank (got [$loRank, $hiRank])")
    ranked
      .select(col(qIdCol).cast("long").as("q_id"),
        col(cIdCol).cast("long").as("c_id"),
        col(rankCol).cast("long").as("rank"))
      .filter(col("rank").between(loRank, hiRank))
      .join(positives.select(col(qIdCol).cast("long").as("q_id"),
          col(cIdCol).cast("long").as("c_id")),
        Seq("q_id", "c_id"), "left_anti")
  }

  /** RLHF preference-pair construction: per prompt, (chosen, rejected)
    * = the highest- and lowest-scored responses, kept only when the
    * margin clears `minMarginE6` — the DPO/RLHF dataset-prep step that
    * turns per-response reward scores into training pairs.
    *
    * Deterministic under ties with NO window: chosen is the smallest id
    * among the top score (`max(struct(score, -id))`), rejected the
    * LARGEST id among the bottom score (`min(struct(score, -id))`) —
    * so with ≥ 2 responses chosen ≠ rejected even on an all-tied
    * prompt, and every engine picks the same pair. Prompts with one
    * response drop (no pair exists).
    *
    * Scale: one map-side-combined aggregate per prompt — two struct
    * extremes and a count; no shuffle beyond the prompt key, no
    * per-prompt sort. Scores arrive on the caller's integer lattice
    * (`scoreCol` BIGINT), so margins are exact.
    *
    * Output: (prompt_id, chosen_id, rejected_id, margin_e6).
    */
  def preferencePairs(
      scored: DataFrame, promptCol: String, respCol: String,
      scoreCol: String, minMarginE6: Long = 0L): DataFrame = {
    require(minMarginE6 >= 0, s"minMarginE6 must be >= 0 (got $minMarginE6)")
    scored
      .select(col(promptCol).cast("long").as("prompt_id"),
        col(respCol).cast("long").as("resp_id"),
        col(scoreCol).cast("long").as("s"))
      .groupBy("prompt_id")
      .agg(
        max(struct(col("s"), (-col("resp_id")).as("ni"))).as("hi"),
        min(struct(col("s"), (-col("resp_id")).as("ni"))).as("lo"),
        count(lit(1)).as("n"))
      // hi.ni === lo.ni means the extremes are the SAME response — only
      // possible when a response id arrives duplicated (n counts rows,
      // not distinct responses); a (chosen == rejected) pair would
      // poison a DPO loss, so it drops here rather than downstream
      .where(col("n") >= 2 && col("hi.ni") =!= col("lo.ni") &&
        col("hi.s") - col("lo.s") >= minMarginE6)
      .select(col("prompt_id"),
        (-col("hi.ni")).as("chosen_id"),
        (-col("lo.ni")).as("rejected_id"),
        (col("hi.s") - col("lo.s")).as("margin_e6"))
  }

  /** SQuAD normalization as a Column: lowercase, strip everything
    * outside [a-z0-9 ], drop the articles a/an/the, collapse
    * whitespace. RE2-safe (`\b` is an RE2 word boundary), so SQL twins
    * replay it verbatim.
    */
  def squadNormalize(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(c), "[^a-z0-9 ]", " "),
        "\\b(a|an|the)\\b", " "),
      "\\s+", " "))

  /** Reading-comprehension answer scoring — the SQuAD pair of metrics
    * per question: exact match on normalized text and token-level F1.
    *
    * F1 stays in exact integer arithmetic end-to-end: overlap =
    * Σ_t min(count_pred(t), count_ref(t)) from a per-(q, token) count
    * join; F1 = 2·overlap/(len_p + len_r) (the harmonic identity —
    * precision/recall never materialize), emitted on the 1e-6 lattice
    * via round-half-up integer division (2a + b) div 2b, so no engine
    * float path exists. Both-empty answers score EM=true, F1=10⁶
    * (the SQuAD convention); one-empty scores 0.
    *
    * Scale: token explode + one (q, token) count aggregate per side
    * (map-side combined), an equi-join on (q, token), and a per-q
    * rollup — answer-length-bounded rows, no window, no skew risk
    * beyond hot tokens AQE already splits.
    *
    * Input contract: ONE row per q_id on each side — a duplicated q_id
    * fans the lens join out and double-counts the token multiset (the
    * SQuAD convention's multi-reference max is a separate aggregation
    * the caller runs over per-reference scores).
    *
    * Output: (q_id, exact_match, f1_e6).
    */
  def qaTokenF1(
      preds: DataFrame, refs: DataFrame,
      qIdCol: String = "q_id", textCol: String = "answer"): DataFrame = {
    def toks(side: DataFrame, outCol: String): DataFrame =
      side.select(col(qIdCol).cast("long").as("q_id"),
        squadNormalize(col(textCol)).as(outCol))
    val p = toks(preds, "p_norm")
    val r = toks(refs, "r_norm")
    def counts(norm: DataFrame, normCol: String, cnt: String): DataFrame =
      norm.filter(col(normCol) =!= "")
        .select(col("q_id"), explode(split(col(normCol), " ")).as("tok"))
        .groupBy("q_id", "tok").agg(count(lit(1)).as(cnt))
    val overlap = counts(p, "p_norm", "pc")
      .join(counts(r, "r_norm", "rc"), Seq("q_id", "tok"))
      .groupBy("q_id").agg(sum(least(col("pc"), col("rc"))).as("ov"))
    val lens = p.join(r, Seq("q_id"))
      .select(col("q_id"), col("p_norm"), col("r_norm"),
        when(col("p_norm") === "", 0L)
          .otherwise(size(split(col("p_norm"), " ")).cast("long")).as("lp"),
        when(col("r_norm") === "", 0L)
          .otherwise(size(split(col("r_norm"), " ")).cast("long")).as("lr"))
    lens.join(overlap, Seq("q_id"), "left")
      // round-half-up integer division (2a + b) div 2b with
      // a = 2·ov·10⁶, b = lp + lr
      .withColumn("num",
        lit(4000000L) * coalesce(col("ov"), lit(0L)) +
          col("lp") + col("lr"))
      .withColumn("den", lit(2L) * (col("lp") + col("lr")))
      .select(col("q_id"),
        (col("p_norm") === col("r_norm")).as("exact_match"),
        when(col("den") === 0L, 1000000L)
          .otherwise(expr("num div den")).as("f1_e6"))
  }

  /** pass@k (Chen et al. 2021, the HumanEval estimator): per task with
    * n samples of which c succeeded, the unbiased probability that at
    * least one of k drawn samples succeeds,
    *
    *   pass@k = 1 − C(n−c, k) / C(n, k)
    *          = 1 − Π_{i=0..k−1} (n−c−i) / (n−i)
    *
    * — THE functional-correctness metric of code-generation evals.
    *
    * Determinism: the two falling-factorial products fold as exact
    * LONGS (a higher-order `aggregate` over 0..k−1; when n−c < k the
    * i = n−c factor is 0, so num = 0 and pass@k = 1 with no special
    * case), and the final value is the fixed IEEE sequence
    * floor((1 − num/den)·10⁶ + ½) — one division of exact sub-2⁵³
    * integers, bit-identical in any engine. Tasks with n < k emit
    * NULL (the estimator is undefined; C(n,k) = 0), and n is capped at
    * 25 by contract (25¹⁰ < 2⁵³ keeps the products exact — real eval
    * harnesses bin to n = 10/20 anyway); larger groups fail loudly.
    *
    * Scale: ONE map-side-combined aggregate over the samples (n, c per
    * task), then scan-side arithmetic over task-sized rows. Output:
    * (task, n, c, pass_at_<k>_e6 per k).
    */
  def passAtK(
      samples: DataFrame, taskCol: String, successCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 10),
      s"ks must be within [1, 10] (got $ks)")
    val byTask = samples
      .groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).as("c"))
      .withColumn("n",
        when(col("n") > 25, raise_error(concat(
          lit("passAtK: task group exceeds the n <= 25 exact-integer " +
            "envelope (got "), col("n").cast("string"),
          lit(") — bin samples upstream")))).otherwise(col("n")))
    ks.foldLeft(byTask) { (df, k) =>
      val num = expr(
        s"aggregate(sequence(0, $k - 1), 1L, (a, i) -> a * (n - c - i))")
      val den = expr(
        s"aggregate(sequence(0, $k - 1), 1L, (a, i) -> a * (n - i))")
      df.withColumn(s"pass_at_${k}_e6",
        when(col("n") >= k,
          floor((lit(1.0) - num.cast("double") / den.cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long")))
    }
  }

  /** Corpus-scale sentence BLEU (Papineni et al. 2002, ACL) — clipped
    * n-gram precision up to `maxN` with the brevity penalty; THE
    * machine-translation / generation-eval metric, run per
    * (candidate, reference) pair.
    *
    *   p_n  = Σ_g min(cnt_cand(g), cnt_ref(g)) / (c − n + 1)
    *   BLEU = BP · (Π p_n)^(1/maxN),  BP = min(1, e^(1 − r/c))
    *
    * Zero rule: an empty candidate or ANY zero clipped count scores 0
    * (unsmoothed sentence BLEU — smoothing variants are a caller-side
    * epsilon on the clip counts).
    *
    * Determinism: clip counts are exact integer (q, n, gram)
    * count-join sums (the [[qaTokenF1]] overlap discipline); the
    * geometric mean is sqrt∘sqrt (maxN = 4) / sqrt (2) / identity (1)
    * — sqrt is IEEE-correctly-rounded, unlike pow — so the only
    * transcendental in the tree is ONE exp on short-candidate rows
    * (within 1 ulp everywhere; same lattice exposure the pmi/zipf log
    * already accepts). maxN is restricted to {1, 2, 4} for exactly
    * this reason.
    *
    * Scale: one gram explode + map-side-combined count per side (all
    * n in one pass — the gram fan-out is scan-side CPU), one
    * (q, n, gram) equi-join, a per-(q, n) rollup and a q-sized pivot.
    * No window, no driver state.
    *
    * Output: (q_id, c_len, r_len, clip_1..clip_maxN, bleu_e6) —
    * clip_n NULL when the pair has no overlapping n-gram (kept NULL,
    * not 0, so "no overlap" and "overlap counted 0" stay
    * distinguishable; the zero rule treats both as 0).
    */
  /** Bradley–Terry ratings from pairwise preferences (Bradley & Terry
    * 1952; the MM iteration of Hunter 2004, Ann. Statist. §1) — the
    * model behind chatbot-arena leaderboards and RLHF preference
    * aggregation: P(i beats j) = π_i/(π_i + π_j), fit by a FIXED
    * number of minorization–maximization rounds
    *
    *   π_i ← W_i / Σ_j n_ij/(π_i + π_j),   then Σπ renormalized
    *
    * (fixed rounds, not a convergence probe — the [[graft.operators.Graph.pageRank]]
    * contract; a winless player rates 0 and an undefeated player's
    * divergent MLE is bounded by the round count, both documented
    * behaviors of the truncated iteration).
    *
    * Determinism: ratings are integer-valued doubles in units of
    * 1e-6 (scale 10⁶); each MM term floors onto the lattice,
    * per-player sums are exact decimal(38,0) sums of those integers
    * (order-free in any engine), and every remaining op is a
    * correctly-rounded IEEE double op — the pageRank/hits expression
    * tree discipline, so an engine twin agrees bit for bit.
    *
    * Scale: the games collapse to one symmetric (i, j, n) pair table
    * (checkpointed once, distributed). The pair table is players²-
    * bounded, so when its doubled form fits under
    * [[Guards.DriverCapRows]] (2²⁰) the MM rounds run driver-side on the same exact
    * lattice — zero Spark jobs per round instead of ~4 (the
    * resolveClusters union-find discipline; both paths agree bit for
    * bit, spec-pinned). Beyond the cap, each round is two joins of the
    * pair table with the player-sized rating table, one hash
    * aggregate, and a broadcast one-row normalization — per-round cost
    * linear in distinct pairs. Rating state uses lazy checkpoints (the
    * g3 eagerness measurement).
    *
    * Output: (player, wins, rating) — mean rating 1.0 on the lattice.
    */
  def bradleyTerry(
      games: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 8): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50] (got $iterations)")
    val scale = 1e6
    def checked(c: String, side: String) =
      when(col(c).isNull,
        raise_error(lit(s"bradleyTerry: null $side")))
        .otherwise(col(c).cast("string"))
    val g = games
      .select(checked(winnerCol, "winner").as("w"),
        checked(loserCol, "loser").as("l"))
      .select(when(col("w") === col("l"),
        raise_error(concat(lit("bradleyTerry: self-game for "),
          col("w")))).otherwise(col("w")).as("w"), col("l"))
    val pairs = g
      .select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val both = pairs.select(col("a").as("i"), col("b").as("j"), col("n"))
      .unionAll(pairs.select(col("b").as("i"), col("a").as("j"), col("n")))
      .localCheckpoint()
    val wins = g.groupBy(col("w").as("id")).agg(count(lit(1)).as("wins"))
    val base = both.select(col("i").as("id")).distinct()
      .join(wins, Seq("id"), "left")
      .select(col("id"), coalesce(col("wins"), lit(0L)).as("wins"))
      .localCheckpoint()
    val nPlayers = base.count().toDouble
    require(nPlayers > 0, "bradleyTerry: no games")
    // Driver-side fast path (the [[graft.operators.Dedup.resolveClusters]]
    // union-find discipline): the pair table is players²-bounded and the
    // MM loop's per-round state is player-sized, so when the doubled pair
    // table fits under a 2²⁰-row cap the 8-round loop runs as plain Scala
    // on the SAME exact lattice — identical floors, identical exact
    // integer sums (BigInt ≡ decimal(38,0), both order-free), identical
    // IEEE double ops — instead of ~4 Spark jobs per round. Beyond the
    // cap the distributed loop below is the plan, unchanged.
    val bothRowsOpt = Guards.driverRows(both, Guards.DriverCapRows)
    if (bothRowsOpt.isDefined) {
      val bothRows = bothRowsOpt.get
      val baseRows = base.collect()
      val ids = baseRows.map(_.getString(0))
      val winsArr = baseRows.map(_.getLong(1))
      val idx = ids.zipWithIndex.toMap
      val m = bothRows.length
      val gi = new Array[Int](m); val gj = new Array[Int](m)
      val gn = new Array[Long](m)
      var x = 0
      while (x < m) {
        gi(x) = idx(bothRows(x).getString(0))
        gj(x) = idx(bothRows(x).getString(1))
        gn(x) = bothRows(x).getLong(2)
        x += 1
      }
      // p mirrors the distributed column's type history exactly: double
      // scale in round 1, integer-valued doubles (= the long floor round-
      // tripped through the division's long→double cast) afterwards.
      val p = Array.fill(ids.length)(scale)
      for (_ <- 1 to iterations) {
        val dsum = Array.fill(ids.length)(BigInt(0))
        x = 0
        while (x < m) {
          dsum(gi(x)) +=
            math.floor(gn(x) * 1e12 / (p(gi(x)) + p(gj(x))) + 0.5).toLong
          x += 1
        }
        var k = 0
        while (k < ids.length) {
          p(k) = math.floor(winsArr(k) * 1e12 / dsum(k).toDouble + 0.5)
            .toLong.toDouble
          k += 1
        }
        var s = BigInt(0)
        k = 0
        while (k < ids.length) { s += p(k).toLong; k += 1 }
        val sD = s.toDouble
        k = 0
        while (k < ids.length) {
          p(k) = math.floor(p(k) * nPlayers * scale / sD + 0.5)
            .toLong.toDouble
          k += 1
        }
      }
      val spark = games.sparkSession
      import spark.implicits._
      return ids.indices
        .map(k => (ids(k), winsArr(k), p(k) / scale)).toDF()
        .toDF("player", "wins", "rating")
    }
    var pi = base.select(col("id"), lit(scale).as("p"))
    for (r <- 1 to iterations) {
      // MM denominator: per-opponent terms floored onto the lattice,
      // summed exactly (decimal(38,0) — integer-valued doubles).
      // π_i + π_j = 0 cannot occur: π hits 0 only for winless players,
      // and a played pair always contains at least one winner.
      val d = both
        .join(pi.select(col("id").as("i"), col("p").as("p_i")), "i")
        .join(pi.select(col("id").as("j"), col("p").as("p_j")), "j")
        .select(col("i").as("id"),
          floor(col("n") * lit(1e12) / (col("p_i") + col("p_j")) +
            lit(0.5)).as("t"))
        .groupBy("id")
        .agg(sum(col("t").cast(DecimalType(38, 0))).as("dsum"))
      val upd = base.join(d, Seq("id"), "left")
        .select(col("id"),
          when(col("dsum").isNull, lit(0.0))
            .otherwise(floor(
              col("wins") * lit(1e12) / col("dsum").cast("double") +
                lit(0.5))).as("p"))
      // renormalize Σπ = N·scale; lazy checkpoint — the sum's
      // broadcast job materializes the cache in passing (g3)
      val m = upd.localCheckpoint(eager = false)
      val s = m.agg(sum(col("p").cast(DecimalType(38, 0))).as("s"))
      pi = m.crossJoin(broadcast(s))
        .select(col("id"),
          floor(col("p") * lit(nPlayers) * lit(scale) /
            col("s").cast("double") + lit(0.5)).as("p"))
    }
    base.join(pi, "id")
      .select(col("id").as("player"), col("wins"),
        (col("p") / lit(scale)).as("rating"))
  }

  /** RAG context assembly: per query, pack ranked candidates into a
    * token budget — the retrieval → prompt step of a RAG serving
    * stack. Candidates pack in relevance order (score desc, id asc —
    * a total order), and because token counts are strictly positive
    * the under-budget set is a rank PREFIX: the first candidate whose
    * running total would exceed `budget` stops the pack (no
    * skip-ahead — skipping a big doc to squeeze a small one reorders
    * context against relevance, the wrong trade for prompting).
    *
    * Token counts must be positive — zero/negative would break the
    * prefix property silently, so they fail loudly (the urlDedup
    * discipline). Deterministic end-to-end: one window pass computes
    * rank and running total together; no float arithmetic.
    *
    * Scale: ONE exchange — the query-keyed window; per-key rows are
    * the retriever's k-bounded candidate list, so the sort is
    * list-sized, never corpus-sized.
    *
    * Output: (q_id, c_id, score, n_tokens, pack_rank, cum_tokens) —
    * packed rows only.
    */
  def contextPack(
      candidates: DataFrame, qIdCol: String, cIdCol: String,
      scoreCol: String, tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val base = candidates.select(
      col(qIdCol).as("q_id"), col(cIdCol).as("c_id"),
      // a null score would sort last (desc NULLS LAST) yet still pack
      // if budget remained — an unranked candidate silently entering
      // the prompt; fail loudly like the token guard below
      when(col(scoreCol).isNull,
        raise_error(concat(
          lit("contextPack: null score for candidate "),
          col(cIdCol).cast("string"))))
        .otherwise(col(scoreCol)).as("score"),
      when(col(tokensCol).isNull || col(tokensCol) <= 0,
        raise_error(concat(
          lit("contextPack: non-positive token count for candidate "),
          col(cIdCol).cast("string"))))
        .otherwise(col(tokensCol).cast("long")).as("n_tokens"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("c_id").asc)
    base
      .withColumn("pack_rank", row_number().over(w))
      .withColumn("cum_tokens", sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budget)
  }

  /** ROUGE-N (Lin 2004, "ROUGE: A Package for Automatic Evaluation of
    * Summaries") — clipped n-gram recall/precision/F1 per
    * (candidate, reference) pair, the summarization-eval complement of
    * [[bleu]] (BLEU is precision-first with a brevity penalty; ROUGE
    * is recall-first with no penalty).
    *
    * Fully exact: clip counts are the same (q, n, gram) count-join
    * integers as [[bleu]]; recall = clip/r_tot, precision = clip/c_tot
    * and F1 = 2·clip/(c_tot + r_tot) (the harmonic identity — the
    * [[qaTokenF1]] discipline) all land on the 1e-6 lattice via
    * round-half-up (2a + b) div 2b integer division. NO float, NO
    * transcendental anywhere — any engine agrees bit for bit. A side
    * with no n-grams (too short / empty) has no defined rate on that
    * axis → NULL; F1 is NULL only when BOTH sides are gram-less.
    *
    * Scale: identical shape to [[bleu]] — one gram explode + count per
    * side, one equi-join, a per-(q, n) rollup; emitted LONG-format
    * (one row per pair per n), no pivot.
    *
    * Output: (q_id, n, clip, c_tot, r_tot, recall_e6, precision_e6,
    * f1_e6).
    */
  def rougeN(
      pairs: DataFrame, idCol: String, candCol: String, refCol: String,
      maxN: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 4, s"maxN must be in [1, 4] (got $maxN)")
    val base = pairs.select(col(idCol).cast("long").as("q_id"),
      filter(split(col(candCol), " "), t => t =!= "").as("ct"),
      filter(split(col(refCol), " "), t => t =!= "").as("rt"))
    def grams(toks: Column): Column =
      flatten(transform(sequence(lit(1), lit(maxN)), n =>
        when(size(toks) >= n,
          transform(
            sequence(lit(1), size(toks) - n + 1),
            i => struct(n.as("n"),
              concat_ws(" ", slice(toks, i, n)).as("gram"))))
          .otherwise(array().cast("array<struct<n:int,gram:string>>"))))
    def counts(c: String, out: String): DataFrame =
      base.select(col("q_id"), explode(grams(col(c))).as("g"))
        .groupBy(col("q_id"), col("g.n").as("n"), col("g.gram").as("gram"))
        .agg(count(lit(1)).as(out))
    val clips = counts("ct", "cc")
      .join(counts("rt", "rc"), Seq("q_id", "n", "gram"))
      .groupBy("q_id", "n").agg(sum(least(col("cc"), col("rc"))).as("clip"))
    // one (q, n) grid row per pair, totals from the lengths — no gram
    // table needed for the denominators
    val grid = base.select(col("q_id"),
        explode(sequence(lit(1), lit(maxN))).as("n"),
        size(col("ct")).cast("long").as("cl"),
        size(col("rt")).cast("long").as("rl"))
      .select(col("q_id"), col("n").cast("int").as("n"),
        greatest(col("cl") - col("n") + 1, lit(0L)).as("c_tot"),
        greatest(col("rl") - col("n") + 1, lit(0L)).as("r_tot"))
    grid.join(clips, Seq("q_id", "n"), "left")
      .select(col("q_id"), col("n"),
        coalesce(col("clip"), lit(0L)).as("clip"),
        col("c_tot"), col("r_tot"))
      .withColumn("recall_e6",
        when(col("r_tot") > 0,
          expr("(2 * clip * 1000000 + r_tot) div (2 * r_tot)")))
      .withColumn("precision_e6",
        when(col("c_tot") > 0,
          expr("(2 * clip * 1000000 + c_tot) div (2 * c_tot)")))
      .withColumn("f1_e6",
        when(col("c_tot") + col("r_tot") > 0,
          expr("(2 * (2 * clip * 1000000) + c_tot + r_tot) " +
            "div (2 * (c_tot + r_tot))")))
  }

  def bleu(
      pairs: DataFrame, idCol: String, candCol: String, refCol: String,
      maxN: Int = 4): DataFrame = {
    require(Seq(1, 2, 4).contains(maxN),
      s"maxN must be 1, 2 or 4 (got $maxN) — the geometric mean must " +
        "compose from correctly-rounded sqrt, never pow")
    val base = pairs.select(col(idCol).cast("long").as("q_id"),
      filter(split(col(candCol), " "), t => t =!= "").as("ct"),
      filter(split(col(refCol), " "), t => t =!= "").as("rt"))
    // (n, gram) structs for all n in one scan-side fan-out. The short
    // side is an explicit empty array, never sequence(1, 0) — a
    // descending sequence would fan out i = 0 and slice rejects start 0
    // (the wordShingles pitfall).
    def grams(toks: Column): Column =
      flatten(transform(sequence(lit(1), lit(maxN)), n =>
        when(size(toks) >= n,
          transform(
            sequence(lit(1), size(toks) - n + 1),
            i => struct(n.as("n"),
              concat_ws(" ", slice(toks, i, n)).as("gram"))))
          .otherwise(array().cast("array<struct<n:int,gram:string>>"))))
    def counts(c: String, out: String): DataFrame =
      base.select(col("q_id"), explode(grams(col(c))).as("g"))
        .groupBy(col("q_id"), col("g.n").as("n"), col("g.gram").as("gram"))
        .agg(count(lit(1)).as(out))
    val clips = counts("ct", "cc")
      .join(counts("rt", "rc"), Seq("q_id", "n", "gram"))
      .groupBy("q_id", "n").agg(sum(least(col("cc"), col("rc"))).as("clip"))
    val pivotCols = (1 to maxN).map(n =>
      sum(when(col("n") === n, col("clip"))).as(s"clip_$n"))
    val byQ = clips.groupBy("q_id").agg(pivotCols.head, pivotCols.tail: _*)
    val lens = base.select(col("q_id"),
      size(col("ct")).cast("long").as("c_len"),
      size(col("rt")).cast("long").as("r_len"))
    val anyZero = (1 to maxN)
      .map(n => coalesce(col(s"clip_$n"), lit(0L)) === 0L)
      .reduce(_ || _)
    val prod = (1 to maxN).map { n =>
      col(s"clip_$n").cast("double") /
        (col("c_len") - (n - 1)).cast("double")
    }.reduce(_ * _)
    val geo = maxN match {
      case 1 => prod
      case 2 => sqrt(prod)
      case 4 => sqrt(sqrt(prod))
    }
    val bp = when(col("c_len") >= col("r_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("r_len").cast("double") / col("c_len").cast("double")))
    lens.join(byQ, Seq("q_id"), "left")
      .withColumn("bleu_e6",
        when(col("c_len") === 0L || anyZero, lit(0L))
          .otherwise(floor(bp * geo * lit(1e6) + lit(0.5)).cast("long")))
  }

  /** chrF2 (Popović 2015) per (candidate, reference) pair — the
    * character n-gram F-score that tracks human judgment better than
    * BLEU on morphology-rich output and needs no tokenizer contract at
    * all (the metric of record alongside BLEU in WMT evals). ASCII
    * whitespace ([ \t\n\r] — spelled as an explicit class, never \s:
    * Java's includes \x0B, RE2's does not) is stripped, character
    * n-grams n = 1..`maxN` (default 6) are counted exactly, and
    *
    *   P = (Σ_{n ≤ min(len_c, maxN)} clip_n / c_tot_n) / m_c,  R dito,
    *   chrF2 = (1+β²)·P·R / (β²·P + R),  β = 2
    *
    * with m_c = min(len_c, maxN) the effective order count (orders
    * longer than the string contribute nothing, not zeros — the
    * sacrebleu effective-order convention).
    *
    * Determinism: clip/total counts are exact integers; P, R and chrF2
    * are ONE fixed IEEE expression tree per row — the per-order terms
    * sum in ascending-n written order (never a SQL SUM whose float
    * addition order is partition-dependent), divisions and the final
    * floor(·1e6 + ½) are correctly-rounded double ops any engine
    * mirrors bit for bit (the [[bleu]] discipline). A side with no
    * grams at all (empty after stripping) has no defined rate → NULL
    * score; P = R = 0 scores 0.
    *
    * Scale: one gram explode + count per side (grams are scan-side,
    * rows ≤ maxN·chars), one equi-join on (q, n, gram), a q-keyed
    * conditional-sum pivot — the rougeN/bleu plan shape exactly.
    *
    * Output: (q_id, c_len, r_len, m_c, m_r, prec_e6, rec_e6, chrf2_e6).
    */
  def chrF(
      pairs: DataFrame, idCol: String, candCol: String, refCol: String,
      maxN: Int = 6): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8] (got $maxN)")
    def checked(c: String, side: String) =
      regexp_replace(
        when(col(c).isNull,
          raise_error(lit(s"chrF: null $side"))).otherwise(col(c)),
        "[ \t\n\r]", "")
    val base = pairs.select(col(idCol).cast("long").as("q_id"),
      checked(candCol, "candidate").as("cs"),
      checked(refCol, "reference").as("rs"))
    def grams(s: Column): Column =
      flatten(transform(sequence(lit(1), lit(maxN)), n =>
        when(length(s) >= n,
          transform(sequence(lit(1), length(s) - n + 1),
            i => struct(n.as("n"), s.substr(i, n).as("gram"))))
          .otherwise(array().cast("array<struct<n:int,gram:string>>"))))
    def counts(c: String, out: String): DataFrame =
      base.select(col("q_id"), explode(grams(col(c))).as("g"))
        .groupBy(col("q_id"), col("g.n").as("n"), col("g.gram").as("gram"))
        .agg(count(lit(1)).as(out))
    val clips = counts("cs", "cc")
      .join(counts("rs", "rc"), Seq("q_id", "n", "gram"))
      .groupBy("q_id", "n").agg(sum(least(col("cc"), col("rc"))).as("clip"))
    val pivotCols = (1 to maxN).map(n =>
      sum(when(col("n") === n, col("clip"))).as(s"clip_$n"))
    val byQ = clips.groupBy("q_id").agg(pivotCols.head, pivotCols.tail: _*)
    val lens = base.select(col("q_id"),
      length(col("cs")).cast("long").as("c_len"),
      length(col("rs")).cast("long").as("r_len"))
    // per-order rate terms in ascending-n WRITTEN order — one fixed tree
    def rateSum(lenC: Column): Column = (1 to maxN).map { n =>
      when(lenC >= n,
        coalesce(col(s"clip_$n"), lit(0L)).cast("double") /
          (lenC - (n - 1)).cast("double"))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    val mC = least(col("c_len"), lit(maxN.toLong))
    val mR = least(col("r_len"), lit(maxN.toLong))
    val p = rateSum(col("c_len")) / mC.cast("double")
    val r = rateSum(col("r_len")) / mR.cast("double")
    lens.join(byQ, Seq("q_id"), "left")
      .select(col("q_id"), col("c_len"), col("r_len"),
        mC.as("m_c"), mR.as("m_r"),
        when(mC > 0, floor(p * lit(1e6) + lit(0.5)).cast("long"))
          .as("prec_e6"),
        when(mR > 0, floor(r * lit(1e6) + lit(0.5)).cast("long"))
          .as("rec_e6"),
        when(mC > 0 && mR > 0,
          when(lit(4.0) * p + r > 0.0,
            floor(lit(5.0) * p * r / (lit(4.0) * p + r) * lit(1e6) +
              lit(0.5)).cast("long"))
            .otherwise(lit(0L)))
          .as("chrf2_e6"))
  }

  /** Character-level edit similarity per (candidate, reference) pair —
    * the cheap generation-eval next to [[bleu]]/[[rougeN]]: exact-match
    * rate and normalized Levenshtein similarity are the standard first
    * read on format-constrained outputs (SQL, JSON, code) where n-gram
    * overlap under-penalizes a single wrong token.
    *
    * Everything stays inside whole-stage codegen: `levenshtein` is the
    * built-in DP expression (O(|c|·|r|) per row, embarrassingly
    * parallel, no shuffle at all — one scan-side projection), and the
    * similarity (maxlen − dist) / maxlen lands on the 1e-6 lattice via
    * the shared (2a + b) div 2b half-up idiom — dist ≤ maxlen always,
    * so the numerator is never negative. Two empty strings are
    * identical (sim 1e6) by convention. Null candidate or reference
    * fails loudly (a missing generation is corrupt eval input, not a
    * zero score — the urlDedup discipline).
    *
    * Output: (id, dist, max_len, exact, sim_e6).
    */
  def editSimilarity(
      pairs: DataFrame, idCol: String, candCol: String,
      refCol: String): DataFrame = {
    def checked(c: String, side: String) =
      when(col(c).isNull,
        raise_error(lit(s"editSimilarity: null $side")))
        .otherwise(col(c).cast("string"))
    pairs
      .select(col(idCol).as("id"), checked(candCol, "candidate").as("c"),
        checked(refCol, "reference").as("r"))
      .select(col("id"), levenshtein(col("c"), col("r")).as("dist"),
        greatest(length(col("c")), length(col("r"))).cast("long")
          .as("max_len"),
        (col("c") === col("r")).as("exact"))
      .withColumn("sim_e6",
        when(col("max_len") === 0L, lit(1000000L))
          .otherwise(expr(
            "(2 * (max_len - dist) * 1000000 + max_len) div (2 * max_len)")))
  }
}
