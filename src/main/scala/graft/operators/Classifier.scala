package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed linear classifier training — the quality-classifier step
  * of LLM corpus curation (fastText/logistic filters scoring "does this
  * page look like reference text", e.g. the GPT-3 / LLaMA WebText
  * quality filters) re-expressed as fixed-round batch gradient descent
  * where each round is ONE map-side-combined aggregation over the
  * corpus and the model itself never leaves driver scale.
  */
object Classifier {

  /** Trained linear model: bias + one weight per feature column, plus
    * the training hyperparameters (carried so scoring and twins can
    * reproduce the exact arithmetic).
    */
  case class LinearModel(
      bias: Double, weights: Array[Double], lr: Double, grid: Int)

  /** The softsign link σ(z) = 0.5·(1 + z/(1+|z|)) — a logistic-shaped
    * squashing onto (0,1) built from +,·,/,|·| only. Chosen over exp's
    * logistic because it is bit-reproducible across engines: IEEE
    * double add/mul/div/abs are correctly rounded everywhere, while
    * exp() differs by ulps between libm implementations (the reason the
    * LM-fluency queries round ln() outputs instead of chaining them).
    */
  def softsign(z: Column): Column =
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))

  private def zExpr(b: Double, w: Array[Double], feats: Seq[Column]): Column =
    feats.zipWithIndex.foldLeft(lit(b): Column) {
      case (acc, (f, j)) => acc + lit(w(j)) * f
    }

  /** Fixed-round full-batch gradient descent for a linear classifier
    * under the [[softsign]] link and squared-error-style update
    * g_j = Σ_i (p_i − y_i)·x_ij / n,  w_j ← w_j − lr·g_j  (w_0 = 0).
    *
    * Determinism: weights are carried as scaled integers (units of
    * 10^-`grid`) and every per-row gradient contribution is
    * `floor(v·10^grid + 0.5)` — a correctly-rounded IEEE sequence with
    * NO engine round() anywhere in the loop (engine round()
    * implementations disagree within 1 ulp of a half-up boundary, and a
    * corpus × features × rounds worth of them does hit one — see
    * [[Graph]]'s identical recipe). Contributions are integers, summed
    * in decimal(38,0) so the sum is exact in any partition order and
    * can't overflow a long at billion-row scale; the driver-side weight
    * update is the same fixed floor-arithmetic any mirroring engine
    * reproduces bit for bit.
    *
    * Scale: each round is one aggregation producing d+1 integer sums
    * (map-side partials, a d+1-column single row to the driver) over the
    * once-checkpointed feature projection; rounds are a fixed
    * hyperparameter. Nothing corpus-sized ever reaches the driver, and
    * the feature matrix is scanned, never shuffled.
    */
  def trainSoftsign(
      df: DataFrame, featureCols: Seq[String], labelCol: String,
      rounds: Int = 8, lr: Double = 0.5, grid: Int = 12): LinearModel = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(rounds >= 1 && rounds <= 64, s"rounds in [1, 64] (got $rounds)")
    require(grid >= 6 && grid <= 15,
      s"grid in [6, 15] (got $grid) — 10^grid must stay integer-exact in doubles")
    // One projected materialization feeds all `rounds` scans.
    val m = df.select(
      (col(labelCol).cast("double").as("__y") +: featureCols.zipWithIndex
        .map { case (c, j) => col(c).cast("double").as(s"__x$j") }): _*)
      .localCheckpoint()
    val n = m.count()
    require(n > 0, "empty training input")
    val scale = math.pow(10.0, grid)
    val dec = DecimalType(38, 0)
    // Sub-cap driver fast path — the propagate/learnMerges discipline:
    // the per-round state is the weight vector and every gradient an
    // exact integer (each row's floor(·) lands on an integer-valued
    // double ≤ 2^53, summed exactly), so a sub-cap feature table runs
    // the full-batch rounds in plain Scala — zero Spark jobs per round
    // instead of one aggregate each — with bit-identical weights: z
    // replays zExpr's left fold, p the softsign IEEE sequence, the sums
    // accumulate in BigInt (the decimal(38,0) twin), and a row with ANY
    // null field contributes nothing on either path (a null feature
    // nulls z, hence every gradient of that row). Over the cap (or with
    // the twins switched off) the aggregate loop runs unchanged.
    if (Guards.onDriver(m.sparkSession, n, Guards.DriverCapRows)) {
      val k = featureCols.size
      val rows0 = m.collect()
      val data = rows0.flatMap { r =>
        if ((0 to k).exists(r.isNullAt)) None
        else Some(Array.tabulate(k + 1)(r.getDouble))
      }
      require(data.nonEmpty, "trainSoftsign: every row has a null field")
      var bS0 = 0.0
      var wS0 = Array.fill(k)(0.0)
      for (_ <- 1 to rounds) {
        val gs = Array.fill(k + 1)(BigInt(0))
        for (a <- data) {
          var z = bS0 / scale
          var j = 0
          while (j < k) { z = z + (wS0(j) / scale) * a(j + 1); j += 1 }
          val p = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
          val diff = p - a(0)
          // `.toLong` is the exact twin of the distributed floor(·): Spark's
          // floor over a double returns LongType via a raw `(long)Math.floor`
          // cast, which saturates at Long.MaxValue — so past ~9.2e18 BOTH
          // paths saturate identically before the decimal(38,0) cast/sum
          // (pinned by the grid-15 ClassifierSpec parity test; a BigDecimal
          // accumulator here would DIVERGE from the engine).
          gs(0) += BigInt(math.floor(diff * scale + 0.5).toLong)
          j = 0
          while (j < k) {
            gs(j + 1) += BigInt(math.floor(diff * a(j + 1) * scale + 0.5).toLong)
            j += 1
          }
        }
        def upd0(cur: Double, i: Int): Double =
          math.floor(cur - lr * (gs(i).toDouble / n) + 0.5)
        bS0 = upd0(bS0, 0)
        wS0 = Array.tabulate(k)(j => upd0(wS0(j), j + 1))
      }
      return LinearModel(bS0 / scale, wS0.map(_ / scale), lr, grid)
    }
    // Scaled-integer weights; the z expression always consumes the
    // natural-unit quotients (wS / scale) so scoring and engine twins
    // share one expression shape.
    var bS = 0.0
    var wS = Array.fill(featureCols.size)(0.0)
    for (_ <- 1 to rounds) {
      val p = softsign(zExpr(bS / scale, wS.map(_ / scale),
        featureCols.indices.map(j => col(s"__x$j"))))
      val diff = p - col("__y")
      val aggs = floor(diff * lit(scale) + lit(0.5)).cast(dec).as("g_b") +:
        featureCols.indices.map(j =>
          floor(diff * col(s"__x$j") * lit(scale) + lit(0.5)).cast(dec)
            .as(s"g_$j"))
      val row = m.select(aggs: _*)
        .agg(sum("g_b").as("g_b"),
          featureCols.indices.map(j => sum(s"g_$j").as(s"g_$j")): _*)
        .head()
      def upd(cur: Double, i: Int): Double =
        math.floor(cur - lr * (row.getDecimal(i).doubleValue() / n) + 0.5)
      bS = upd(bS, 0)
      wS = Array.tabulate(wS.length)(j => upd(wS(j), j + 1))
    }
    LinearModel(bS / scale, wS.map(_ / scale), lr, grid)
  }

  /** Reliability-diagram calibration bins for a probabilistic scorer —
    * the model-eval companion to training: per decile bin of the score,
    * the count, mean score and empirical positive rate, and their gap
    * (whose n-weighted sum is ECE). Everything is exact arithmetic:
    * scores arrive rounded (6dp from [[score]]) so the decimal bin sums
    * are order-independent, labels sum as integers, and the two
    * quotients divide exactly the same doubles in any engine.
    *
    * Scale: one hash aggregate keyed on the ≤ `bins` bin ids with
    * map-side partials — a scan, one tiny shuffle, nothing else.
    */
  def calibrationBins(
      scored: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins in [2, 1000] (got $bins)")
    val s = col(scoreCol).cast("double")
    val bin = least(floor(s * lit(bins.toDouble)), lit((bins - 1).toDouble))
      .cast("long")
    val meanScore = sum(s.cast(DecimalType(38, 6))).cast("double") /
      count(lit(1))
    val fracPos = sum(col(labelCol).cast("long")).cast("double") /
      count(lit(1))
    scored.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(meanScore, 6).as("mean_score"),
        round(fracPos, 6).as("frac_pos"),
        round(abs(meanScore - fracPos), 6).as("gap"))
  }

  /** Expected calibration error — the one-number summary of
    * [[calibrationBins]] a model-quality gate thresholds on:
    *
    *   ECE = Σ_b (n_b / N) · |mean_score_b − frac_pos_b|
    *
    * plus the worst bin's gap (maximum calibration error). The bin
    * gaps arrive on e2's 1e-6 lattice; the weighted sum n_b·gap_e6 is
    * an exact integer fold over ≤ `bins` rows and the final value a
    * round-half-up (2a+b) div 2b integer division — engine-stable,
    * no float accumulation. One aggregate over the bin table (≤ bins
    * rows) on top of calibrationBins' single corpus pass.
    *
    * Output: one row (n, bins_used, ece_e6, max_gap_e6).
    */
  def ece(
      scored: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    val b = calibrationBins(scored, scoreCol, labelCol, bins)
    val g6 = floor(col("gap") * 1000000 + lit(0.5)).cast("long")
    b.agg(sum("n").as("n"), count(lit(1)).as("bins_used"),
        sum(col("n") * g6).as("__wg"), max(g6).as("max_gap_e6"))
      .withColumn("ece_e6", expr("(2 * __wg + n) div (2 * n)"))
      .select("n", "bins_used", "ece_e6", "max_gap_e6")
  }

  /** Exact ROC-AUC of a binary scorer via the Mann–Whitney U statistic
    * with tie-averaged ranks:
    *
    *   AUC = (Σ_pos avgrank − nPos·(nPos+1)/2) / (nPos·nNeg)
    *
    * where tied scores share their group's average rank — computed
    * group-wise, so the result is independent of any within-tie order.
    * All arithmetic is exact integers (doubled to keep half-integer
    * average ranks integral) in decimal(38,0) until one final double
    * division — bit-reproducible in any engine.
    *
    * Scale: one hash aggregate keyed on the score value, then a running
    * sum over the DISTINCT scores — for grid-rounded scores (6dp from
    * [[score]]) that window is bounded by the grid (≤ 10⁶+1 rows), not
    * the corpus, so the unpartitioned window never sees data-sized
    * input.
    *
    * Output: one row (n_pos, n_neg, auc) — auc null when a class is
    * empty.
    */
  def aucBinary(
      scored: DataFrame, scoreCol: String, labelCol: String,
      roundTo: Int = 6): DataFrame = {
    val dec = DecimalType(38, 0)
    // Null/NaN scores have no rank: Spark orders nulls first and NaN
    // last while engine twins order them differently — reject loudly
    // instead of producing a divergent, meaningless AUC.
    val sc = col(scoreCol).cast("double")
    val g = scored.select(
        when(sc.isNull || isnan(sc),
          raise_error(lit("aucBinary: score column must be non-null and " +
            "non-NaN"))).otherwise(sc).as("score"),
        col(labelCol).cast("long").as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = g.withColumn("cumbefore", coalesce(sum("cnt").over(w), lit(0L)))
      // 2·avgrank of a tie group = 2·cumbefore + cnt + 1
      .select((col("pos").cast(dec) *
          (lit(2) * col("cumbefore") + col("cnt") + lit(1)).cast(dec))
          .as("c"),
        col("pos"), col("cnt"))
      .agg(sum("c").as("s2"), sum("pos").as("npos"), sum("cnt").as("n"))
    t.select(col("npos").as("n_pos"), (col("n") - col("npos")).as("n_neg"),
      round(when(col("npos") === 0 || col("n") === col("npos"), lit(null))
        .otherwise(
          (col("s2") - (col("npos").cast(dec) *
            (col("npos") + lit(1)).cast(dec))).cast("double") /
          (lit(2).cast(dec) * col("npos").cast(dec) *
            (col("n") - col("npos")).cast(dec)).cast("double")),
        roundTo).as("auc"))
  }

  /** Score every row with a trained model: appends `score` (the softsign
    * probability rounded to `roundTo`) and `pred` (1 when the unrounded
    * probability ≥ 0.5, i.e. z ≥ 0). Scan-side projection — weights ride
    * in as literals, no shuffle, no UDF.
    */
  def score(
      df: DataFrame, featureCols: Seq[String], model: LinearModel,
      roundTo: Int = 6): DataFrame = {
    require(featureCols.size == model.weights.length,
      s"model has ${model.weights.length} weights, got ${featureCols.size} features")
    val p = softsign(zExpr(model.bias, model.weights,
      featureCols.map(c => col(c).cast("double"))))
    df.withColumn("score", round(p, roundTo))
      .withColumn("pred", (p >= lit(0.5)).cast("long"))
  }

  /** Confusion-matrix metrics: precision / recall / F1 (plus accuracy)
    * of binary predictions against labels — the release-gate numbers a
    * classifier report leads with. Same discipline as [[agreementKappa]]:
    * four exact integer counts in one map-side-combined aggregate, then
    * a fixed IEEE expression tree emitted as 1e6-scaled BIGINTs.
    * Degenerate denominators (no predicted positives / no actual
    * positives / p+r = 0) emit NULL rather than a fabricated 0 — the
    * standard "undefined" convention, and a NULL survives engine
    * comparison exactly.
    *
    * Output: (n, tp, fp, fn, tn, precision_e6, recall_e6, f1_e6,
    * accuracy_e6).
    */
  def confusionMetrics(df: DataFrame, yCol: String, predCol: String)
      : DataFrame = confusionImpl(df, yCol, predCol, Nil)

  /** Disaggregated (per-slice) confusion metrics — the fairness-audit
    * form: the SAME counts and fixed IEEE metric trees as
    * [[confusionMetrics]] (one authored occurrence — this delegates to
    * the shared impl, so the global and sliced reports cannot drift),
    * grouped by `sliceCol` (language, source, domain…). One hash
    * aggregate keyed on the slice with map-side partials — ≤ |slices|
    * rows per task cross the wire.
    */
  def confusionMetricsBySlice(
      df: DataFrame, yCol: String, predCol: String,
      sliceCol: String): DataFrame =
    confusionImpl(df, yCol, predCol, Seq(sliceCol))

  private def confusionImpl(
      df: DataFrame, yCol: String, predCol: String,
      slices: Seq[String]): DataFrame = {
    val y = col(yCol).cast("long")
    val p = col(predCol).cast("long")
    def cnt(yv: Int, pv: Int) =
      sum(when(y === yv && p === pv, 1L).otherwise(0L))
    val grouped =
      if (slices.isEmpty) df.groupBy()
      else df.groupBy(slices.map(col): _*)
    val ct = grouped.agg(
      count(lit(1)).as("n"),
      cnt(1, 1).as("tp"), cnt(0, 1).as("fp"),
      cnt(1, 0).as("fn"), cnt(0, 0).as("tn"))
    val prec = when(col("tp") + col("fp") === 0, lit(null))
      .otherwise(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
    val rec = when(col("tp") + col("fn") === 0, lit(null))
      .otherwise(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
    val f1 = when(prec.isNull || rec.isNull || prec + rec === 0.0, lit(null))
      .otherwise(lit(2.0) * prec * rec / (prec + rec))
    val acc = (col("tp") + col("tn")).cast("double") / col("n").cast("double")
    def e6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    ct.select(slices.map(col) ++ Seq(
      col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
      e6(prec).as("precision_e6"), e6(rec).as("recall_e6"),
      e6(f1).as("f1_e6"), e6(acc).as("accuracy_e6")): _*)
  }

  /** Cumulative Poisson(1) CDF thresholds on the 1e-6 lattice —
    * ⌊10⁶·P(X ≤ k)⌋ for k = 0..6 (the tail collapses to weight 7).
    * Public so the spec and the SQL oracle embed the byte-identical
    * constants.
    */
  val PoissonCdfE6: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L, 999916L)

  /** Poisson-bootstrap confidence interval for accuracy (the
    * distributed bootstrap of Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"): every (item, replicate)
    * pair draws an independent Poisson(1) resampling weight, each
    * replicate's weighted accuracy is one bootstrap draw, and the
    * 2.5%/97.5% order statistics over the `reps` draws are the 95% CI
    * — the "is this 2-point accuracy gain real or resampling noise"
    * answer an eval report needs next to its point estimate.
    *
    * Fully deterministic and engine-portable: the uniform driving each
    * weight is the PORTABLE 60-bit md5 integer (the d3/d20 conformance
    * family — any SQL engine recomputes it) of "boot:<replicate>:<id>"
    * mod 10⁶, thresholded against the exact integer [[PoissonCdfE6]]
    * lattice constants — no rand(), no float anywhere; replicate
    * accuracies and both CI endpoints are half-up integer lattices of
    * exact integer sums. A replicate whose total weight lands 0
    * raises loudly (possible only for toy item counts — resample more
    * items, not fewer).
    *
    * Scale: the fan-out is items × reps rows into a map-side-combined
    * per-replicate fold (≤ reps partial rows per task ever shuffle);
    * the order-statistic window runs over `reps` rows — dim-sized.
    * Eval tables are small next to corpora; the md5-per-cell cost is
    * the portability price, bounded by reps. Output: one row
    * (n_items, acc_e6, n_reps, ci_lo_e6, ci_hi_e6).
    */
  def bootstrapAccuracyCI(
      df: DataFrame, idCol: String, correctCol: String,
      reps: Int = 200): DataFrame = {
    require(reps >= 40 && reps <= 10000,
      s"reps must be in [40, 10000] (got $reps)")
    val items = Guards.spread(df.select(
        col(idCol).cast("string").as("id"),
        when(col(correctCol).isNull ||
            !col(correctCol).cast("long").isin(0L, 1L),
          raise_error(lit("bootstrapAccuracyCI: correct must be 0/1")))
          .otherwise(col(correctCol).cast("long")).as("y")))
      .localCheckpoint() // feeds the fan-out and the point estimate
    val u6 = pmod(
      conv(substring(md5(concat(lit("boot:"), col("b").cast("string"),
        lit(":"), col("id"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val w = PoissonCdfE6.zipWithIndex.foldRight(lit(7L): Column) {
      case ((t, k), acc) => when(col("u6") < t, k.toLong).otherwise(acc)
    }
    val perRep = items
      .withColumn("b", explode(sequence(lit(1), lit(reps))))
      .withColumn("u6", u6)
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum("w").as("nw"), sum(col("w") * col("y")).as("cw"))
      .select(col("b"),
        when(col("nw") > 0,
          expr("(2 * cw * 1000000 + nw) div (2 * nw)"))
          .otherwise(raise_error(lit("bootstrapAccuracyCI: a replicate " +
            "drew total weight 0 — too few items to bootstrap"))
            .cast("long")).as("acc_e6"))
    val ranked = perRep.withColumn("rk",
      row_number().over(Window.orderBy(col("acc_e6"), col("b")))
        .cast("long"))
    val loRank = math.ceil(0.025 * reps).toLong
    val hiRank = math.ceil(0.975 * reps).toLong
    items.agg(count(lit(1)).as("n_items"), sum("y").as("nc"))
      .select(col("n_items"),
        expr("(2 * nc * 1000000 + n_items) div (2 * n_items)")
          .as("acc_e6"),
        lit(reps.toLong).as("n_reps"))
      .crossJoin(broadcast(ranked.filter(col("rk") === loRank)
        .select(col("acc_e6").as("ci_lo_e6"))))
      .crossJoin(broadcast(ranked.filter(col("rk") === hiRank)
        .select(col("acc_e6").as("ci_hi_e6"))))
  }

  /** PAIRED Poisson-bootstrap CI for an accuracy DELTA between two
    * systems scored on the same items — the "is A actually better
    * than B" answer (the per-system CIs of [[bootstrapAccuracyCI]]
    * overlap ≠ no difference; the paired test resamples the same
    * items for both sides, so item difficulty cancels and the delta's
    * CI is the decision). Same deterministic machinery: one portable
    * md5 Poisson(1) weight per (item, replicate) SHARED by both
    * systems (that sharing IS the pairing), per-replicate accuracies
    * on the half-up lattice, delta = acc_a − acc_b, 2.5%/97.5% order
    * statistics. Verdict is the three-valued string: 'a_better' when
    * the CI sits wholly above 0, 'b_better' wholly below,
    * 'not_significant' otherwise.
    *
    * Output: one row (n_items, acc_a_e6, acc_b_e6, delta_e6, n_reps,
    * ci_lo_e6, ci_hi_e6, verdict).
    */
  def bootstrapDeltaCI(
      df: DataFrame, idCol: String, aCol: String, bCol: String,
      reps: Int = 200): DataFrame = {
    require(reps >= 40 && reps <= 10000,
      s"reps must be in [40, 10000] (got $reps)")
    def checked01(c: String, side: String) =
      when(col(c).isNull || !col(c).cast("long").isin(0L, 1L),
        raise_error(lit(s"bootstrapDeltaCI: $side must be 0/1")))
        .otherwise(col(c).cast("long"))
    val items = Guards.spread(df.select(
        col(idCol).cast("string").as("id"),
        checked01(aCol, "a").as("ya"), checked01(bCol, "b").as("yb")))
      .localCheckpoint() // feeds the fan-out and the point estimates
    val u6 = pmod(
      conv(substring(md5(concat(lit("boot:"), col("b").cast("string"),
        lit(":"), col("id"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val w = PoissonCdfE6.zipWithIndex.foldRight(lit(7L): Column) {
      case ((t, k), acc) => when(col("u6") < t, k.toLong).otherwise(acc)
    }
    val perRep = items
      .withColumn("b", explode(sequence(lit(1), lit(reps))))
      .withColumn("u6", u6)
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum("w").as("nw"), sum(col("w") * col("ya")).as("ca"),
        sum(col("w") * col("yb")).as("cb"))
      .select(col("b"),
        when(col("nw") > 0,
          expr("(2 * ca * 1000000 + nw) div (2 * nw) - " +
            "(2 * cb * 1000000 + nw) div (2 * nw)"))
          .otherwise(raise_error(lit("bootstrapDeltaCI: a replicate " +
            "drew total weight 0 — too few items to bootstrap"))
            .cast("long")).as("delta_e6"))
    val ranked = perRep.withColumn("rk",
      row_number().over(Window.orderBy(col("delta_e6"), col("b")))
        .cast("long"))
    val loRank = math.ceil(0.025 * reps).toLong
    val hiRank = math.ceil(0.975 * reps).toLong
    items.agg(count(lit(1)).as("n_items"),
        sum("ya").as("na"), sum("yb").as("nb"))
      .select(col("n_items"),
        expr("(2 * na * 1000000 + n_items) div (2 * n_items)")
          .as("acc_a_e6"),
        expr("(2 * nb * 1000000 + n_items) div (2 * n_items)")
          .as("acc_b_e6"))
      .withColumn("delta_e6", col("acc_a_e6") - col("acc_b_e6"))
      .withColumn("n_reps", lit(reps.toLong))
      .crossJoin(broadcast(ranked.filter(col("rk") === loRank)
        .select(col("delta_e6").as("ci_lo_e6"))))
      .crossJoin(broadcast(ranked.filter(col("rk") === hiRank)
        .select(col("delta_e6").as("ci_hi_e6"))))
      .withColumn("verdict",
        when(col("ci_lo_e6") > 0, lit("a_better"))
          .when(col("ci_hi_e6") < 0, lit("b_better"))
          .otherwise(lit("not_significant")))
  }

  /** Multinomial naive Bayes with Laplace smoothing — train token/class
    * counts on a labeled slice, score and argmax every apply-side
    * document (the McCallum & Nigam 1998 event model): the 30-year
    * workhorse of source/domain/language tagging, and the cheap
    * baseline every learned corpus classifier must beat.
    *
    * Determinism contract (the scoreDiagnostics posture): every log
    * term is floored onto the 1e-6 lattice PER (class, term) on a
    * fixed IEEE tree — lp_e6 = ⌊10⁶·ln((tf+1)/(N_c+V))⌋, the unseen
    * default ⌊10⁶·ln(1/(N_c+V))⌋, the prior ⌊10⁶·ln(D_c/D)⌋ — and a
    * document's score is prior + Σ tf_d·lp, an exact integer sum in
    * any partition order. The argmax is a struct-min on
    * (−score, class) so ties break to the lexicographically smallest
    * class. No float ever accumulates.
    *
    * Scale: training is two map-side-combined counts (per-class docs,
    * per-(class, term) tokens) + class-sized stats (localCheckpointed,
    * broadcast). Scoring uses the smoothing algebra to avoid fanning
    * every (doc, term) row out by |classes|:
    *
    *   score(d, c) = prior(c) + default(c)·N_d
    *                 + Σ_{t seen in c} k_dt·(lp(c,t) − default(c))
    *
    * — the unseen-term mass collapses to one per-(doc, class) closed
    * form (docs × classes rows, tiny), and the only big join is the
    * INNER (doc, term) ⋈ (class, term) model join, whose volume is
    * bounded by terms actually known to each class instead of
    * tokens × classes. Exactly the same integers, spec-pinned.
    * Scoring is TOTAL over non-null texts: every
    * apply-side row predicts (an empty text still tokenizes to the
    * single empty token under split semantics and scores via the
    * unseen default, i.e. by the priors). Null labels AND null
    * apply-side texts raise loudly — a null text would otherwise
    * vanish from the explode and the doc would silently get no
    * prediction row, breaking totality without a trace.
    * Output: (id, pred, score_e6).
    */
  def naiveBayes(
      train: DataFrame, applyDf: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val (classStats, model) = naiveBayesTrain(train, textCol, labelCol)
    naiveBayesScore(applyDf, idCol, textCol, classStats, model)
  }

  /** Training stage of [[naiveBayes]] — the two map-side-combined count
    * passes, returned as the pair of MODEL-SIZED tables a registry /
    * model store holds between train and serve (the t16→t20 BPE
    * train-once/apply-everywhere split):
    * `classStats` (c, prior_e6, default_e6, denom) — |classes| rows —
    * and `model` (c, t, adj_e6) — the per-(class, seen-term) lattice
    * adjustments, Σ_c |vocab_c| rows. Both are pure deterministic
    * functions of the training frame (floor-lattice integers), so a
    * cached artifact is bit-identical to a retrain.
    */
  def naiveBayesTrain(
      train: DataFrame, textCol: String, labelCol: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.TextFunctions.tokens
    val trDocs = train.select(
      when(col(labelCol).isNull,
        raise_error(lit("naiveBayes: null train label")))
        .otherwise(col(labelCol).cast("string")).as("c"),
      tokens(col(textCol)).as("w"))
    val priors = trDocs.groupBy("c").agg(count(lit(1)).as("dc"))
    val dTot = priors.agg(sum("dc").as("d"))
    val tf = trDocs.select(col("c"), explode(col("w")).as("t"))
      .groupBy("c", "t").agg(count(lit(1)).as("tf"))
    val nc = tf.groupBy("c").agg(sum("tf").as("n_c"))
    val vocab = tf.select("t").distinct().agg(count(lit(1)).as("v"))
    val classStats = priors.join(nc, Seq("c"))
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(dTot))
      .select(col("c"),
        floor(log(col("dc").cast("double") / col("d").cast("double")) *
          lit(1e6)).cast("long").as("prior_e6"),
        floor(log(lit(1.0) / (col("n_c") + col("v")).cast("double")) *
          lit(1e6)).cast("long").as("default_e6"),
        (col("n_c") + col("v")).as("denom"))
      .localCheckpoint() // class-sized; feeds the model, fan-out, prior
    // per-(class, term) adjustment lp − default: what a SEEN term adds
    // over the unseen baseline — the only per-token scoring input
    val model = tf.join(classStats.select("c", "denom", "default_e6"),
        Seq("c"))
      .select(col("c"), col("t"),
        (floor(log((col("tf") + 1).cast("double") /
          col("denom").cast("double")) * lit(1e6))
          .cast("long") - col("default_e6")).as("adj_e6"))
    (classStats, model)
  }

  /** Scoring stage of [[naiveBayes]] over a trained (`classStats`,
    * `model`) pair — the one-pass apply a serving pipeline runs against
    * a registry-held model: tokenize + per-(doc, term) count, the INNER
    * (doc, term) ⋈ (class, term) model join, and the per-(doc, class)
    * closed-form unseen mass. Exactly the integers [[naiveBayes]]
    * emits (that facade IS train + this).
    */
  def naiveBayesScore(
      applyDf: DataFrame, idCol: String, textCol: String,
      classStats: DataFrame, model: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val checkedText =
      when(col(textCol).isNull,
        raise_error(lit("naiveBayes: null apply text")))
        .otherwise(col(textCol))
    // Sub-cap single-exchange path (guide §2.3/§2.4): the model is
    // vocab-sized by contract, so when it fits a broadcast the whole
    // score collapses to tokenize → broadcast-join the per-term adj
    // row (model pivoted to one column per class — summed, so even
    // duplicate (c, t) rows contribute identically to the join form) →
    // ONE map-side-combined groupBy(id) carrying n_d and the per-class
    // adj sums → a row-wise least(struct(-sc, c)) argmax, the exact
    // ordering of the old min(struct) aggregate. Replaces 4 exchanges
    // (apply-side (id,t) count, t-join, (id,c) sum, id argmax) + an
    // (id,c) join + a checkpoint with ONE id exchange. Same integers:
    // sc = prior + default·n_d + Σ_tokens adj(c, t), every term an
    // exact long on both shapes. The model cap is 2 × DriverCapRows
    // (2²¹ rows). Over it (or with the twins switched off) the join
    // chain below runs unchanged, and so it does for class stats holding
    // a null class, prior or default, which have no pivot column or
    // exact long here.
    val broadcastStats =
      if (Guards.fitsDriver(model.select(col("t")), 2 * Guards.DriverCapRows))
        Some(classStats.select("c", "prior_e6", "default_e6").collect())
          .filterNot(_.exists(_.anyNull))
      else None
    if (broadcastStats.isDefined) {
      val statsRows = broadcastStats.get.sortBy(_.getString(0))
      val spark0 = applyDf.sparkSession
      if (statsRows.isEmpty) {
        // no trained classes — the join chain yields no rows either
        import org.apache.spark.sql.types._
        val idt = applyDf.select(col(idCol)).schema.head.dataType
        return spark0.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("id", idt),
            StructField("pred", StringType),
            StructField("score_e6", LongType))))
      }
      val adjCols = statsRows.zipWithIndex.map { case (r, i) =>
        sum(when(col("c") === r.getString(0), col("adj_e6"))).as(s"__adj$i") }
      val pivot = model.groupBy("t").agg(adjCols.head, adjCols.tail: _*)
      val tok = Guards.spread(applyDf.select(col(idCol).as("id"), col(textCol)))
        .select(col("id"), explode(tokens(checkedText)).as("t"))
      val aggCols = count(lit(1)).as("n_d") +:
        statsRows.indices.map(i =>
          sum(coalesce(col(s"__adj$i"), lit(0L))).as(s"__sadj$i"))
      val agg = tok.join(broadcast(pivot), Seq("t"), "left")
        .groupBy("id").agg(aggCols.head, aggCols.tail: _*)
      val scs = statsRows.zipWithIndex.map { case (r, i) =>
        struct(
          (-(lit(r.getLong(1)) + lit(r.getLong(2)) * col("n_d") +
            col(s"__sadj$i"))).as("ns"),
          lit(r.getString(0)).as("c")) }
      val m = if (scs.size == 1) scs.head else least(scs: _*)
      return agg.select(col("id"), m.getField("c").as("pred"),
        (-m.getField("ns")).as("score_e6"))
    }
    val ap = Guards.spread(applyDf.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(tokens(checkedText)).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("k"))
      // lazy: the first consumer's job materializes the cache in
      // passing (the g3 half-step discipline) — the tokenize+count
      // pipeline still runs exactly once for both consumers
      .localCheckpoint(eager = false)
    val adj = ap.join(model, Seq("t"))
      .groupBy("id", "c").agg(sum(col("k") * col("adj_e6")).as("sadj"))
    val base = ap.groupBy("id").agg(sum("k").as("n_d"))
      .crossJoin(broadcast(classStats.select("c", "prior_e6",
        "default_e6")))
      .select(col("id"), col("c"),
        (col("prior_e6") + col("default_e6") * col("n_d")).as("base"))
    base.join(adj, Seq("id", "c"), "left")
      .select(col("id"), col("c"),
        (col("base") + coalesce(col("sadj"), lit(0L))).as("sc"))
      .groupBy("id")
      .agg(min(struct((-col("sc")).as("ns"), col("c"))).as("m"))
      .select(col("id"), col("m.c").as("pred"),
        (-col("m.ns")).as("score_e6"))
  }

  /** Multi-class classification report — per-class precision / recall /
    * F1 with support, plus the micro and macro summary rows
    * (scikit-learn's `classification_report` as a DataFrame): the
    * standard read-out for label-quality audits (language-ID,
    * source/domain classifiers, licence tagging) where
    * [[confusionMetrics]]' binary form doesn't apply.
    *
    * EXACT end-to-end: every metric is a rational of integer counts on
    * the half-up 1e-6 lattice via the shared (2a + b) div 2b idiom —
    * precision tp/(tp+fp), recall tp/(tp+fn), and F1 in its
    * float-free form 2·tp/(2·tp + fp + fn) (algebraically 2PR/(P+R),
    * but computed as one integer rational so no engine can drift it).
    * A class never predicted has NULL precision (0/0); its F1 is still
    * defined (0) unless the class has neither true nor predicted rows.
    * The micro row ('__micro') is overall accuracy in all three slots
    * (micro-P = micro-R = accuracy for single-label classification);
    * the macro row ('__macro') averages the per-class f1_e6 lattice
    * values (half-up), support = the class count.
    *
    * Scale: ONE map-side-combined (true, pred) grid count — ≤ classes²
    * rows ever shuffle — then class-keyed rollups and one global fold,
    * all grid-sized. Null labels raise (a silently dropped row would
    * inflate every share). Output: (label, support, tp, fp, fn,
    * precision_e6, recall_e6, f1_e6) — per-class rows ∪ two summary
    * rows.
    */
  def multiclassReport(
      df: DataFrame, trueCol: String, predCol: String): DataFrame = {
    def checkedLbl(c: String, what: String) =
      when(col(c).isNull,
        raise_error(lit(s"multiclassReport: null $what label")))
        .otherwise(col(c).cast("string"))
    val grid = df
      .select(checkedLbl(trueCol, "true").as("t"),
        checkedLbl(predCol, "pred").as("p"))
      .groupBy("t", "p").agg(count(lit(1)).as("n"))
      .localCheckpoint() // classes²-sized; feeds three rollups + totals
    val byTrue = grid.groupBy(col("t").as("label"))
      .agg(sum("n").as("n_true"),
        sum(when(col("t") === col("p"), col("n")).otherwise(0L)).as("tp_t"))
    val byPred = grid.groupBy(col("p").as("label"))
      .agg(sum("n").as("n_pred"))
    val cls = byTrue.join(byPred, Seq("label"), "full")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("support"),
        coalesce(col("tp_t"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) -
          coalesce(col("tp_t"), lit(0L))).as("fp"),
        (coalesce(col("n_true"), lit(0L)) -
          coalesce(col("tp_t"), lit(0L))).as("fn"))
      .select(col("label"), col("support"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("(2 * tp * 1000000 + (tp + fp)) div (2 * (tp + fp))"))
          .otherwise(lit(null).cast("long")).as("precision_e6"),
        when(col("tp") + col("fn") > 0,
          expr("(2 * tp * 1000000 + (tp + fn)) div (2 * (tp + fn))"))
          .otherwise(lit(null).cast("long")).as("recall_e6"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          expr("(4 * tp * 1000000 + (2 * tp + fp + fn)) " +
            "div (2 * (2 * tp + fp + fn))"))
          .otherwise(lit(null).cast("long")).as("f1_e6"))
      .localCheckpoint() // class-sized; read by macro fold + the union
    val micro = grid.agg(sum("n").as("nn"),
        sum(when(col("t") === col("p"), col("n")).otherwise(0L)).as("tpp"))
      .select(lit("__micro").as("label"), col("nn").as("support"),
        col("tpp").as("tp"), (col("nn") - col("tpp")).as("fp"),
        (col("nn") - col("tpp")).as("fn"),
        expr("(2 * tpp * 1000000 + nn) div (2 * nn)").as("acc"))
      .select(col("label"), col("support"), col("tp"), col("fp"), col("fn"),
        col("acc").as("precision_e6"), col("acc").as("recall_e6"),
        col("acc").as("f1_e6"))
    val macroRow = cls.agg(count(lit(1)).as("k"),
        sum("f1_e6").as("sf1"),
        sum("precision_e6").as("sp"), sum("recall_e6").as("sr"),
        sum(when(col("precision_e6").isNotNull, 1L).otherwise(0L)).as("kp"),
        sum(when(col("recall_e6").isNotNull, 1L).otherwise(0L)).as("kr"))
      .select(lit("__macro").as("label"), col("k").as("support"),
        lit(null).cast("long").as("tp"), lit(null).cast("long").as("fp"),
        lit(null).cast("long").as("fn"),
        expr("(2 * sp + kp) div (2 * kp)").as("precision_e6"),
        expr("(2 * sr + kr) div (2 * kr)").as("recall_e6"),
        expr("(2 * sf1 + k) div (2 * k)").as("f1_e6"))
    cls.unionByName(micro).unionByName(macroRow)
  }

  /** Probabilistic-score diagnostics: Brier score (Brier 1950, the mean
    * squared error of the probability) and log-loss (mean negative
    * log-likelihood) of a [0,1] score column against binary labels —
    * the proper scoring rules a classifier report adds next to the
    * threshold metrics, sensitive to calibration where accuracy is not.
    *
    * Determinism: the score snaps to the 1e-6 lattice first (it already
    * sits there when produced by [[score]]'s 6-dp rounding), so the
    * squared error (se6 − y·10⁶)² is an exact integer per row and its
    * sum is exact in any partition order (DECIMAL(38,0) — n·10¹² can
    * pass 2⁶³). The log term is floored onto a 1e-9 lattice PER ROW
    * before summation — ln is evaluated once per row on identical
    * inputs in any engine, and the integer sum is order-independent,
    * so no floating accumulation order can flip the output hash.
    * Scores are clamped to [1e-6, 1 − 1e-6] for the log terms only
    * (ln 0 guard, the standard ε-clamp convention).
    *
    * Scale: one map-side-combined global aggregate; the final metric
    * arithmetic runs on a single row.
    *
    * Output: (n, brier_e6, logloss_e6) — 1e6-scaled BIGINTs.
    */
  def scoreDiagnostics(
      df: DataFrame, scoreCol: String, yCol: String): DataFrame = {
    val se6 = floor(col(scoreCol).cast("double") * lit(1e6) + lit(0.5))
      .cast("long")
    val y = col(yCol).cast("long")
    val sc = greatest(lit(1L), least(lit(999999L), se6))
    val p = sc.cast("double") / lit(1e6)
    val diff = se6 - y * lit(1000000L)
    val ll = -(y.cast("double") * log(p) +
      (lit(1.0) - y.cast("double")) * log(lit(1.0) - p))
    val t = df.agg(
      count(lit(1)).as("n"),
      sum((diff * diff).cast("decimal(38,0)")).as("sd2"),
      sum(floor(ll * lit(1e9) + lit(0.5)).cast("decimal(38,0)")).as("sll"))
    t.select(col("n"),
      floor(col("sd2").cast("double") /
        (col("n").cast("double") * lit(1e6)) + lit(0.5))
        .cast("long").as("brier_e6"),
      floor(col("sll").cast("double") /
        (col("n").cast("double") * lit(1e3)) + lit(0.5))
        .cast("long").as("logloss_e6"))
  }

  /** Cohen's kappa (Cohen 1960) between two binary raters — the
    * inter-annotator / model-vs-gate agreement statistic label-quality
    * audits report: observed agreement corrected for the agreement two
    * independent raters with the same marginals would reach by chance.
    *
    *   po = (n00 + n11) / n
    *   pe = pA1·pB1 + pA0·pB0   (marginal products)
    *   κ  = (po − pe) / (1 − pe),   κ := 1 when pe = 1 (both raters
    *        constant and equal — po = 1, the 0/0 case)
    *
    * Determinism: the contingency table is four exact integer sums; po,
    * pe, κ are a fixed IEEE double expression tree over those integers
    * (every step a correctly-rounded op — bit-identical in any engine
    * mirroring the tree), emitted as 1e6-scaled BIGINTs so no engine
    * rounding mode can flip a hash.
    *
    * Scale: one map-side-combined global aggregate (four conditional
    * counts); the kappa arithmetic runs on a single row.
    *
    * Output: (n, n00, n01, n10, n11, po_e6, pe_e6, kappa_e6) — n{ab}
    * counts rows where rater A said a and rater B said b.
    */
  def agreementKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    def cnt(av: Int, bv: Int) =
      sum(when(a === av && b === bv, 1L).otherwise(0L))
    val ct = df.agg(
      count(lit(1)).as("n"),
      cnt(0, 0).as("n00"), cnt(0, 1).as("n01"),
      cnt(1, 0).as("n10"), cnt(1, 1).as("n11"))
    val n = col("n").cast("double")
    val po = (col("n00") + col("n11")).cast("double") / n
    val pe = ((col("n11") + col("n10")).cast("double") / n) *
      ((col("n11") + col("n01")).cast("double") / n) +
      ((col("n00") + col("n01")).cast("double") / n) *
        ((col("n00") + col("n10")).cast("double") / n)
    val kappa = when(pe === 1.0, lit(1.0)).otherwise((po - pe) / (lit(1.0) - pe))
    def e6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    ct.select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
      e6(po).as("po_e6"), e6(pe).as("pe_e6"), e6(kappa).as("kappa_e6"))
  }

  /** k-NN label transfer: each unlabeled embedding takes the majority
    * label of its `k` nearest labeled neighbors — the semi-supervised
    * labeling step that bootstraps a classifier from a small curated
    * seed set (label a thousand docs by hand, transfer to a billion).
    *
    * Vote resolution is fully deterministic: highest vote count, then
    * highest summed 1e-3-lattice similarity (exact integer sums of the
    * lattice cosines), then smallest label — one struct-min, no
    * window. The neighbor search is [[Similarity.cosineTopK]]'s
    * broadcast brute-force baseline; at corpus scale swap the gate for
    * the LSH/IVF candidates exactly as v16 documents, vote algebra
    * unchanged.
    *
    * Output: (id, label, votes, sim_e3_sum).
    */
  def knnClassify(
      unlabeled: DataFrame, labeled: DataFrame, uIdCol: String,
      lIdCol: String, vecCol: String, labelCol: String, k: Int)
      : DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1, 100] (got $k)")
    val nn = Similarity.cosineTopK(
      unlabeled, labeled, uIdCol, lIdCol, vecCol, k)
    nn.join(
        labeled.select(col(lIdCol).as("c_id"), col(labelCol).as("lbl")),
        Seq("c_id"))
      .select(col("q_id"), col("lbl"),
        floor(col("sim") * 1000 + lit(0.5)).cast("long").as("sim_e3"))
      .groupBy("q_id", "lbl")
      .agg(count(lit(1)).as("votes"), sum("sim_e3").as("ss"))
      .groupBy("q_id")
      .agg(min(struct((-col("votes")).as("nv"), (-col("ss")).as("nss"),
        col("lbl"))).as("m"))
      .select(col("q_id").as("id"), col("m.lbl").as("label"),
        (-col("m.nv")).as("votes"), (-col("m.nss")).as("sim_e3_sum"))
  }

  /** Cohen's kappa (Cohen 1960) — chance-corrected agreement between
    * two raters over the same items: THE reliability gate for
    * LLM-judge and human-annotation pipelines (raw agreement flatters
    * skewed label distributions; kappa discounts the agreement chance
    * would produce).
    *
    * The MULTI-CLASS generalization of [[agreementKappa]] (which is
    * the binary 2×2 fast path with e6-latticed outputs and the
    * κ := 1 convention at p_e = 1): arbitrary string labels, the
    * confusion matrix is label-pair-sized, and perfect chance
    * agreement reports NULL (undefined) rather than 1 — the honest
    * convention when labels aren't a fixed {0, 1} gate.
    *
    *   κ = (p_o − p_e) / (1 − p_e),  p_o = Σ diag / n,
    *   p_e = Σ_l row_l · col_l / n²
    *
    * Carried as exact integers: n, the diagonal count, and the
    * marginal product sum are 64-bit exact (n ≤ 3·10⁹ keeps
    * Σ row·col < n² < 2⁶³ — the sum itself rides in decimal(38,0) and
    * the envelope is enforced by a raise_error guard, never a silent
    * wrap); κ itself is the single division
    * (n·agree − pe_num) / (n² − pe_num) of exact sub-2⁶³ integers,
    * emitted round-6 (one correctly-rounded IEEE divide + the shared
    * half-up rounding — the pmi/zipf lattice class). Perfect chance
    * agreement (p_e = 1: both raters constant and equal) has no
    * defined κ → NULL.
    *
    * Scale: one (a, b) confusion aggregate (map-side combined,
    * label-pair-bounded rows), then label-sized arithmetic — the
    * marginals come from the confusion matrix itself, no second pass
    * over the items. Null labels fail loudly (an unlabeled item in an
    * agreement study is corrupt input, not a vote).
    *
    * Output: one row (n_items, n_agree, pe_num, kappa).
    */
  /** Krippendorff's alpha, nominal data (Krippendorff 2004 §11) — the
    * agreement coefficient that [[cohenKappa]] cannot be: any number of
    * raters per unit, missing ratings allowed (units keep whatever
    * ratings they have; single-rating units are unpairable and drop) —
    * the realistic shape of LLM-judge ensembles and crowdsourced
    * labels.
    *
    *   α = 1 − D_o/D_e,
    *   D_o ∝ Σ_u (m_u² − Σ_c n_uc²) / (m_u − 1),
    *   D_e ∝ (n² − Σ_c n_c²) / (n − 1)
    *
    * Exact end-to-end: the per-unit 1/(m_u − 1) weights are carried as
    * the integer 840/(m_u − 1) — 840 = lcm(1..8), exact for up to 9
    * ratings per unit (more raise loudly; that's a panel, not an
    * annotation study) — so both disagreement sums are exact
    * decimal(38,0) integers and α is ONE correctly-rounded division
    *   α = 1 − (840·D_e)⁻¹·(n − 1)·ΣD_o-scaled
    * emitted round-6 (the cohenKappa lattice class). Zero expected
    * disagreement (all pairable ratings one value) has no defined α →
    * NULL. Null units/values raise.
    *
    * Scale: one (unit, value) count aggregate, one unit-sized rollup,
    * one value-sized margin aggregate over pairable units — no join
    * wider than unit×values. Output: one row (n_units, n_ratings,
    * alpha).
    */
  def krippendorffAlpha(
      ratings: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def checked(c: String, what: String) =
      when(col(c).isNull,
        raise_error(lit(s"krippendorffAlpha: null $what")))
        .otherwise(col(c).cast("string"))
    val uc = ratings
      .select(checked(unitCol, "unit").as("u"),
        checked(valueCol, "value").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val um = uc.groupBy("u")
      .agg(sum("c").as("m"), sum(col("c") * col("c")).as("ss"))
      .filter(col("m") >= 2) // single-rating units are unpairable
      .withColumn("m",
        when(col("m") > 9L,
          raise_error(lit("krippendorffAlpha: more than 9 ratings in " +
            "one unit is beyond the lcm(1..8) exactness envelope")))
          .otherwise(col("m")))
      .withColumn("do_s",
        (col("m") * col("m") - col("ss")).cast(d38) *
          expr("840 div (m - 1)").cast(d38))
    val margins = uc
      .join(um.select(col("u")), Seq("u"), "left_semi")
      .groupBy("v").agg(sum("c").as("nc"))
      .agg(coalesce(sum(col("nc").cast(d38)), lit(0L).cast(d38)).as("n"),
        coalesce(sum(col("nc").cast(d38) * col("nc").cast(d38)),
          lit(0L).cast(d38)).as("snc2"))
    val tot = um.agg(count(lit(1)).as("n_units"),
      coalesce(sum(col("do_s")), lit(0L).cast(d38)).as("do_sum"))
    val de2 = col("n") * col("n") - col("snc2")
    tot.crossJoin(margins)
      .select(col("n_units"), col("n").cast("long").as("n_ratings"),
        when(de2 > 0,
          round(lit(1.0) -
            (col("do_sum") * (col("n") - 1)).cast("double") /
            (lit(840).cast(d38) * de2).cast("double"), 6))
          .as("alpha"))
  }

  /** Regression metrics (MAE / RMSE / R²) over (label, prediction)
    * pairs — the eval read-out for score/reward-model regressions next
    * to the classification family ([[precisionRecall]], [[aucBinary]]).
    *
    * Engine-reproducible by the lattice discipline: both columns are
    * first rounded HALF-UP onto the 1e-6 integer lattice
    * (floor(x·10⁶ + ½) — one IEEE multiply + floor, identical
    * everywhere), so every sum (Σ|d|, Σd², Σy, Σy²) is an exact
    * decimal(38,0) integer sum, order-free in any engine; MAE, RMSE and
    * R² are then fixed trees of correctly-rounded IEEE ops over those
    * integers, emitted round-`roundTo`. R² = 1 − n·SSres / (n·Σy²−(Σy)²),
    * NULL on zero label variance. Exactness envelope: |values| ≤ 1000
    * and n ≤ 10⁹ keep n·Σy² < 10³⁷ — both enforced loudly. Null/NaN
    * values raise (the aucBinary discipline).
    *
    * Scale: ONE map-side-combined fold over a scan-side projection.
    * Output: one row (n_items, mae, rmse, r2).
    */
  def regressionMetrics(
      scored: DataFrame, yCol: String, predCol: String,
      roundTo: Int = 6): DataFrame = {
    val d38 = DecimalType(38, 0)
    def lat(c: String) = {
      val v = col(c).cast("double")
      when(v.isNull || isnan(v),
        raise_error(lit(s"regressionMetrics: null/NaN value")))
        .otherwise(when(abs(v) > 1000.0,
          raise_error(lit("regressionMetrics: |value| > 1000 is beyond " +
            "the decimal(38) exactness envelope")))
          .otherwise(floor(v * lit(1e6) + lit(0.5))))
    }
    val s = scored
      .select(lat(yCol).as("ys"), lat(predCol).as("ps"))
      .select(col("ys"), (col("ys") - col("ps")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("d")).cast(d38)).as("sae"),
        sum(col("d").cast(d38) * col("d").cast(d38)).as("sse"),
        sum(col("ys").cast(d38)).as("sy"),
        sum(col("ys").cast(d38) * col("ys").cast(d38)).as("syy"))
      .withColumn("n",
        when(col("n") > 1000000000L,
          raise_error(lit("regressionMetrics: beyond the 1e9-item " +
            "decimal(38) exactness envelope"))).otherwise(col("n")))
    val sstot = col("n").cast(d38) * col("syy") - col("sy") * col("sy")
    s.select(col("n").as("n_items"),
      round(col("sae").cast("double") / (col("n").cast("double") * 1e6),
        roundTo).as("mae"),
      round(sqrt(col("sse").cast("double") / col("n").cast("double")) / 1e6,
        roundTo).as("rmse"),
      when(sstot > 0,
        round(lit(1.0) - (col("n").cast(d38) * col("sse")).cast("double") /
          sstot.cast("double"), roundTo)).as("r2"))
  }

  /** McNemar's test on paired classifier predictions — "is model B
    * actually better than model A on the SAME items", the paired
    * complement to [[precisionRecall]]'s marginal rates: only the
    * discordant pairs (one model right, the other wrong) carry signal,
    * so two models can differ by thousands of marginal errors and still
    * not be significantly different if they err on the same items.
    *
    * The continuity-corrected statistic (|b − c| − 1)² / (b + c) > χ²₀.₀₅
    * reads out as the EXACT integer comparison 625·m² > 2401·(b + c)
    * with m = max(|b − c| − 1, 0) — χ²₀.₀₅ = 1.96² = 2401/625 is exactly
    * rational, so unlike the z-family there is no 10⁶ scale factor and
    * no ladder: two decimal(38,0) products, exact to ~10¹⁷ items. The
    * verdict is the three-valued STRING of [[graft.operators.EventAnalytics.abSignificance]]
    * ('different' / 'not_different' / 'undefined' when b + c = 0: no
    * discordant pairs, the test has no information). Null predictions
    * or labels raise.
    *
    * Scale: ONE map-side-combined conditional-count aggregate over the
    * pair table — no join, no shuffle beyond the one-row fold.
    * Output: (n_items, n_both_right, n_a_only, n_b_only, n_both_wrong,
    * verdict).
    */
  def mcnemar(
      preds: DataFrame, aCol: String, bCol: String,
      labelCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def checked(c: String, what: String) =
      when(col(c).isNull, raise_error(lit(s"mcnemar: null $what")))
        .otherwise(col(c).cast("string"))
    val t = preds.select(
      (checked(aCol, "prediction (a)") === checked(labelCol, "label"))
        .as("ra"),
      (checked(bCol, "prediction (b)") === checked(labelCol, "label"))
        .as("rb"))
    val s = t.agg(
      count(lit(1)).as("n_items"),
      sum(when(col("ra") && col("rb"), 1L).otherwise(0L))
        .as("n_both_right"),
      sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n_a_only"),
      sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n_b_only"),
      sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L))
        .as("n_both_wrong"))
    val disc = col("n_a_only") + col("n_b_only")
    val m = greatest(abs(col("n_a_only") - col("n_b_only")) - lit(1L),
      lit(0L))
    s.select(col("n_items"), col("n_both_right"), col("n_a_only"),
      col("n_b_only"), col("n_both_wrong"),
      when(disc > 0,
        when(lit(625).cast(d38) * m.cast(d38) * m.cast(d38) >
          lit(2401).cast(d38) * disc.cast(d38),
          lit("different")).otherwise(lit("not_different")))
        .otherwise(lit("undefined")).as("verdict"))
  }

  /** Spearman rank correlation between two score columns — the
    * monotonic-agreement check of eval pipelines (does the reward model
    * RANK like the human raters, ignoring scale), next to [[cohenKappa]]
    * for categorical agreement and [[aucBinary]] for binary labels.
    *
    * Classic tie handling (average ranks) carried exactly: ranks ride
    * as the INTEGER 2·avgrank — a tie group of `cnt` rows with
    * `cumbefore` smaller values has 2·avgrank = 2·cumbefore + cnt + 1
    * (the [[aucBinary]] idiom) — so every sum in the Pearson formula
    * over ranks is an exact decimal(38,0) integer sum. n is guarded to
    * 10⁹ items (n·Σr_x·r_y ≤ 4n⁴ stays inside 38 digits); the read-out
    * is num / (√dx·√dy) over those exact integers — three
    * correctly-rounded IEEE ops, engine-reproducible — emitted
    * round-`roundTo`. Zero rank variance on either side (a constant
    * column) has no defined ρ → NULL. Null/NaN scores fail loudly (the
    * aucBinary discipline: engines order them differently, so any
    * silent rank would be engine-dependent).
    *
    * Scale: per side, one distinct-value aggregate + a cumulative sum
    * over the VALUE GRID (bounded by distinct scores, not rows — the
    * aucBinary single-partition-window envelope), then two value-keyed
    * joins back (AQE broadcasts the grids) and one map-side-combined
    * fold. Output: one row (n_items, spearman_rho).
    */
  def spearman(
      scored: DataFrame, xCol: String, yCol: String,
      roundTo: Int = 6): DataFrame = {
    val dec = DecimalType(38, 0)
    def checked(c: String) = {
      val v = col(c).cast("double")
      when(v.isNull || isnan(v),
        raise_error(lit(s"spearman: score column must be non-null and " +
          "non-NaN"))).otherwise(v)
    }
    val base = scored.select(checked(xCol).as("x"), checked(yCol).as("y"))
    def rank2(v: String): DataFrame = {
      val w = Window.orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
        .withColumn("cumbefore", coalesce(sum("cnt").over(w), lit(0L)))
        .select(col(v),
          (lit(2) * col("cumbefore") + col("cnt") + lit(1)).as(s"r_$v"))
    }
    val s = base.join(rank2("x"), "x").join(rank2("y"), "y")
      .agg(
        count(lit(1)).as("n"),
        sum(col("r_x").cast(dec) * col("r_y").cast(dec)).as("sxy"),
        sum(col("r_x").cast(dec)).as("sx"),
        sum(col("r_x").cast(dec) * col("r_x").cast(dec)).as("sxx"),
        sum(col("r_y").cast(dec)).as("sy"),
        sum(col("r_y").cast(dec) * col("r_y").cast(dec)).as("syy"))
      .withColumn("n",
        when(col("n") > 1000000000L,
          raise_error(lit("spearman: beyond the 1e9-item decimal(38) " +
            "exactness envelope"))).otherwise(col("n")))
    val dx = col("n").cast(dec) * col("sxx") - col("sx") * col("sx")
    val dy = col("n").cast(dec) * col("syy") - col("sy") * col("sy")
    s.select(col("n").as("n_items"),
      when(dx > 0 && dy > 0,
        round((col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), roundTo))
        .as("spearman_rho"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test — the
    * nonparametric "did variant b's scores shift" read next to
    * [[graft.operators.EventAnalytics.abSignificance]]'s conversion
    * z-test: quality scores, latencies and reward-model outputs are
    * rarely normal, and the rank test needs no distributional
    * assumption. Groups are 'a'|'b' (anything else fails loudly, the
    * abSignificance contract); null/NaN values fail loudly (engines
    * order them differently — the [[spearman]] discipline).
    *
    * Classic tie handling (midranks) carried exactly: ranks ride as
    * INTEGER 2·midrank = 2·cumbefore + cnt + 1 over the distinct-value
    * grid ([[spearman]]'s rank2 idiom), so 2·R_a, 2·U_a = 2·R_a −
    * n_a(n_a+1) and the tie term ΣT = Σ(t³ − t) are exact decimal
    * integers in any partition order. The normal-approximation verdict
    * (two-sided α = 0.05, tie-corrected variance σ² = n_a·n_b·Q/(12K),
    * Q = (N+1)·K − ΣT, K = N(N−1)) is the EXACT integer comparison
    *
    *   3·10⁴·D² > (38416·n_a·n_b·Q) div K,   D = 2U_a − n_a·n_b
    *
    * — z² > 1.96² multiplied through with one div/mod descent (the
    * [[graft.operators.EventAnalytics.withZVerdict]] ladder; the
    * truncated remainder can only matter at exact equality, where
    * strict `>` already reads not_significant). Largest intermediate
    * 38416·n_a·n_b·Q ≈ 10⁴·N⁵ — exact in decimal(38,0) to N = 5·10⁶
    * ranked items, enforced loudly (past that a rank test is the wrong
    * tool: everything is "significant").
    *
    * Also emitted: the common-language effect size U_a/(n_a·n_b)
    * (P(a-draw > b-draw) + ½·P(tie) — the AUC identity) on the 1e-6
    * lattice, exact.
    *
    * Scale: one distinct-value aggregate, a cumulative sum over the
    * value GRID (bounded by distinct scores, the [[spearman]]
    * envelope), one map-side-combined global fold. Output: one row
    * (n_a, n_b, u2_a, tie_sum, cle_e6, verdict).
    */
  /** Closed-form ordinary least squares for two integer features —
    * y ≈ b0 + b1·x1 + b2·x2 via the normal equations, solved by
    * Cramer's rule over EXACT decimal(38,0) moment sums: the
    * train-a-calibration-line / dataset-trend-fit primitive
    * (tokens-per-byte, score-vs-length drifts) that needs no
    * iteration and no float until the final read-out. At any corpus
    * size the plan is one map-side-combined 9-sum aggregate — the
    * same sums a 1000-executor run combines — and a one-row solve.
    *
    * Exactness envelope (the mannWhitney posture): moment sums past
    * 10¹² or n past 2·10⁶ raise loudly rather than risk silent
    * decimal overflow in the 3×3 determinants. Inside the envelope
    * |d| ≤ ~6·10³⁰ but |dX| can reach ~10³⁶ (large-mean y against an
    * orthogonal near-max Gram determinant), so the naive lattice read
    * 2·|dX|·10⁶ would blow past decimal(38,0); the read is therefore a
    * quotient+remainder descent — q = |dX| div |d|, then the half-up
    * 10⁶ lattice of the remainder — whose intermediates stay ≤
    * max(|dX|, (2·10⁶+1)·|d|) < 10³⁸. An ill-conditioned system
    * (|beta| ≥ ~9·10¹¹, where q·10⁶ would leave the long lattice)
    * raises loudly; the boundary check runs on the double image of the
    * exact decimals — lossy only in the guard, never in the read.
    * Betas are half-away-from-zero 1e-6 lattice reads of the exact
    * determinant rationals; a singular system (collinear features,
    * constant x) emits NULL betas with verdict 'singular'. Output:
    * one row (n, b0_e6, b1_e6, b2_e6, verdict).
    */
  def linearRegressionFit(
      df: DataFrame, yCol: String, x1Col: String, x2Col: String)
      : DataFrame =
    normalEquationsFit(df, yCol, x1Col, x2Col, lambda = 0L,
      what = "linearRegressionFit")

  /** Ridge regression for two integer features — [[linearRegressionFit]]
    * with an integer L2 penalty λ on the feature weights (never the
    * intercept, the standard parameterization): the normal-equations
    * Gram gains λ on its (x1, x1) and (x2, x2) diagonal and everything
    * else — the one-pass 9-sum aggregate, the exact Cramer solve, the
    * quotient+remainder lattice read — is shared verbatim, so the two
    * fits cannot drift apart. Integer λ keeps the solve EXACT; λ = 0
    * IS the OLS fit (proven in spec). λ > 0 also regularizes the
    * conditioning: the shifted Gram is strictly positive definite, so
    * 'singular' can only appear at λ = 0. Output: one row
    * (n, b0_e6, b1_e6, b2_e6, verdict).
    */
  def ridgeRegressionFit(
      df: DataFrame, yCol: String, x1Col: String, x2Col: String,
      lambda: Long): DataFrame = {
    require(lambda >= 0 && lambda <= 1000000000000L,
      s"lambda must be in [0, 1e12] (got $lambda)")
    normalEquationsFit(df, yCol, x1Col, x2Col, lambda,
      what = "ridgeRegressionFit")
  }

  private def normalEquationsFit(
      df: DataFrame, yCol: String, x1Col: String, x2Col: String,
      lambda: Long, what: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    def in(c: String, w: String) = when(col(c).isNull,
      raise_error(lit(s"$what: null $w")))
      .otherwise(col(c).cast("long"))
    val b = df.select(in(yCol, "y").as("y"), in(x1Col, "x1").as("x1"),
      in(x2Col, "x2").as("x2"))
    val s = b.agg(
        count(lit(1)).as("n"),
        sum(dc(col("x1"))).as("s1"), sum(dc(col("x2"))).as("s2"),
        sum(dc(col("x1")) * dc(col("x1"))).as("s11"),
        sum(dc(col("x1")) * dc(col("x2"))).as("s12"),
        sum(dc(col("x2")) * dc(col("x2"))).as("s22"),
        sum(dc(col("y"))).as("sy"),
        sum(dc(col("x1")) * dc(col("y"))).as("s1y"),
        sum(dc(col("x2")) * dc(col("y"))).as("s2y"))
      .withColumn("n",
        when(col("n") > 2000000L ||
          greatest(col("s11"), col("s22"), abs(col("sy")),
            abs(col("s1y")), abs(col("s2y")), abs(col("s12"))) >
            dc(lit(1000000000000L)),
          raise_error(lit(s"$what: beyond the " +
            "decimal(38) exactness envelope (n > 2e6 or a moment " +
            "sum > 1e12) — rescale the features upstream")))
          .otherwise(col("n")))
      // the ridge shift: λ on the Gram's feature diagonal, after the
      // envelope check (s11 + λ ≤ 2e12 keeps every bound below intact
      // to within the documented factor-2 slack)
      .withColumn("s11", col("s11") + dc(lit(lambda)))
      .withColumn("s22", col("s22") + dc(lit(lambda)))
    val t = s
      .withColumn("d",
        dc(col("n")) * (col("s11") * col("s22") - col("s12") * col("s12"))
          - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
          + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
      .withColumn("d0",
        col("sy") * (col("s11") * col("s22") - col("s12") * col("s12"))
          - col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
          + col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y")))
      .withColumn("d1",
        dc(col("n")) * (col("s1y") * col("s22") - col("s2y") * col("s12"))
          - col("sy") * (col("s1") * col("s22") - col("s12") * col("s2"))
          + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
      .withColumn("d2",
        dc(col("n")) * (col("s11") * col("s2y") - col("s12") * col("s1y"))
          - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
          + col("sy") * (col("s1") * col("s12") - col("s11") * col("s2")))
    // Quotient+remainder lattice read: |dX|·10⁶ can overflow
    // decimal(38,0) inside the moment envelope (|dX| up to ~10³⁶), so
    // split |dX| = q·|d| + r and round only the remainder — every
    // intermediate stays ≤ max(|dX|, (2·10⁶+1)·|d|) < 10³⁸. The
    // half-up identity: round(|dX|·10⁶/|d|) = q·10⁶ + (2r·10⁶+|d|)
    // div (2|d|), exactly the old single-expression read.
    def lat(nm: String): Column = {
      val q = expr(s"abs($nm) div abs(d)")
      val frac =
        expr(s"(2 * (abs($nm) % abs(d)) * 1000000 + abs(d)) div (2 * abs(d))")
      val mag = q * lit(1000000L) + frac
      when(col("d") === 0, lit(null).cast("long"))
        .otherwise(
          when(abs(col(nm)).cast("double") >
              abs(col("d")).cast("double") * 9.0e11,
            raise_error(lit(s"$what: ill-conditioned " +
              "system (|beta| >= ~9e11) — the 1e-6 lattice read is " +
              "meaningless; rescale features or drop the " +
              "near-collinear one")).cast("long"))
            .otherwise(
              when((col(nm) >= 0) === (col("d") >= 0), mag)
                .otherwise(-mag)))
    }
    t.select(col("n"), lat("d0").as("b0_e6"), lat("d1").as("b1_e6"),
      lat("d2").as("b2_e6"),
      when(col("d") === 0, lit("singular")).otherwise(lit("defined"))
        .as("verdict"))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for a
    * FIXED number of raters per item, the multi-rater step between
    * [[cohenKappa]]'s two raters and [[krippendorffAlpha]]'s
    * missing-data generality: the standard read for label-quality
    * audits where every item got exactly n judgments (crowd batches,
    * n-model LLM-judge panels).
    *
    * With n_ij the raters assigning item i to category j, N items,
    * n raters/item, c_j = Σ_i n_ij, A = Σ_ij n_ij², B = Σ_j c_j²:
    *
    *   P̄ = (A − N·n) / (N·n·(n−1)),  P_e = B / (N·n)²,
    *   κ = (P̄ − P_e) / (1 − P_e)
    *     = ((A − Nn)·(Nn)² − Nn(n−1)·B) / (Nn(n−1)·((Nn)² − B))
    *
    * EXACT end-to-end: one integer rational in decimal(38,0), read out
    * half-AWAY-FROM-ZERO on the 1e-6 lattice (κ is legitimately
    * negative below chance — the autocorrelation sign-split idiom).
    * Unequal per-item rating counts raise loudly (Fleiss is undefined
    * there — use krippendorffAlpha); perfect unanimity on every item
    * with one global category makes P_e = 1 → NULL κ, verdict
    * 'undefined'. Output: one row (n_items, n_raters, n_categories,
    * kappa_e6, verdict).
    */
  def fleissKappa(
      ratings: DataFrame, itemCol: String, catCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val cat = when(col(catCol).isNull,
      raise_error(lit("fleissKappa: null category")))
      .otherwise(col(catCol).cast("string"))
    val nij = ratings
      .select(col(itemCol).as("item"), cat.as("cat"))
      .groupBy("item", "cat").agg(count(lit(1)).as("nij"))
    val perItem = nij.groupBy("item").agg(sum("nij").as("ni"),
      sum(dc(col("nij")) * dc(col("nij"))).as("a_i"))
    val cj = nij.groupBy("cat").agg(sum("nij").as("cjn"))
    val bAgg = cj.agg(sum(dc(col("cjn")) * dc(col("cjn"))).as("b"),
      count(lit(1)).as("n_categories"))
    val s = perItem.agg(
        count(lit(1)).as("n_items"),
        min("ni").as("n_min"), max("ni").as("n_max"),
        sum("a_i").as("a"))
      .select(col("n_items"),
        when(col("n_min") =!= col("n_max"),
          raise_error(concat(
            lit("fleissKappa: unequal ratings per item ("),
            col("n_min").cast("string"), lit(".."),
            col("n_max").cast("string"),
            lit(") — Fleiss requires a fixed rater count; use " +
              "krippendorffAlpha for missing data"))))
          .otherwise(col("n_min")).as("n_raters"), col("a"))
      .crossJoin(broadcast(bAgg))
    val nn = dc(col("n_items")) * dc(col("n_raters"))
    val d1 = nn * (dc(col("n_raters")) - dc(lit(1)))
    val num = (col("a") - nn) * nn * nn - d1 * col("b")
    val den = d1 * (nn * nn - col("b"))
    // half-away-from-zero 1e-6 read of num/den (den ≥ 0; num signed)
    val e6 = when(num >= 0,
      expr("(2 * kn * 1000000 + kd) div (2 * kd)"))
      .otherwise(-expr("(-2 * kn * 1000000 + kd) div (2 * kd)"))
    s.withColumn("kn", num).withColumn("kd", den)
      .select(col("n_items"), col("n_raters"), col("n_categories"),
        when(col("kd") === 0, lit(null).cast("long")).otherwise(e6)
          .as("kappa_e6"),
        when(col("kd") === 0, lit("undefined")).otherwise(lit("defined"))
          .as("verdict"))
  }

  /** Kendall's τ-a over paired integer scores — rank correlation by
    * EXACT concordant/discordant pair counting (the third leg next to
    * [[spearman]]'s ρ and Pearson: τ counts order inversions directly,
    * so it is the most outlier-robust of the three and the one with a
    * clean probabilistic read, P(concordant) − P(discordant)):
    *
    *   τ_a = (C − D) / (n(n−1)/2)
    *
    * (τ-a, not τ-b: the tie-corrected denominator needs a sqrt; τ-a
    * stays ONE integer rational — ties simply count toward neither,
    * and n_tied is reported so a caller can form τ-b offline.)
    *
    * Scale — the e27 grid discipline taken 2-D: the corpus collapses
    * to a (a, b) VALUE-GRID count first (score-space-sized, never
    * corpus-sized), and C/D are Σ n₁·n₂ over ordered grid-cell pairs
    * — a broadcast self-join of the tiny grid (dim² comparisons, the
    * documented dim-set crossJoin class), never corpus². Exact
    * decimal(38,0) to the 3e9-row envelope (guarded); τ_a rides the
    * half-away-from-zero 1e-6 lattice. Output: one row
    * (n, n_concordant, n_discordant, n_tied, tau_a_e6 — NULL below
    * two rows).
    */
  def kendallTauA(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    def in(c: String, what: String) = when(col(c).isNull,
      raise_error(lit(s"kendallTauA: null $what score")))
      .otherwise(col(c).cast("long"))
    val grid = pairs.select(in(aCol, "a").as("a"), in(bCol, "b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("m"))
      .localCheckpoint() // grid-sized; both sides of the pair join
    val g2 = grid.select(col("a").as("a2"), col("b").as("b2"),
      col("m").as("m2"))
    val cd = grid.crossJoin(broadcast(g2))
      .filter(col("a") < col("a2")) // each unordered cell pair once
      .agg(
        coalesce(sum(when(col("b") < col("b2"),
          dc(col("m")) * dc(col("m2")))), dc(lit(0))).as("c_dec"),
        coalesce(sum(when(col("b") > col("b2"),
          dc(col("m")) * dc(col("m2")))), dc(lit(0))).as("d_dec"))
    val tot = grid.agg(sum("m").as("n"))
      .select(when(col("n") > 3000000000L,
        raise_error(lit("kendallTauA: beyond the 3e9-row decimal(38) " +
          "exactness envelope"))).otherwise(col("n")).as("n"))
    tot.crossJoin(broadcast(cd))
      .withColumn("n0",
        dc(col("n")) * (dc(col("n")) - dc(lit(1))) / 2)
      .select(col("n"),
        col("c_dec").cast("long").as("n_concordant"),
        col("d_dec").cast("long").as("n_discordant"),
        (col("n0").cast(dec) - col("c_dec") - col("d_dec")).cast("long")
          .as("n_tied"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(when(col("c_dec") >= col("d_dec"),
            expr("(2 * (c_dec - d_dec) * 1000000 + CAST(n0 AS " +
              "DECIMAL(38,0))) div (2 * CAST(n0 AS DECIMAL(38,0)))"))
            .otherwise(-expr("(2 * (d_dec - c_dec) * 1000000 + " +
              "CAST(n0 AS DECIMAL(38,0))) div " +
              "(2 * CAST(n0 AS DECIMAL(38,0)))")))
          .as("tau_a_e6"))
  }

  /** Wilcoxon signed-rank test (the PAIRED companion of
    * [[mannWhitney]]): two scores per item, zero differences dropped
    * (the classical Wilcoxon reduction), |d| ranked with average ranks
    * for ties, and the normal-approximation significance test executed
    * as ONE exact integer cross-comparison — no sqrt, no float, the
    * mannWhitney discipline:
    *
    *   z² > 1.96²  ⇔  30000·D² > 9604·(2n(n+1)(2n+1) − ΣT)
    *
    * where D = 2W₊ − n(n+1)/2·2/… spelled in doubled-rank integers:
    * 2·avgrank = 2·cumbefore + cnt + 1 is always integer, S2 = Σ₊
    * doubled ranks, D = S2 − n(n+1)/2·... (μ in doubled units is
    * n(n+1)/2·2/2 — concretely D = S2 − n(n+1)/2, with S2 = 2W₊), and
    * ΣT = Σ(t³ − t) the tie correction. Exact in decimal(38,0) to the
    * 5e6-item envelope (guarded). Output: one row (n_nonzero,
    * w2_plus, w2_minus, tie_sum, verdict) with w2_* the DOUBLED rank
    * sums (always integers) and the w18-style 3-valued verdict.
    */
  def wilcoxonSignedRank(
      pairs: DataFrame, idCol: String, aCol: String, bCol: String)
      : DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    def scored(c: String, side: String) =
      when(col(c).isNull,
        raise_error(lit(s"wilcoxonSignedRank: null $side score")))
        .otherwise(col(c).cast("long"))
    val d = pairs
      .select((scored(aCol, "a") - scored(bCol, "b")).as("d"))
      .filter(col("d") =!= 0)
      .select(abs(col("d")).as("ad"), (col("d") > 0).as("pos"))
    val w = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = d.groupBy("ad").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("cnt_pos"))
      .withColumn("cumbefore", coalesce(sum("cnt").over(w), lit(0L)))
    val s = grid.agg(
        coalesce(sum("cnt"), lit(0L)).as("n"),
        coalesce(sum(dc(col("cnt_pos")) *
          dc(lit(2) * col("cumbefore") + col("cnt") + lit(1))),
          dc(lit(0))).as("s2_plus"),
        coalesce(sum(dc(col("cnt")) * dc(col("cnt")) * dc(col("cnt")) -
          dc(col("cnt"))), dc(lit(0))).as("tie_sum_dec"))
      .withColumn("n",
        when(col("n") > 5000000L,
          raise_error(lit("wilcoxonSignedRank: beyond the 5e6-item " +
            "decimal(38) exactness envelope"))).otherwise(col("n")))
    val nD = dc(col("n"))
    val totalS2 = nD * (nD + dc(lit(1))) // Σ doubled ranks = n(n+1)
    val mu2 = totalS2 / 2 // decimal(38,6), exact: n(n+1) is even
    val dd = col("s2_plus").cast(DecimalType(38, 6)) - mu2
    val sigma = dc(lit(2)) * nD * (nD + dc(lit(1))) *
      (dc(lit(2)) * nD + dc(lit(1))) - col("tie_sum_dec")
    // z² > 1.96²: D is 2(W₊−μ) in doubled units so z² = D²·12/(4·48σ²')
    // … executed as 30000·D² > 9604·σ' (both sides ×10⁴, σ' the
    // 48-scaled variance above) — exact decimals, one comparison
    val lhs = dc(lit(30000)) * dd.cast(dec) * dd.cast(dec)
    val rhs = dc(lit(9604)) * col("sigma")
    s.withColumn("sigma", sigma)
      .select(col("n").as("n_nonzero"),
        col("s2_plus").cast("long").as("w2_plus"),
        (totalS2.cast(dec) - col("s2_plus")).cast("long").as("w2_minus"),
        col("tie_sum_dec").cast("long").as("tie_sum"),
        when(col("n") < 2 || col("sigma") <= 0, lit("undefined"))
          .otherwise(when(lhs > rhs, lit("significant"))
            .otherwise(lit("not_significant"))).as("verdict"))
  }

  def mannWhitney(
      scored: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    // isNull spelled out: NULL.isin(...) is NULL, and when(NULL, raise)
    // would fall through — a null group would silently land in n_b
    val g = when(col(groupCol).isNull || !col(groupCol).isin("a", "b"),
      raise_error(concat(lit("mannWhitney: group must be a|b, got "),
        coalesce(col(groupCol).cast("string"), lit("NULL")))))
      .otherwise(col(groupCol))
    val v = col(valueCol).cast("double")
    val x = when(v.isNull || isnan(v),
      raise_error(lit("mannWhitney: value must be non-null and non-NaN")))
      .otherwise(v)
    val base = scored.select(g.as("g"), x.as("x"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = base.groupBy("x").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("g") === "a", 1L).otherwise(0L)).as("cnt_a"))
      .withColumn("cumbefore", coalesce(sum("cnt").over(w), lit(0L)))
    val s = grid.agg(
        coalesce(sum(col("cnt_a")), lit(0L)).as("n_a"),
        coalesce(sum(col("cnt") - col("cnt_a")), lit(0L)).as("n_b"),
        coalesce(sum(dc(col("cnt_a")) *
          dc(lit(2) * col("cumbefore") + col("cnt") + lit(1))),
          dc(lit(0))).as("r2_a"),
        coalesce(sum(dc(col("cnt")) * dc(col("cnt")) * dc(col("cnt")) -
          dc(col("cnt"))), dc(lit(0))).as("tie_sum_dec"))
      .withColumn("n_a",
        when(col("n_a") + col("n_b") > 5000000L,
          raise_error(lit("mannWhitney: beyond the 5e6-item " +
            "decimal(38) exactness envelope")))
          .otherwise(col("n_a")))
      // 2·U_a, the pair key of every later term — exact decimal
      .withColumn("u2",
        col("r2_a") - dc(col("n_a")) * (dc(col("n_a")) + dc(lit(1))))
    val bigN = dc(col("n_a")) + dc(col("n_b"))
    val k = bigN * (bigN - dc(lit(1)))
    val nab = dc(col("n_a")) * dc(col("n_b"))
    val d = col("u2") - nab
    // z² > 1.96², tie-corrected, multiplied through by 10⁴ with the
    // RHS split A − F/K so no product needs more than ~10⁴·N⁵ digits:
    //   LHS = 3·10⁴·D²
    //   RHS = 38416·nab·(N+1) − 38416·nab·ΣT / K = A − (f + r/K)
    // f rides as (F − F mod K)/K — exactly divisible, and the decimal
    // quotient (≤ 10⁴·N³ digits, 32 at the envelope) fits decimal(38,6)
    // without rounding. Strict > at r = 0; at r > 0 the true RHS sits
    // in (A−f−1, A−f), so LHS ≥ A−f already clears it.
    val lhs = dc(lit(30000)) * d * d
    val a = dc(lit(38416)) * nab * (bigN + dc(lit(1)))
    val f0 = dc(lit(38416)) * nab * col("tie_sum_dec")
    val kSafe = when(k > 0, k).otherwise(dc(lit(1)))
    val r = f0 % kSafe
    val f = ((f0 - r) / kSafe).cast(dec)
    val undef = col("n_a") === 0L || col("n_b") === 0L ||
      col("n_a") + col("n_b") < 2L ||
      (bigN + dc(lit(1))) * k - col("tie_sum_dec") <= 0
    // common-language effect U_a/(n_a·n_b) on the 1e-6 lattice:
    // round(p/q) = (2p + q) div (2q) with p = u2·10⁶, q = 2·nab — all
    // decimal-exact, quotient ≤ 10⁶ (the div-to-long contract holds)
    val cleNum = dc(lit(2)) * col("u2") * dc(lit(1000000)) +
      dc(lit(2)) * nab
    val cleDen = dc(lit(4)) * nab
    val cle = ((cleNum - cleNum % cleDen) / cleDen).cast("long")
    s.select(col("n_a"), col("n_b"),
        col("u2").cast("long").as("u2_a"),
        col("tie_sum_dec").cast("long").as("tie_sum"),
        when(nab > 0, cle).as("cle_e6"),
        when(undef, lit("undefined"))
          .otherwise(when(lhs > a - f || (lhs === a - f && r > 0),
            lit("significant")).otherwise(lit("not_significant")))
          .as("verdict"))
  }

  def cohenKappa(
      ratings: DataFrame, aCol: String, bCol: String): DataFrame = {
    def checked(c: String, side: String) =
      when(col(c).isNull,
        raise_error(lit(s"cohenKappa: null $side label")))
        .otherwise(col(c).cast("string"))
    val conf = ratings
      .select(checked(aCol, "rater-a").as("a"), checked(bCol, "rater-b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    // marginals from the confusion matrix: label-sized tables, the
    // full join keeps labels one rater never used (product term 0)
    val ra = conf.groupBy("a").agg(sum("c").as("row_n"))
      .select(col("a").as("lbl"), col("row_n"))
    val rb = conf.groupBy("b").agg(sum("c").as("col_n"))
      .select(col("b").as("lbl"), col("col_n"))
    // marginal products ride in decimal(38,0) so the SUM can never wrap
    // silently past n ~ 3e9; the long output schema is restored below
    // behind a loud envelope guard (the abSignificance discipline)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val pe = ra.join(rb, Seq("lbl"), "full")
      .agg(sum(coalesce(col("row_n"), lit(0L)).cast(d38) *
        coalesce(col("col_n"), lit(0L)).cast(d38)).as("pe_dec"))
    val agg = conf.agg(
      sum("c").as("n_items"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L))
        .as("n_agree"))
    def guarded(c: Column) =
      when(col("n_items") > 3000000000L,
        raise_error(lit("cohenKappa: beyond the 3e9-item 64-bit " +
          "exactness envelope"))).otherwise(c)
    agg.crossJoin(pe)
      .withColumn("pe_num", guarded(col("pe_dec").cast("long")))
      .withColumn("n_items", guarded(col("n_items")))
      .drop("pe_dec")
      .select(col("n_items"), col("n_agree"), col("pe_num"),
        when(col("n_items") * col("n_items") === col("pe_num"),
          lit(null).cast("double"))
          .otherwise(round(
            (col("n_items") * col("n_agree") - col("pe_num"))
              .cast("double") /
              (col("n_items") * col("n_items") - col("pe_num"))
                .cast("double"), 6)).as("kappa"))
  }
  /** Cochran's Q (Cochran 1950) — the k-treatment extension of
    * [[mcnemar]]: do k classifiers/judges, each scoring the SAME item
    * set with a binary outcome, differ in success rate? THE panel-level
    * read before pairwise McNemar drill-downs (k LLM judges over one
    * eval set, k filter versions over one corpus sample).
    *
    * With x_ij ∈ {0,1}, N items × k judges, c_j = per-judge totals,
    * r_i = per-item totals, T = Σx:
    *
    *   Q = (k−1)·(k·Σc_j² − T²) / (k·T − Σr_i²)
    *
    * EXACT end-to-end: one integer rational in decimal(38,0) (numerator
    * ≥ 0 by Cauchy–Schwarz, so the half-up 1e-6 read needs no sign
    * split); the χ²(k−1) significance verdict is ONE exact integer
    * cross-comparison against the published 0.95 quantile table
    * (df ≤ 30 — wider panels raise loudly; at that width the χ²
    * approximation is not the binding concern, the panel design is).
    * Incomplete panels raise (every item needs every judge exactly
    * once — both margins are checked); an all-unanimous panel has
    * zero denominator → NULL Q, verdict 'undefined'. Output: one row
    * (n_items, k_judges, df, q_e6, verdict).
    */
  /** Published upper-0.05 chi-square quantiles, df = 1..30, on the
    * 1e-6 grid — the shared significance spine of [[cochranQ]] and
    * [[friedmanTest]] (one literal array, so the two verdicts can
    * never disagree about the table).
    */
  private def chi2Crit05E6: Column = array(Seq(3841459L, 5991465L,
    7814728L, 9487729L, 11070498L, 12591587L, 14067140L, 15507313L,
    16918978L, 18307038L, 19675138L, 21026070L, 22362032L, 23684791L,
    24995790L, 26296228L, 27587112L, 28869299L, 30143527L, 31410433L,
    32670573L, 33924438L, 35172462L, 36415028L, 37652484L, 38885139L,
    40113272L, 41337138L, 42556968L, 43772972L).map(v => lit(v)): _*)

  def cochranQ(
      outcomes: DataFrame, itemCol: String, judgeCol: String,
      successCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val x = when(col(successCol).isNull,
      raise_error(lit("cochranQ: null outcome")))
      .otherwise(col(successCol).cast("boolean").cast("long"))
    val cells = outcomes.select(col(itemCol).as("item"),
      when(col(judgeCol).isNull,
        raise_error(lit("cochranQ: null judge")))
        .otherwise(col(judgeCol).cast("string")).as("judge"),
      x.as("x"))
    val items = cells.groupBy("item").agg(
      count(lit(1)).as("ki"), sum("x").as("r"))
    val judges = cells.groupBy("judge").agg(
      count(lit(1)).as("ni"), sum("x").as("c"))
    val im = items.agg(
      count(lit(1)).as("n_items"),
      min("ki").as("k_min"), max("ki").as("k_max"),
      sum(dc(col("r")) * dc(col("r"))).as("sr2"),
      sum("r").as("t"))
    val jm = judges.agg(
      count(lit(1)).as("k_judges"),
      min("ni").as("n_min"), max("ni").as("n_max"),
      sum(dc(col("c")) * dc(col("c"))).as("sc2"))
    val s = im.crossJoin(broadcast(jm))
      .withColumn("k_judges",
        when(col("k_min") =!= col("k_max") ||
            col("n_min") =!= col("n_max") ||
            col("k_min") =!= col("k_judges") ||
            col("n_min") =!= col("n_items"),
          raise_error(lit("cochranQ: incomplete panel — every item " +
            "needs every judge exactly once (use mcnemar per pair, " +
            "or complete the grid upstream)")))
          .when(col("k_judges") < 2 || col("k_judges") > 31,
            raise_error(lit("cochranQ: k must be in [2, 31] (the " +
              "embedded chi-square table covers df <= 30)")))
          .when(col("n_items") > 1000000000L,
            raise_error(lit("cochranQ: beyond the 1e9-item " +
              "decimal(38) exactness envelope")))
          .otherwise(col("k_judges")))
    val crit = chi2Crit05E6
    val num = (dc(col("k_judges")) - dc(lit(1))) *
      (dc(col("k_judges")) * col("sc2") - dc(col("t")) * dc(col("t")))
    val den = dc(col("k_judges")) * dc(col("t")) - col("sr2")
    s.withColumn("qn", num).withColumn("qd", den)
      .withColumn("df", (col("k_judges") - 1).cast("int"))
      .select(col("n_items"), col("k_judges"), col("df"),
        when(col("qd") === 0, lit(null).cast("long"))
          .otherwise(expr("(2 * qn * 1000000 + qd) div (2 * qd)"))
          .as("q_e6"),
        when(col("qd") === 0, lit("undefined"))
          .otherwise(when(dc(lit(1000000L)) * col("qn") >
              element_at(crit, col("df")).cast(dec) * col("qd"),
            lit("different")).otherwise(lit("not_different")))
          .as("verdict"))
  }

  /** Cliff's delta (Cliff 1993) — the ordinal effect size the
    * significance tests ([[mannWhitney]]) do not give: with G pairs
    * where an a-draw beats a b-draw, L where it loses, over all
    * n_a·n_b cross pairs,
    *
    *   δ = (G − L) / (n_a·n_b) ∈ [−1, 1]
    *
    * — P(a > b) − P(a < b), the dominance probability difference. The
    * standard companion read to a Mann–Whitney verdict ("significant,
    * but HOW big?"), with the published Romano et al. (2006) magnitude
    * bands: |δ| < 0.147 negligible, < 0.33 small, < 0.474 medium,
    * else large — each band edge an EXACT integer cross-comparison
    * (|G−L|·1000 vs edge·n_a·n_b), never a float threshold.
    *
    * EXACT: G, L, ties come from the distinct-value grid of each group
    * (the [[kendallTauA]] envelope: cost is grid², never corpus²), δ
    * reads half-away-from-zero on the 1e-6 lattice. An empty group →
    * NULL δ, magnitude 'undefined'. Groups must literally be 'a'|'b'
    * (the abSignificance discipline). Output: one row
    * (n_a, n_b, n_gt, n_lt, n_ties, delta_e6, magnitude).
    */
  def cliffsDelta(
      scores: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val g = when(col(groupCol).isNull ||
        !col(groupCol).cast("string").isin("a", "b"),
      raise_error(concat(lit("cliffsDelta: group must be a|b, got "),
        coalesce(col(groupCol).cast("string"), lit("NULL")))))
      .otherwise(col(groupCol).cast("string"))
    val v = when(col(scoreCol).isNull,
      raise_error(lit("cliffsDelta: null score")))
      .otherwise(col(scoreCol).cast("long"))
    val grid = scores.select(g.as("g"), v.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("m"))
      .localCheckpoint() // grid-sized; both sides of the cross pair join
    val a = grid.filter(col("g") === "a").select(col("v").as("va"),
      col("m").as("ma"))
    val b = grid.filter(col("g") === "b").select(col("v").as("vb"),
      col("m").as("mb"))
    val cmp = a.crossJoin(broadcast(b)).agg(
      coalesce(sum(when(col("va") > col("vb"),
        dc(col("ma")) * dc(col("mb")))), dc(lit(0))).as("g_dec"),
      coalesce(sum(when(col("va") < col("vb"),
        dc(col("ma")) * dc(col("mb")))), dc(lit(0))).as("l_dec"))
    val tot = grid.groupBy("g").agg(sum("m").as("n"))
      .agg(coalesce(sum(when(col("g") === "a", col("n"))), lit(0L))
          .as("n_a"),
        coalesce(sum(when(col("g") === "b", col("n"))), lit(0L))
          .as("n_b"))
      .select(
        when(greatest(col("n_a"), col("n_b")) > 3000000000L,
          raise_error(lit("cliffsDelta: beyond the 3e9-row " +
            "decimal(38) exactness envelope"))).otherwise(col("n_a"))
          .as("n_a"), col("n_b"))
    val nn = dc(col("n_a")) * dc(col("n_b"))
    val diff = col("g_dec") - col("l_dec")
    def band(edgePerMille: Int) =
      abs(diff) * dc(lit(1000L)) >= dc(lit(edgePerMille.toLong)) * nn
    tot.crossJoin(broadcast(cmp))
      .select(col("n_a"), col("n_b"),
        col("g_dec").cast("long").as("n_gt"),
        col("l_dec").cast("long").as("n_lt"),
        (nn - col("g_dec") - col("l_dec")).cast("long").as("n_ties"),
        when(nn === 0, lit(null).cast("long"))
          .otherwise(when(diff >= 0,
            expr("(2 * (g_dec - l_dec) * 1000000 + CAST(n_a AS " +
              "DECIMAL(38,0)) * n_b) div (2 * CAST(n_a AS " +
              "DECIMAL(38,0)) * n_b)"))
            .otherwise(-expr("(2 * (l_dec - g_dec) * 1000000 + " +
              "CAST(n_a AS DECIMAL(38,0)) * n_b) div (2 * CAST(n_a " +
              "AS DECIMAL(38,0)) * n_b)")))
          .as("delta_e6"),
        when(nn === 0, lit("undefined"))
          .otherwise(when(band(474), lit("large"))
            .otherwise(when(band(330), lit("medium"))
              .otherwise(when(band(147), lit("small"))
                .otherwise(lit("negligible"))))).as("magnitude"))
  }

  /** Matthews correlation coefficient (Matthews 1975) — the one-number
    * binary-confusion read that survives class imbalance (accuracy and
    * F1 both saturate on a 99:1 corpus-filter eval; MCC does not,
    * which is why it is the standard gate metric for quality-filter
    * classifiers):
    *
    *   MCC = (TP·TN − FP·FN) / √((TP+FP)(TP+FN)(TN+FP)(TN+FN))
    *
    * EXACT: the square root never evaluates — the output is the SIGNED
    * SQUARE on the 1e-12 lattice, mcc_sq_e12 = sign(num)·⌈1e12·num²/den⌋
    * (half-up), so both engines compare pure integers; consumers read
    * |MCC| = √(|mcc_sq_e12|/1e12) knowingly. A zero marginal (a class
    * one side never predicts/has) zeroes the denominator → NULL, verdict
    * 'undefined' (the cochranQ discipline — flagged, not faked as 0).
    *
    * Scale: one 4-cell map-side-combined aggregate; everything after is
    * a one-row solve. num² ≤ n⁴/16, so the 1e-12 lattice stays inside
    * decimal(38,0) through n = 3e6 — larger eval sets raise loudly
    * (an EVAL table beyond that is a sampling problem upstream, not an
    * arithmetic one). Output: one row
    * (n, tp, tn, fp, fn, mcc_sq_e12, band).
    */
  def matthewsCorrelation(
      df: DataFrame, trueCol: String, predCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    def checked(c: String, what: String) =
      when(col(c).isNull,
        raise_error(lit(s"matthewsCorrelation: null $what")))
        .otherwise(col(c).cast("boolean"))
    val cells = df.select(checked(trueCol, "truth").as("t"),
        checked(predCol, "prediction").as("p"))
      .agg(
        sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("tn"),
        sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("fn"))
      .withColumn("n",
        when(col("tp") + col("tn") + col("fp") + col("fn") > 3000000L,
          raise_error(lit("matthewsCorrelation: beyond the 3e6-row " +
            "decimal(38) exactness envelope — sample the eval set " +
            "upstream")))
          .otherwise(col("tp") + col("tn") + col("fp") + col("fn")))
    val num = dc(col("tp")) * dc(col("tn")) - dc(col("fp")) * dc(col("fn"))
    val den = (dc(col("tp")) + dc(col("fp"))) *
      (dc(col("tp")) + dc(col("fn"))) *
      (dc(col("tn")) + dc(col("fp"))) * (dc(col("tn")) + dc(col("fn")))
    // |MCC| band edges (squared, e12): 0.3² = 0.09, 0.7² = 0.49 — the
    // conventional weak/moderate/strong read, each an exact integer
    // cross-comparison on the SQUARE (never a float threshold)
    def atLeast(sqE12: Long) =
      dc(lit(1000000000000L)) * num * num >= dc(lit(sqE12)) * den
    cells
      .withColumn("mccn", num).withColumn("mccd", den)
      .select(col("n"), col("tp"), col("tn"), col("fp"), col("fn"),
        when(col("mccd") === 0, lit(null).cast("long"))
          .otherwise(
            when(col("mccn") >= 0,
              expr("(2 * mccn * mccn * 1000000000000 + mccd) " +
                "div (2 * mccd)"))
              .otherwise(-expr("(2 * mccn * mccn * 1000000000000 " +
                "+ mccd) div (2 * mccd)")))
          .as("mcc_sq_e12"),
        when(col("mccd") === 0, lit("undefined"))
          .otherwise(when(atLeast(490000000000L), lit("strong"))
            .otherwise(when(atLeast(90000000000L), lit("moderate"))
              .otherwise(lit("weak")))).as("band"))
  }

  /** Friedman test (Friedman 1937, tie correction per Conover 1999) —
    * the ORDINAL k-treatment panel read next to [[cochranQ]]'s binary
    * one: n blocks (items) each scored by the same k treatments
    * (systems/judges), ranked WITHIN each block; do the treatments'
    * rank sums differ beyond chance?
    *
    * EXACT via doubled ranks: a cell's average rank with t ties and
    * `less` strictly-smaller cells in its block is (2·less + t + 1)/2,
    * so R2 = 2·rank() + t − 1 is always an INTEGER, and the
    * tie-corrected statistic collapses to one integer rational:
    *
    *   χ²_F = (k−1)·Σ_j (S2_j − n(k+1))² / (Σ R2² − n·k·(k+1)²)
    *
    * with S2_j the per-treatment doubled-rank sums (the /4 in both the
    * classical numerator and the tie-correction denominator cancels).
    * All-tied-everywhere panels have zero denominator → NULL, verdict
    * 'undefined'. Incomplete panels raise (both margins checked — the
    * cochranQ discipline); the χ²(k−1) verdict is one exact integer
    * cross-comparison against the shared published table (df ≤ 30).
    *
    * Scale: the rank window partitions per BLOCK (k ≤ 31 rows each —
    * never a global sort), then one treatment-sized rollup and a
    * one-row solve. Output: (n_blocks, k_treatments, df, chi2_e6,
    * verdict).
    */
  def friedmanTest(
      scores: DataFrame, blockCol: String, treatmentCol: String,
      scoreCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val cells = scores.select(
      when(col(blockCol).isNull,
        raise_error(lit("friedmanTest: null block")))
        .otherwise(col(blockCol).cast("string")).as("blk"),
      when(col(treatmentCol).isNull,
        raise_error(lit("friedmanTest: null treatment")))
        .otherwise(col(treatmentCol).cast("string")).as("trt"),
      when(col(scoreCol).isNull,
        raise_error(lit("friedmanTest: null score")))
        .otherwise(col(scoreCol).cast("long")).as("v"))
    val wRank = Window.partitionBy("blk").orderBy("v")
    val wTies = Window.partitionBy("blk", "v")
    val ranked = cells
      .withColumn("r2", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(wTies) - 1L)
      .localCheckpoint() // feeds per-treatment sums AND the R2² total
    val perTrt = ranked.groupBy("trt").agg(
      count(lit(1)).as("nb"), sum("r2").as("s2"))
    val blocks = ranked.groupBy("blk").agg(count(lit(1)).as("ki"))
    val bm = blocks.agg(count(lit(1)).as("n_blocks"),
      min("ki").as("k_min"), max("ki").as("k_max"))
    val tm = perTrt.agg(count(lit(1)).as("k_trts"),
      min("nb").as("n_min"), max("nb").as("n_max"))
    val tot = ranked.agg(sum(dc(col("r2")) * dc(col("r2"))).as("sr2"))
    val s = bm.crossJoin(broadcast(tm)).crossJoin(broadcast(tot))
      .withColumn("k",
        when(col("k_min") =!= col("k_max") ||
            col("n_min") =!= col("n_max") ||
            col("k_min") =!= col("k_trts") ||
            col("n_min") =!= col("n_blocks"),
          raise_error(lit("friedmanTest: incomplete panel — every " +
            "block needs every treatment exactly once (complete the " +
            "grid upstream)")))
          .when(col("k_trts") < 2 || col("k_trts") > 31,
            raise_error(lit("friedmanTest: k must be in [2, 31] (the " +
              "embedded chi-square table covers df <= 30)")))
          .when(col("n_blocks") > 1000000000L,
            raise_error(lit("friedmanTest: beyond the 1e9-block " +
              "decimal(38) exactness envelope")))
          .otherwise(col("k_trts")))
    val dev = perTrt.crossJoin(broadcast(s.select("n_blocks", "k")))
      .select((dc(col("s2")) -
        dc(col("n_blocks")) * dc(col("k") + 1)).as("d"))
      .agg(sum(col("d") * col("d")).as("sdev"))
    s.crossJoin(broadcast(dev))
      .withColumn("fn", (dc(col("k")) - dc(lit(1))) * col("sdev"))
      .withColumn("fd", col("sr2") - dc(col("n_blocks")) * dc(col("k")) *
        dc(col("k") + 1) * dc(col("k") + 1))
      .withColumn("df", (col("k") - 1).cast("int"))
      .select(col("n_blocks"), col("k").as("k_treatments"), col("df"),
        when(col("fd") === 0, lit(null).cast("long"))
          .otherwise(expr("(2 * fn * 1000000 + fd) div (2 * fd)"))
          .as("chi2_e6"),
        when(col("fd") === 0, lit("undefined"))
          .otherwise(when(dc(lit(1000000L)) * col("fn") >
              element_at(chi2Crit05E6, col("df")).cast(dec) * col("fd"),
            lit("different")).otherwise(lit("not_different")))
          .as("verdict"))
  }

  /** Nemenyi post-hoc test (Nemenyi 1963; the k-system formulation and
    * critical-value table of Demšar 2006, "Statistical comparisons of
    * classifiers over multiple data sets") — the pairwise follow-up a
    * significant [[friedmanTest]] demands: WHICH systems differ? Two
    * treatments differ when their mean-rank gap clears the critical
    * difference CD = q_α·√(k(k+1)/(12n)).
    *
    * EXACT: with doubled rank sums S2_j (the friedman machinery), the
    * comparison squares and cross-multiplies to pure integers —
    *
    *   |R̄_i − R̄_j| > CD  ⟺  3·(S2_i − S2_j)²·1e12 > n·q_e6²·k(k+1)
    *
    * — with q_e6 the published Demšar table value (α = 0.05, k ≤ 10)
    * on the 1e-6 grid; no square root ever evaluates. The mean-rank
    * gap ships as the half-away-from-zero lattice read
    * ⌈1e6·(S2_i−S2_j)/(2n)⌋. Incomplete panels raise (the cochranQ
    * margins); k outside [2, 10] raises (the published table's range —
    * wider panels want the Bonferroni–Dunn route). Output: one row per
    * ordered pair trt_a < trt_b (k(k−1)/2 rows):
    * (trt_a, trt_b, mean_rank_diff_e6, verdict).
    *
    * Scale: the friedman shape (per-block rank windows, k ≤ 10 rows of
    * rank sums) + a broadcast k×k self-join of the treatment dim.
    */
  def nemenyiPosthoc(
      scores: DataFrame, blockCol: String, treatmentCol: String,
      scoreCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val cells = scores.select(
      when(col(blockCol).isNull,
        raise_error(lit("nemenyiPosthoc: null block")))
        .otherwise(col(blockCol).cast("string")).as("blk"),
      when(col(treatmentCol).isNull,
        raise_error(lit("nemenyiPosthoc: null treatment")))
        .otherwise(col(treatmentCol).cast("string")).as("trt"),
      when(col(scoreCol).isNull,
        raise_error(lit("nemenyiPosthoc: null score")))
        .otherwise(col(scoreCol).cast("long")).as("v"))
    val wRank = Window.partitionBy("blk").orderBy("v")
    val wTies = Window.partitionBy("blk", "v")
    val ranked = cells
      .withColumn("r2", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(wTies) - 1L)
    val perTrt = ranked.groupBy("trt").agg(
      count(lit(1)).as("nb"), sum("r2").as("s2"))
      .localCheckpoint() // k rows; both sides of the pair join
    val blocks = ranked.groupBy("blk").agg(count(lit(1)).as("ki"))
    val bm = blocks.agg(count(lit(1)).as("n_blocks"),
      min("ki").as("k_min"), max("ki").as("k_max"))
    val tm = perTrt.agg(count(lit(1)).as("k_trts"),
      min("nb").as("n_min"), max("nb").as("n_max"))
    // Demšar 2006 Table 5(a): q_{0.05} for k = 2..10, 1e-6 grid
    val q05 = array(Seq(1960000L, 2343000L, 2569000L, 2728000L,
      2850000L, 2949000L, 3031000L, 3102000L, 3164000L)
      .map(v => lit(v)): _*)
    val s = bm.crossJoin(broadcast(tm))
      .withColumn("k",
        when(col("k_min") =!= col("k_max") ||
            col("n_min") =!= col("n_max") ||
            col("k_min") =!= col("k_trts") ||
            col("n_min") =!= col("n_blocks"),
          raise_error(lit("nemenyiPosthoc: incomplete panel — every " +
            "block needs every treatment exactly once (complete the " +
            "grid upstream)")))
          .when(col("k_trts") < 2 || col("k_trts") > 10,
            raise_error(lit("nemenyiPosthoc: k must be in [2, 10] " +
              "(the published q table's range)")))
          .otherwise(col("k_trts")))
      .withColumn("q_e6", element_at(q05, (col("k") - 1).cast("int")))
    val a = perTrt.select(col("trt").as("trt_a"), col("s2").as("s2a"))
    val b = perTrt.select(col("trt").as("trt_b"), col("s2").as("s2b"))
    a.crossJoin(broadcast(b)).filter(col("trt_a") < col("trt_b"))
      .crossJoin(broadcast(s.select("n_blocks", "k", "q_e6")))
      .withColumn("d2", dc(col("s2a")) - dc(col("s2b")))
      .select(col("trt_a"), col("trt_b"),
        when(col("d2") >= 0,
          expr("(2 * d2 * 1000000 + 2 * n_blocks) div (4 * n_blocks)"))
          .otherwise(-expr("(-2 * d2 * 1000000 + 2 * n_blocks) " +
            "div (4 * n_blocks)")).as("mean_rank_diff_e6"),
        when(dc(lit(3)) * col("d2") * col("d2") * dc(lit(1000000000000L)) >
            dc(col("n_blocks")) * dc(col("q_e6")) * dc(col("q_e6")) *
              dc(col("k")) * dc(col("k") + 1),
          lit("different")).otherwise(lit("not_different")).as("verdict"))
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952, tie correction per
    * Conover 1999) — the INDEPENDENT-groups counterpart of
    * [[friedmanTest]]'s blocked design, and the k-group extension of
    * [[mannWhitney]]: do k systems' score distributions differ, with
    * nothing paired? THE first read over a slice-metrics table (k
    * model variants × one eval metric each).
    *
    * Determinism contract (the cohensD lattice-composition
    * discipline): global doubled ranks come EXACTLY off the value
    * grid (R2(v) = 2·cumbefore(v) + t(v) + 1 — one integer per
    * distinct value, never a corpus-sized rank window), each group's
    * uncorrected term reads half-up onto the 1e-6 lattice,
    *
    *   u_e6 = Σ_j ⌈3e6·S2_j² / (n_j·N·(N+1))⌋ − 3e6·(N+1)
    *
    * and the tie correction composes as one more exact rational:
    * h_e6 = ⌈u_e6·(N³−N) / (N³−N − ΣT)⌋ with ΣT = Σ(t³−t) off the
    * same grid. All-tied input (ΣT = N³−N) → NULL, verdict
    * 'undefined'; the χ²(k−1) verdict is an exact integer
    * cross-comparison against the shared table (k ≤ 31). Output: one
    * row (n_total, k_groups, df, h_e6, verdict).
    *
    * Scale: one (group, value) count, one value-grid window, two
    * rollups, a one-row solve — the w21 count-grid posture; N ≤ 1e6
    * guards the decimal(38,0) envelope (3e6·S2² ≤ ~1.2e31 there).
    */
  def kruskalWallis(
      scores: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val cells = scores.select(
      when(col(groupCol).isNull,
        raise_error(lit("kruskalWallis: null group")))
        .otherwise(col(groupCol).cast("string")).as("g"),
      when(col(scoreCol).isNull,
        raise_error(lit("kruskalWallis: null score")))
        .otherwise(col(scoreCol).cast("long")).as("v"))
    val gv = cells.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // value-grid-sized; feeds ranks AND group sums
    val wBefore = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val vgrid = gv.groupBy("v").agg(sum("cnt").as("t"))
      .withColumn("cumb", coalesce(sum("t").over(wBefore), lit(0L)))
      .withColumn("r2", lit(2L) * col("cumb") + col("t") + 1L)
    val ties = vgrid.agg(
      coalesce(sum(dc(col("t")) * dc(col("t")) * dc(col("t")) -
        dc(col("t"))), dc(lit(0))).as("sum_t"),
      coalesce(sum("t"), lit(0L)).as("n_total"))
    val perGroup = gv.join(vgrid.select("v", "r2"), Seq("v"))
      .groupBy("g").agg(sum("cnt").as("nj"),
        sum(dc(col("cnt")) * dc(col("r2"))).as("s2"))
    val km = perGroup.agg(count(lit(1)).as("k_groups"))
    val staged = ties.crossJoin(broadcast(km))
      .withColumn("k_groups",
        when(col("k_groups") < 2 || col("k_groups") > 31,
          raise_error(lit("kruskalWallis: k must be in [2, 31] (the " +
            "embedded chi-square table covers df <= 30)")))
          .when(col("n_total") > 1000000L,
            raise_error(lit("kruskalWallis: beyond the 1e6-row " +
              "decimal(38) exactness envelope")))
          .otherwise(col("k_groups")))
    val terms = perGroup.crossJoin(broadcast(staged.select("n_total")))
      .select(expr("(2 * 3000000 * s2 * s2 + " +
        "CAST(nj AS DECIMAL(38,0)) * n_total * (n_total + 1)) div " +
        "(2 * CAST(nj AS DECIMAL(38,0)) * n_total * (n_total + 1))")
        .as("a"))
      .agg(sum("a").as("usum"))
    staged.crossJoin(broadcast(terms))
      .withColumn("u_e6", col("usum") -
        lit(3000000L) * (dc(col("n_total")) + dc(lit(1))))
      .withColumn("nnn", dc(col("n_total")) * dc(col("n_total")) *
        dc(col("n_total")) - dc(col("n_total")))
      .withColumn("cd", col("nnn") - col("sum_t"))
      .withColumn("df", (col("k_groups") - 1).cast("int"))
      .select(col("n_total"), col("k_groups"), col("df"),
        when(col("cd") === 0, lit(null).cast("long"))
          .otherwise(when(col("u_e6") >= 0,
            expr("(2 * u_e6 * nnn + cd) div (2 * cd)"))
            .otherwise(-expr("(-2 * u_e6 * nnn + cd) div (2 * cd)")))
          .as("h_e6"),
        when(col("cd") === 0, lit("undefined"))
          .otherwise(when(col("u_e6") * col("nnn") >
              element_at(chi2Crit05E6, col("df")).cast(dec) * col("cd"),
            lit("different")).otherwise(lit("not_different")))
          .as("verdict"))
  }

  /** Cohen's d (Cohen 1988) with the pooled-SD denominator — the
    * PARAMETRIC effect size next to [[cliffsDelta]]'s ordinal one:
    * how many pooled standard deviations separate the two groups'
    * means. The companion read to an [[abSignificance]] verdict on a
    * numeric metric ("significant, but HOW big in SD units?").
    *
    * Determinism contract (lattice-DEFINED, the ml3 discipline): the
    * mean difference and the pooled variance each read half-up onto
    * the 1e-6 lattice as exact integer rationals —
    *
    *   md_e6  = ±⌈1e6·|Sa·nb − Sb·na| / (na·nb)⌋
    *   sp2_e6 = ⌈1e6·(nb(na·Qa − Sa²) + na(nb·Qb − Sb²))
    *            / (na·nb·(N−2))⌋
    *
    * — and the signed SQUARE d_sq_e6 = ±⌈md_e6² / sp2_e6⌋ composes the
    * two (no square root ever evaluates; |d| = √(|d_sq_e6|/1e6)). The
    * published magnitude bands (0.2 small / 0.5 medium / 0.8 large)
    * compare d_sq_e6 against the squared edges 40000/250000/640000 —
    * exact on the lattice the estimator is defined on. Hedges'
    * small-sample factor ships as its own column
    * j_e6 = ⌈1e6·(4N−12)/(4N−9)⌋ (J² · d² would overflow the lattice;
    * the consumer composes knowingly). Identical-constant groups
    * (sp2_e6 = 0), a missing group, or N ≤ 2 → NULL d, magnitude
    * 'undefined'. Groups must literally be 'a'|'b' and scores within
    * |v| ≤ 1e4, groups within 1e6 rows (the decimal(38,0) envelope —
    * both raise loudly). Output: one row (n_a, n_b, mean_diff_e6,
    * pooled_var_e6, d_sq_e6, hedges_j_e6, magnitude).
    */
  def cohensD(
      scores: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val g = when(col(groupCol).isNull ||
        !col(groupCol).cast("string").isin("a", "b"),
      raise_error(concat(lit("cohensD: group must be a|b, got "),
        coalesce(col(groupCol).cast("string"), lit("NULL")))))
      .otherwise(col(groupCol).cast("string"))
    val v = when(col(scoreCol).isNull,
      raise_error(lit("cohensD: null score")))
      .when(abs(col(scoreCol).cast("long")) > 10000L,
        raise_error(lit("cohensD: |score| beyond the 1e4 lattice " +
          "envelope — rescale upstream")))
      .otherwise(col(scoreCol).cast("long"))
    val sums = scores.select(g.as("g"), v.as("v"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(dc(col("v")) * dc(col("v"))).as("q"))
      .agg(
        coalesce(sum(when(col("g") === "a", col("n"))), lit(0L)).as("n_a"),
        coalesce(sum(when(col("g") === "b", col("n"))), lit(0L)).as("n_b"),
        coalesce(sum(when(col("g") === "a", col("s"))), lit(0L)).as("sa"),
        coalesce(sum(when(col("g") === "b", col("s"))), lit(0L)).as("sb"),
        coalesce(sum(when(col("g") === "a", col("q"))), dc(lit(0))).as("qa"),
        coalesce(sum(when(col("g") === "b", col("q"))), dc(lit(0))).as("qb"))
      .select(
        when(greatest(col("n_a"), col("n_b")) > 1000000L,
          raise_error(lit("cohensD: beyond the 1e6-row decimal(38) " +
            "exactness envelope"))).otherwise(col("n_a")).as("n_a"),
        col("n_b"), col("sa"), col("sb"), col("qa"), col("qb"))
    val defined = col("n_a") > 0 && col("n_b") > 0 &&
      col("n_a") + col("n_b") > 2
    val mdNum = dc(col("sa")) * dc(col("n_b")) -
      dc(col("sb")) * dc(col("n_a"))
    val mdDen = dc(col("n_a")) * dc(col("n_b"))
    val spNum = dc(col("n_b")) *
      (dc(col("n_a")) * col("qa") - dc(col("sa")) * dc(col("sa"))) +
      dc(col("n_a")) *
        (dc(col("n_b")) * col("qb") - dc(col("sb")) * dc(col("sb")))
    val spDen = mdDen * (dc(col("n_a")) + dc(col("n_b")) - dc(lit(2)))
    val staged = sums
      .withColumn("md_e6",
        when(!defined, lit(null).cast("long"))
          .otherwise(when(mdNum >= 0,
            expr("(2 * (CAST(sa AS DECIMAL(38,0)) * n_b - " +
              "CAST(sb AS DECIMAL(38,0)) * n_a) * 1000000 + " +
              "CAST(n_a AS DECIMAL(38,0)) * n_b) div " +
              "(2 * CAST(n_a AS DECIMAL(38,0)) * n_b)"))
            .otherwise(-expr("(2 * (CAST(sb AS DECIMAL(38,0)) * n_a - " +
              "CAST(sa AS DECIMAL(38,0)) * n_b) * 1000000 + " +
              "CAST(n_a AS DECIMAL(38,0)) * n_b) div " +
              "(2 * CAST(n_a AS DECIMAL(38,0)) * n_b)"))))
      .withColumn("spn", when(!defined, lit(null).cast(dec))
        .otherwise(spNum))
      .withColumn("spd", when(!defined, lit(null).cast(dec))
        .otherwise(spDen))
      .withColumn("sp2_e6",
        when(!defined, lit(null).cast("long"))
          .otherwise(expr("(2 * spn * 1000000 + spd) div (2 * spd)")))
    val dDefined = defined && col("sp2_e6") > 0
    def band(sqE6: Long) =
      abs(col("d_sq_e6")) >= sqE6
    staged
      .withColumn("d_sq_e6",
        when(!dDefined, lit(null).cast("long"))
          .otherwise(when(col("md_e6") >= 0,
            expr("(2 * md_e6 * md_e6 + sp2_e6) div (2 * sp2_e6)"))
            .otherwise(-expr("(2 * md_e6 * md_e6 + sp2_e6) " +
              "div (2 * sp2_e6)"))))
      .select(col("n_a"), col("n_b"), col("md_e6").as("mean_diff_e6"),
        col("sp2_e6").as("pooled_var_e6"), col("d_sq_e6"),
        when(!defined, lit(null).cast("long"))
          .otherwise(expr("(2 * (4 * (n_a + n_b) - 12) * 1000000 + " +
            "(4 * (n_a + n_b) - 9)) div (2 * (4 * (n_a + n_b) - 9))"))
          .as("hedges_j_e6"),
        when(!dDefined, lit("undefined"))
          .otherwise(when(band(640000L), lit("large"))
            .otherwise(when(band(250000L), lit("medium"))
              .otherwise(when(band(40000L), lit("small"))
                .otherwise(lit("negligible"))))).as("magnitude"))
  }

  /** Exact best decision stump — the one-split CART root (Breiman et
    * al. 1984) over integer features: for every (feature, threshold)
    * split `x ≤ v`, the Gini-weighted purity

    *   score = Σ_c L_c²/n_L + Σ_c R_c²/n_R
    *
    * (maximizing it ⟺ minimizing weighted Gini impurity), maximized
    * over ALL distinct observed thresholds of ALL features. THE
    * interpretable baseline a quality-classifier eval needs next to
    * [[naiveBayes]]: "what single cut does best, and how good is it?"
    * — and the exact reference an approximate/histogram split finder
    * is judged against.
    *
    * EXACT end-to-end: class counts via one (feature, value, class)
    * rollup densified over the value×class grid, cumulative sums by
    * window, and the score read half-up onto the 1e-9 lattice as one
    * integer rational — score_e9 = ⌈1e9·(ssl·n_R + ssr·n_L) /
    * (n_L·n_R·N)⌋. The winner is the lattice-max with the
    * deterministic (feature asc, threshold asc) tie-break; per-side
    * majority labels break ties label-asc. The parent's same-lattice
    * purity Σ_c T_c²/N² ships alongside, so gain = score − parent
    * reads exactly. Splits with an empty side are not splits and are
    * excluded; a single-class input still answers (score = parent =
    * 1e9, gain 0).
    *
    * Scale: count rollups are map-side-combined; the densified grid
    * and its windows are (distinct values × classes)-sized per feature
    * — the kendallTauA value-grid envelope, never corpus-sized. Null
    * features/labels raise. Output: one row (feature, threshold,
    * n_left, n_right, score_e9, parent_e9, left_label, right_label).
    */
  def decisionStump(
      df: DataFrame, featureCols: Seq[String], labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "decisionStump needs >= 1 feature")
    val dec = DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val lbl = when(col(labelCol).isNull,
      raise_error(lit("decisionStump: null label")))
      .otherwise(col(labelCol).cast("string"))
    val cells = df.select(lbl.as("cls"),
        explode(array(featureCols.map(f => struct(lit(f).as("feat"),
          when(col(f).isNull,
            raise_error(lit(s"decisionStump: null feature $f")))
            .otherwise(col(f).cast("long")).as("v"))): _*)).as("e"))
      .select(col("e.feat").as("feat"), col("e.v").as("v"), col("cls"))
    val counts = cells.groupBy("feat", "v", "cls")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // value-grid-sized; feeds grid, totals, N
    val values = counts.select("feat", "v").distinct()
    val classes = counts.select("cls").distinct()
    val totals = counts.groupBy("feat", "cls").agg(sum("n").as("t"))
    val nTot = counts.filter(col("feat") === featureCols.head)
      .agg(sum("n").as("nn"))
    // densify: every (feat, value) needs every class's cumulative
    // count, including classes absent at that value
    val grid = values.crossJoin(broadcast(classes))
      .join(counts, Seq("feat", "v", "cls"), "left")
      .select(col("feat"), col("v"), col("cls"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wCum = Window.partitionBy("feat", "cls").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("lc", sum("n").over(wCum))
      .join(totals, Seq("feat", "cls"))
      .localCheckpoint() // feeds the score scan AND the winner's labels
    val splits = cum.groupBy("feat", "v").agg(
        sum("lc").as("nl"),
        sum(dc(col("lc")) * dc(col("lc"))).as("ssl"),
        sum(col("t") - col("lc")).as("nr"),
        sum(dc(col("t") - col("lc")) * dc(col("t") - col("lc"))).as("ssr"))
      .filter(col("nr") > 0) // x <= max(v) is not a split
      .withColumn("sn", col("ssl") * dc(col("nr")) +
        col("ssr") * dc(col("nl")))
      .withColumn("sd", dc(col("nl")) * dc(col("nr")) *
        (dc(col("nl")) + dc(col("nr"))))
      .withColumn("score_e9",
        expr("(2 * sn * 1000000000 + sd) div (2 * sd)"))
    val wBest = Window.orderBy(col("score_e9").desc, col("feat").asc,
      col("v").asc)
    val best = splits
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("feat"), col("v"), col("nl"), col("nr"),
        col("score_e9"))
    val parent = totals.filter(col("feat") === featureCols.head)
      .agg(sum(dc(col("t")) * dc(col("t"))).as("pss"))
      .crossJoin(broadcast(nTot))
      .select(expr("(2 * pss * 1000000000 + " +
        "CAST(nn AS DECIMAL(38,0)) * nn) div " +
        "(2 * CAST(nn AS DECIMAL(38,0)) * nn)").as("parent_e9"))
    // majority labels at the winning split, ties label-asc
    val wSide = Window.partitionBy("feat", "v")
    val winners = cum.join(best.select("feat", "v"), Seq("feat", "v"))
      .withColumn("lmaj", first(col("cls")).over(
        wSide.orderBy(col("lc").desc, col("cls").asc)))
      .withColumn("rmaj", first(col("cls")).over(
        wSide.orderBy((col("t") - col("lc")).desc, col("cls").asc)))
      .select(col("feat"), col("v"), col("lmaj"), col("rmaj"))
      .distinct()
    best.join(winners, Seq("feat", "v"))
      .crossJoin(broadcast(parent))
      .select(col("feat").as("feature"), col("v").as("threshold"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        col("score_e9"), col("parent_e9"),
        col("lmaj").as("left_label"), col("rmaj").as("right_label"))
  }
}
