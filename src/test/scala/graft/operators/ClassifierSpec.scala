package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain-Scala reference of the exact training procedure (same grid
    * rounding, same op order) — the in-engine oracle for equivalence.
    */
  private def refTrain(
      rows: Seq[(Double, Array[Double])], roundsN: Int, lr: Double,
      grid: Int): (Double, Array[Double]) = {
    val scale = math.pow(10.0, grid)
    val d = rows.head._2.length
    var bS = 0.0
    var wS = Array.fill(d)(0.0)
    for (_ <- 1 to roundsN) {
      // exact integer sums of floor-gridded contributions, any order
      var gb = 0L
      val g = Array.fill(d)(0L)
      rows.foreach { case (y, x) =>
        var z = bS / scale
        for (j <- 0 until d) z += wS(j) / scale * x(j)
        val p = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
        gb += math.floor((p - y) * scale + 0.5).toLong
        for (j <- 0 until d)
          g(j) += math.floor((p - y) * x(j) * scale + 0.5).toLong
      }
      val n = rows.size
      bS = math.floor(bS - lr * (gb.toDouble / n) + 0.5)
      wS = Array.tabulate(d)(j =>
        math.floor(wS(j) - lr * (g(j).toDouble / n) + 0.5))
    }
    (bS / scale, wS.map(_ / scale))
  }

  private val sep = Seq(
    // linearly separable-ish: y=1 iff x1 + x2 > 1
    (1.0, 0.9, 0.8), (1.0, 0.7, 0.9), (1.0, 1.2, 0.3), (1.0, 0.6, 0.7),
    (0.0, 0.1, 0.2), (0.0, 0.3, 0.1), (0.0, 0.2, 0.4), (0.0, 0.4, 0.3))

  test("training matches the plain-Scala reference bit for bit") {
    val df = sep.toDF("y", "x1", "x2")
    val m = Classifier.trainSoftsign(df, Seq("x1", "x2"), "y", rounds = 8)
    val (rb, rw) = refTrain(
      sep.map { case (y, a, b) => (y, Array(a, b)) }, 8, 0.5, 12)
    assert(m.bias == rb)
    assert(m.weights.toSeq == rw.toSeq)
  }

  test("bit-deterministic across partitioning layouts") {
    val df = sep.toDF("y", "x1", "x2")
    val m1 = Classifier.trainSoftsign(df.repartition(1), Seq("x1", "x2"), "y")
    val m7 = Classifier.trainSoftsign(
      df.repartition(7, col("x1")), Seq("x1", "x2"), "y")
    assert(m1.bias == m7.bias && m1.weights.toSeq == m7.weights.toSeq)
  }

  test("driver fast path ≡ distributed aggregate loop (cap 0)") {
    // the r13 sub-cap driver loop must reproduce the distributed rounds
    // bit for bit, including the BigInt gradient sums and null-row skips
    val df = (sep.map { case (y, a, b) => (Some(y), Some(a), Some(b)) } :+
        ((Some(1.0), Option.empty[Double], Some(0.5))))
      .toDF("y", "x1", "x2")
    val fast = Classifier.trainSoftsign(df, Seq("x1", "x2"), "y", rounds = 16)
    val dist = TestSpark.distributed {
      Classifier.trainSoftsign(df, Seq("x1", "x2"), "y", rounds = 16)
    }
    assert(fast.bias == dist.bias)
    assert(fast.weights.toSeq == dist.weights.toSeq)
  }

  test("driver gradient twin stays exact past Long range (grid 15)") {
    // |diff|·x·scale exceeds ~9.2e18 with grid 15 and features in the
    // tens of thousands. Spark's floor over a double returns LongType via
    // a raw (long)Math.floor cast that saturates at Long.MaxValue, so the
    // distributed path saturates too — `.toLong` is the exact twin and a
    // BigDecimal accumulator would diverge (measured: bias 3.51e-9 vs
    // 3.19e-9 on this fixture). This pins the saturation regime.
    val df = Seq(
      (1.0, 25000.0, -18000.0), (0.0, -22000.0, 30000.0),
      (1.0, 16000.0, 12000.0), (0.0, -28000.0, -9000.0))
      .toDF("y", "x1", "x2")
    val fast = Classifier.trainSoftsign(df, Seq("x1", "x2"), "y",
      rounds = 8, grid = 15)
    val dist = TestSpark.distributed {
      Classifier.trainSoftsign(df, Seq("x1", "x2"), "y", rounds = 8, grid = 15)
    }
    assert(fast.bias == dist.bias)
    assert(fast.weights.toSeq == dist.weights.toSeq)
  }

  test("learns the separable concept and scores accordingly") {
    val df = sep.toDF("y", "x1", "x2")
    val m = Classifier.trainSoftsign(df, Seq("x1", "x2"), "y", rounds = 40)
    // positive class pulls weights positive
    assert(m.weights.forall(_ > 0))
    val scored = Classifier.score(df, Seq("x1", "x2"), m)
      .select("y", "score", "pred").as[(Double, Double, Long)].collect()
    // separable data + enough rounds: every prediction correct
    assert(scored.forall { case (y, _, pred) => pred == y.toLong })
    // scores are probabilities
    assert(scored.forall { case (_, s, _) => s >= 0.0 && s <= 1.0 })
  }

  test("score boundary: pred flips exactly at z = 0") {
    val m = Classifier.LinearModel(bias = -1.0, weights = Array(1.0),
      lr = 0.5, grid = 12)
    val df = Seq((0.5, "below"), (1.0, "at"), (1.5, "above"))
      .toDF("x1", "tag")
    val got = Classifier.score(df, Seq("x1"), m)
      .select("tag", "score", "pred").as[(String, Double, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("below")._2 == 0L && got("at")._2 == 1L && got("above")._2 == 1L)
    assert(got("at")._1 == 0.5)
  }

  test("calibrationBins matches a hand-computed reliability table") {
    val scored = Seq(
      (0.05, 0L), (0.15, 0L), (0.15, 1L), (0.95, 1L), (1.0, 1L))
      .toDF("score", "y")
    val got = Classifier.calibrationBins(scored, "score", "y")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(0L) == ((1L, 0.05, 0.0, 0.05)))
    assert(got(1L) == ((2L, 0.15, 0.5, 0.35)))
    // score 1.0 clamps into the top bin with 0.95
    assert(got(9L) == ((2L, 0.975, 1.0, 0.025)))
    assert(got.size == 3)
  }

  test("aucBinary matches hand-computed values incl. ties and edges") {
    // perfect separation -> 1.0
    val perfect = Seq((0.9, 1L), (0.8, 1L), (0.2, 0L), (0.1, 0L))
      .toDF("score", "y")
    val p = Classifier.aucBinary(perfect, "score", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(p == ((2L, 2L, Some(1.0))))
    // worst case -> 0.0
    val worst = Seq((0.9, 0L), (0.1, 1L)).toDF("score", "y")
    assert(Classifier.aucBinary(worst, "score", "y")
      .as[(Long, Long, Option[Double])].collect().head._3 == Some(0.0))
    // all tied -> 0.5 exactly (average ranks)
    val tied = Seq((0.5, 1L), (0.5, 0L), (0.5, 1L), (0.5, 0L))
      .toDF("score", "y")
    assert(Classifier.aucBinary(tied, "score", "y")
      .as[(Long, Long, Option[Double])].collect().head._3 == Some(0.5))
    // hand case: scores 0.1(y0) 0.4(y1) 0.35(y0) 0.8(y1):
    // ranks asc: 0.1->1, 0.35->2, 0.4->3, 0.8->4; pos ranks 3+4=7
    // AUC = (7 - 2*3/2) / (2*2) = 4/4 = 1.0
    val h = Seq((0.1, 0L), (0.4, 1L), (0.35, 0L), (0.8, 1L)).toDF("score", "y")
    assert(Classifier.aucBinary(h, "score", "y")
      .as[(Long, Long, Option[Double])].collect().head._3 == Some(1.0))
    // one positive below one negative among two: AUC = 0.75 case
    // scores: 0.9(y1) 0.8(y0) 0.7(y1) 0.1(y0): pos ranks 4 + 2 = 6
    // AUC = (6 - 3) / (2*2) = 0.75
    val m = Seq((0.9, 1L), (0.8, 0L), (0.7, 1L), (0.1, 0L)).toDF("score", "y")
    assert(Classifier.aucBinary(m, "score", "y")
      .as[(Long, Long, Option[Double])].collect().head._3 == Some(0.75))
    // single-class input -> null auc
    val one = Seq((0.9, 1L), (0.1, 1L)).toDF("score", "y")
    val o = Classifier.aucBinary(one, "score", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(o._1 == 2L && o._2 == 0L && o._3.isEmpty)
  }

  test("aucBinary rejects null and NaN scores loudly") {
    val withNull = Seq((Some(0.9), 1L), (None, 0L)).toDF("score", "y")
    val ex = intercept[Exception] {
      Classifier.aucBinary(withNull, "score", "y").collect()
    }
    assert(ex.getMessage.contains("non-null"))
    val withNan = Seq((0.9, 1L), (Double.NaN, 0L)).toDF("score", "y")
    intercept[Exception] {
      Classifier.aucBinary(withNan, "score", "y").collect()
    }
  }

  test("aucBinary is independent of within-tie ordering and partitioning") {
    val rows = (0 until 200).map { i =>
      (math.floor(i / 20.0) / 10.0, (i % 3 == 0).compareTo(false).toLong)
    }
    val a = Classifier.aucBinary(rows.toDF("score", "y"), "score", "y")
      .as[(Long, Long, Option[Double])].collect().head
    val b = Classifier.aucBinary(
        scala.util.Random.shuffle(rows).toDF("score", "y").repartition(7),
        "score", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(a == b)
  }

  test("guards: empty features, bad rounds") {
    val df = sep.toDF("y", "x1", "x2")
    intercept[IllegalArgumentException] {
      Classifier.trainSoftsign(df, Nil, "y")
    }
    intercept[IllegalArgumentException] {
      Classifier.trainSoftsign(df, Seq("x1"), "y", rounds = 0)
    }
  }

  test("kappa matches the hand-computed 2x2 table") {
    // A=[1,1,0,0], B=[1,0,0,0]: po = 3/4, pe = .5*.25 + .5*.75 = .5,
    // kappa = (.75-.5)/(1-.5) = .5
    val got = Classifier.agreementKappa(
        Seq((1L, 1L), (1L, 0L), (0L, 0L), (0L, 0L)).toDF("a", "b"),
        "a", "b")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(got == ((4L, 2L, 0L, 1L, 1L, 750000L, 500000L, 500000L)))
  }

  test("kappa is 1 when both raters are constant and equal (pe = 1)") {
    val got = Classifier.agreementKappa(
        Seq((1L, 1L), (1L, 1L)).toDF("a", "b"), "a", "b")
      .select("pe_e6", "kappa_e6").as[(Long, Long)].collect().head
    assert(got == ((1000000L, 1000000L)))
  }

  test("confusion metrics match the hand-computed table") {
    // y=[1,1,1,0,0], pred=[1,0,1,1,0]: tp=2 fp=1 fn=1 tn=1
    // prec=2/3, rec=2/3, f1=2/3, acc=3/5
    val got = Classifier.confusionMetrics(
        Seq((1L, 1L), (1L, 0L), (1L, 1L), (0L, 1L), (0L, 0L))
          .toDF("y", "pred"), "y", "pred")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(got == ((5L, 2L, 1L, 1L, 1L, 666667L, 666667L, 666667L, 600000L)))
  }

  test("confusion metrics emit NULL on degenerate denominators") {
    // nothing predicted positive and nothing actually positive
    val got = Classifier.confusionMetrics(
        Seq((0L, 0L), (0L, 0L)).toDF("y", "pred"), "y", "pred")
      .select("precision_e6", "recall_e6", "f1_e6", "accuracy_e6")
      .as[(Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(got == ((None, None, None, Some(1000000L))))
  }

  test("sliced confusion metrics equal per-slice global runs; NULLs survive") {
    val rows = Seq(
      ("en", 1L, 1L), ("en", 1L, 0L), ("en", 0L, 1L), ("en", 0L, 0L),
      ("fr", 1L, 1L), ("fr", 1L, 1L), ("fr", 0L, 0L),
      ("de", 0L, 0L), ("de", 0L, 0L) // degenerate: no positives either way
    ).toDF("lang", "y", "pred")
    val sliced = Classifier.confusionMetricsBySlice(rows, "y", "pred", "lang")
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(sliced.keySet == Set("en", "fr", "de"))
    for (l <- Seq("en", "fr", "de")) {
      val global = Classifier.confusionMetrics(
        rows.filter($"lang" === l), "y", "pred").collect().head
      val s = sliced(l)
      for (c <- Seq("n", "tp", "fp", "fn", "tn", "precision_e6",
          "recall_e6", "f1_e6", "accuracy_e6"))
        assert(s.getAs[Any](c) == global.getAs[Any](c), s"$l.$c")
    }
    // the degenerate slice keeps its NULLs, not zeros
    assert(sliced("de").isNullAt(sliced("de").fieldIndex("precision_e6")))
  }

  test("scoreDiagnostics matches hand-computed Brier and log-loss") {
    // se6 = 900000/100000/500000/750000; Σdiff² = 8.325e11, n = 4
    // → brier_e6 = 208125; per-row 1e-9-latticed log terms sum to
    // 2290162574 → logloss_e6 = 572541 (python-checked floor chain)
    val df = Seq(
      (1L, 0.9), (0L, 0.1), (1L, 0.5), (0L, 0.75)).toDF("y", "score")
    val r = Classifier.scoreDiagnostics(df, "score", "y").collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("brier_e6") == 208125L)
    assert(r.getAs[Long]("logloss_e6") == 572541L)
  }

  test("scoreDiagnostics clamps degenerate scores for the log terms") {
    // score 0.0 with y=1: ln arg clamps to 1e-6 → term 13815510558 on
    // the 1e-9 lattice → logloss_e6 = 13815511; the Brier term stays
    // unclamped ((0 - 1e6)² → brier = 1)
    val df = Seq((1L, 0.0)).toDF("y", "score")
    val r = Classifier.scoreDiagnostics(df, "score", "y").collect().head
    assert(r.getAs[Long]("brier_e6") == 1000000L)
    assert(r.getAs[Long]("logloss_e6") == 13815511L)
  }

  test("kappa is 0 for independent raters with balanced marginals") {
    // each (a,b) cell once: po = .5, pe = .5 -> kappa = 0
    val got = Classifier.agreementKappa(
        Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)).toDF("a", "b"),
        "a", "b")
      .select("kappa_e6").as[Long].collect().head
    assert(got == 0L)
  }

  test("ece: hand-computed weighted gaps over decile bins") {
    // bin 0: {0.05/y=0}   gap 0.05 ; bin 1: {0.15/1, 0.15/0} gap 0.35 ;
    // bin 2: {0.25/1}     gap 0.75
    // ECE = (1*0.05 + 2*0.35 + 1*0.75) / 4 = 0.375 ; MCE = 0.75
    val scored = Seq((0.05, 0L), (0.15, 1L), (0.15, 0L), (0.25, 1L))
      .toDF("score", "y")
    val got = Classifier.ece(scored, "score", "y")
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((4L, 3L, 375000L, 750000L)))
  }

  test("knnClassify: majority vote, sim tie-break, label tie-break") {
    import org.apache.spark.sql.functions.col
    // labeled: axis-aligned clusters. label 1 along +x, label 2 along +y
    val labeled = Seq(
      (101L, Array(1.0f, 0.0f), 1), (102L, Array(0.99f, 0.1f), 1),
      (103L, Array(0.98f, 0.2f), 1),
      (104L, Array(0.0f, 1.0f), 2), (105L, Array(0.1f, 0.99f), 2))
      .toDF("vec_id", "embedding", "label")
    val unlabeled = Seq(
      (1L, Array(1.0f, 0.05f)), // clearly +x -> label 1, 3 votes at k=3
      (2L, Array(0.05f, 1.0f))  // clearly +y: k=3 -> 2 votes label 2
    ).toDF("vec_id", "embedding")
    val got = Classifier.knnClassify(unlabeled, labeled,
        "vec_id", "vec_id", "embedding", "label", k = 3)
      .select("id", "label", "votes")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1, 3L)))
    assert(got(2L) == ((2L, 2, 2L))) // 2 y-votes beat the 1 stray x-vote
    // vote tie (1-1 at k=2): higher summed lattice sim wins
    val tied = Classifier.knnClassify(
        Seq((3L, Array(0.1f, 1.0f))).toDF("vec_id", "embedding"),
        Seq((201L, Array(0.1f, 1.0f), 9), (202L, Array(0.2f, 1.0f), 4))
          .toDF("vec_id", "embedding", "label"),
        "vec_id", "vec_id", "embedding", "label", k = 2)
      .select("id", "label").as[(Long, Int)].collect().head
    assert(tied == ((3L, 9))) // exact match sim 1000 beats 995
  }

  test("cohenKappa: textbook 2x2 grid, degenerate and null cases") {
    // yes/yes 20, yes/no 5, no/yes 10, no/no 15: po = 0.7, pe = 0.5,
    // kappa = 0.4 exactly
    val rows =
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
        Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val got = Classifier.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(got == ((50L, 35L, 1250L, Some(0.4))))
    // both raters constant and equal: pe = 1, kappa undefined -> NULL
    val const = Classifier.cohenKappa(
        Seq.fill(7)(("x", "x")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(const == ((7L, 7L, 49L, None)))
    // systematic disagreement scores negative
    val neg = Classifier.cohenKappa(
        (Seq.fill(10)(("x", "y")) ++ Seq.fill(10)(("y", "x")))
          .toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(neg._4.contains(-1.0))
    // null labels fail loudly
    val e = intercept[Exception] {
      Classifier.cohenKappa(
        Seq(("x", Option.empty[String])).toDF("a", "b"), "a", "b")
        .collect()
    }
    assert(e.getMessage.contains("null rater")
      || e.getCause != null &&
        e.getCause.getMessage.contains("null rater"), e.getMessage)
  }

  test("cohenKappa reduces to the binary agreementKappa on 0/1 data") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map(_ => (rnd.nextInt(2), rnd.nextInt(2)))
    val multi = Classifier.cohenKappa(
        rows.map { case (a, b) => (a.toString, b.toString) }
          .toDF("a", "b"), "a", "b")
      .select("kappa").as[Double].collect().head
    val binary = Classifier.agreementKappa(rows.toDF("a", "b"), "a", "b")
      .select("kappa_e6").as[Long].collect().head
    // same statistic at two lattices: e6 floor-half-up of the round-6
    // value can differ by at most one e6 step
    assert(math.abs(math.floor(multi * 1e6 + 0.5).toLong - binary) <= 1,
      s"multi $multi vs binary_e6 $binary")
  }
  test("spearman: hand cases — monotone 1, reversed -1, constant NULL") {
    def rho(xs: Seq[(Double, Double)]): Option[Double] =
      Classifier.spearman(xs.toDF("x", "y"), "x", "y")
        .as[(Long, Option[Double])].head()._2
    assert(rho(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 21.0), (4.0, 40.0)))
      .contains(1.0))
    assert(rho(Seq((1.0, 40.0), (2.0, 30.0), (3.0, 20.0), (4.0, 10.0)))
      .contains(-1.0))
    assert(rho(Seq((5.0, 1.0), (5.0, 2.0), (5.0, 3.0))).isEmpty)
    // NaN scores fail loudly (engine twins order NaN differently)
    val err = intercept[Exception] {
      Classifier.spearman(
        Seq((Double.NaN, 1.0), (2.0, 2.0)).toDF("x", "y"), "x", "y")
        .collect()
    }
    assert(err.getMessage.contains("non-NaN")
      || err.getCause != null &&
        err.getCause.getMessage.contains("non-NaN"), err.getMessage)
  }

  test("spearman ≡ brute-force average-rank Pearson on tied random data") {
    val rnd = new scala.util.Random(37)
    // small value grids force heavy ties on both sides
    val xs = Seq.fill(200)((rnd.nextInt(8).toDouble, rnd.nextInt(6).toDouble))
    val (n, got) = Classifier.spearman(xs.toDF("x", "y"), "x", "y")
      .as[(Long, Option[Double])].head()
    assert(n == xs.length.toLong)
    // plain-Scala reference: 2*avgrank integers, BigInt Pearson sums
    def rank2(vs: Seq[Double]): Map[Double, Long] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val lo = sorted.indexOf(v) + 1
        val hi = sorted.lastIndexOf(v) + 1
        v -> (lo + hi).toLong // 2 * average 1-based rank
      }.toMap
    }
    val rx = rank2(xs.map(_._1)); val ry = rank2(xs.map(_._2))
    val pairs = xs.map { case (x, y) => (BigInt(rx(x)), BigInt(ry(y))) }
    val bn = BigInt(xs.length)
    val sxy = pairs.map { case (a, b) => a * b }.sum
    val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val dx = bn * sxx - sx * sx; val dy = bn * syy - sy * sy
    val want = BigDecimal((bn * sxy - sx * sy).toDouble /
        (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.contains(want), s"got $got want $want")
  }
  test("mcnemar: textbook discordant cells, undefined, null raise") {
    def verdict(rows: Seq[(Long, Long, Long)]): (Long, Long, Long, String) = {
      val r = Classifier.mcnemar(
        rows.toDF("pa", "pb", "y"), "pa", "pb", "y")
        .as[(Long, Long, Long, Long, Long, String)].head()
      (r._3, r._4, r._1, r._6)
    }
    // b = 15 a-only, c = 5 b-only: chi2 = (10-1)^2/20 = 4.05 > 3.8416
    val d1 = Seq.fill(15)((1L, 0L, 1L)) ++ Seq.fill(5)((0L, 1L, 1L)) ++
      Seq.fill(10)((1L, 1L, 1L))
    assert(verdict(d1) == ((15L, 5L, 30L, "different")))
    // b = 14, c = 6: chi2 = 49/20 = 2.45 — not significant
    val d2 = Seq.fill(14)((1L, 0L, 1L)) ++ Seq.fill(6)((0L, 1L, 1L))
    assert(verdict(d2)._4 == "not_different")
    // no discordant pairs: the test has no information
    assert(verdict(Seq((1L, 1L, 1L), (0L, 0L, 1L)))._4 == "undefined")
    // exact boundary: 625 m^2 == 2401 (b+c) is NOT strict-greater ->
    // not_different (chi2 == threshold exactly cannot happen on
    // integers since 2401(b+c) = 625 m^2 requires 625 | (b+c)·2401...
    // use b=50,c=1: m=48, 625·2304=1440000 vs 2401·51=122451 different)
    val d4 = Seq.fill(50)((1L, 0L, 1L)) ++ Seq.fill(1)((0L, 1L, 1L))
    assert(verdict(d4)._4 == "different")
    val err = intercept[Exception] {
      Classifier.mcnemar(
        Seq((Option.empty[String], Some("x"), Some("x")))
          .toDF("pa", "pb", "y"), "pa", "pb", "y").collect()
    }
    assert(err.getMessage.contains("null prediction")
      || err.getCause != null &&
        err.getCause.getMessage.contains("null prediction"), err.getMessage)
  }

  test("mcnemar ≡ plain-Scala chi-square casework on random pairs") {
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(300)(
      (rnd.nextInt(2).toLong, rnd.nextInt(2).toLong, rnd.nextInt(2).toLong))
    val got = Classifier.mcnemar(
        rows.toDF("pa", "pb", "y"), "pa", "pb", "y")
      .as[(Long, Long, Long, Long, Long, String)].head()
    val ra = rows.map(r => r._1 == r._3); val rb = rows.map(r => r._2 == r._3)
    val b = ra.zip(rb).count { case (x, y) => x && !y }.toLong
    val c = ra.zip(rb).count { case (x, y) => !x && y }.toLong
    assert(got._1 == rows.size.toLong && got._3 == b && got._4 == c)
    assert(got._2 == ra.zip(rb).count(p => p._1 && p._2).toLong)
    val want =
      if (b + c == 0) "undefined"
      else {
        val m = math.max(math.abs(b - c) - 1, 0L)
        if (BigInt(625) * m * m > BigInt(2401) * (b + c)) "different"
        else "not_different"
      }
    assert(got._6 == want)
  }
  test("regressionMetrics: perfect fit, hand residuals, envelope raises") {
    def run(rows: Seq[(Double, Double)]) =
      Classifier.regressionMetrics(rows.toDF("y", "p"), "y", "p")
        .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    // perfect prediction
    assert(run(Seq((1.0, 1.0), (2.5, 2.5), (-3.0, -3.0))) ==
      ((3L, Some(0.0), Some(0.0), Some(1.0))))
    // constant labels: zero variance -> R2 undefined
    assert(run(Seq((5.0, 4.0), (5.0, 6.0)))._4.isEmpty)
    // |value| past the documented envelope raises
    val e1 = intercept[Exception] {
      Classifier.regressionMetrics(
        Seq((1001.0, 0.0)).toDF("y", "p"), "y", "p").collect()
    }
    assert(e1.getMessage.contains("1000") || e1.getCause != null &&
      e1.getCause.getMessage.contains("1000"), e1.getMessage)
    val e2 = intercept[Exception] {
      Classifier.regressionMetrics(
        Seq((Double.NaN, 0.0)).toDF("y", "p"), "y", "p").collect()
    }
    assert(e2.getMessage.contains("null/NaN") || e2.getCause != null &&
      e2.getCause.getMessage.contains("null/NaN"), e2.getMessage)
  }

  test("regressionMetrics ≡ plain-Scala lattice reference on random data") {
    val rnd = new scala.util.Random(59)
    val rows = Seq.fill(250)(
      (rnd.nextDouble() * 200 - 100, rnd.nextDouble() * 200 - 100))
    val (n, mae, rmse, r2) =
      Classifier.regressionMetrics(rows.toDF("y", "p"), "y", "p")
        .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(n == rows.size.toLong)
    def lat(x: Double): BigInt = BigInt(math.floor(x * 1e6 + 0.5).toLong)
    val ds = rows.map { case (y, pr) => (lat(y), lat(y) - lat(pr)) }
    val bn = BigInt(rows.size)
    val sae = ds.map(_._2.abs).sum
    val sse = ds.map(d => d._2 * d._2).sum
    val sy = ds.map(_._1).sum
    val syy = ds.map(d => d._1 * d._1).sum
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mae.contains(r6(sae.toDouble / (rows.size.toDouble * 1e6))))
    assert(rmse.contains(r6(math.sqrt(sse.toDouble / rows.size) / 1e6)))
    val sstot = bn * syy - sy * sy
    assert(r2.contains(r6(1.0 - (bn * sse).toDouble / sstot.toDouble)))
  }
  test("krippendorffAlpha: perfect 1, two-rater full disagreement -0.5, degenerates") {
    def run(rows: Seq[(Long, String)]): (Long, Long, Option[Double]) =
      Classifier.krippendorffAlpha(rows.toDF("u", "v"), "u", "v")
        .as[(Long, Long, Option[Double])].head()
    // perfect within-unit agreement, mixed margins -> alpha = 1
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, "a"))
    assert(run(perfect) == ((3L, 6L, Some(1.0))))
    // classic two-rater maximal disagreement with balanced margins:
    // Do/De = [2/1 + 2/1]·3 / (16 - 8) / ... = 1.5 -> alpha = -0.5
    val worst = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "a"))
    assert(run(worst)._3.contains(-0.5))
    // all pairable ratings one value: zero expected disagreement -> NULL
    assert(run(Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x")))._3.isEmpty)
    // single-rating units are unpairable and drop entirely
    val withSingleton = perfect :+ ((9L, "z"))
    assert(run(withSingleton) == ((3L, 6L, Some(1.0))))
    // a 10-rating unit is past the lcm(1..8) envelope: loud failure
    val big = (1 to 10).map(i => (5L, if (i % 2 == 0) "a" else "b"))
    val err = intercept[Exception] { run(big) }
    assert(err.getMessage.contains("9 ratings") || err.getCause != null &&
      err.getCause.getMessage.contains("9 ratings"), err.getMessage)
  }

  test("krippendorffAlpha ≡ exact-arithmetic reference on ragged random panels") {
    val rnd = new scala.util.Random(73)
    // 60 units, 2-7 ratings each, 4 values, unit-correlated labels
    val rows = (0L until 60L).flatMap { u =>
      val m = 2 + rnd.nextInt(6)
      (0 until m).map { _ =>
        val v = if (rnd.nextInt(4) == 0) rnd.nextInt(4)
          else (u % 4).toInt
        (u, s"v$v")
      }
    }
    val (nu, nr, got) =
      Classifier.krippendorffAlpha(rows.toDF("u", "v"), "u", "v")
        .as[(Long, Long, Option[Double])].head()
    assert(nu == 60L && nr == rows.size.toLong)
    // reference: definitionally, with the same exact lcm-840 integers
    val byU = rows.groupBy(_._1).values.toSeq
    val dos = byU.map { us =>
      val m = us.size
      val ss = us.groupBy(_._2).values.map(g => BigInt(g.size) * g.size).sum
      (BigInt(m) * m - ss) * (840 / (m - 1))
    }.sum
    val n = BigInt(rows.size)
    val snc2 = rows.groupBy(_._2).values
      .map(g => BigInt(g.size) * g.size).sum
    val de2 = n * n - snc2
    val want = BigDecimal(1.0 - (dos * (n - 1)).toDouble /
        (BigInt(840) * de2).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.contains(want), s"got $got want $want")
  }

  test("mannWhitney: hand-computed midranks, U, ties and verdict") {
    import spark.implicits._
    // a: 1,2,3  b: 2,4,5,6 — pooled midranks 1, 2.5, 2.5, 4, 5, 6, 7
    // R_a = 7.5 -> 2R_a = 15; 2U_a = 15 - 3·4 = 3; ties: one pair -> 6
    // z² = 3D²K/(nab·Q) with D = -9, K = 42, Q = 8·42 - 6 = 330:
    // 2.577 < 3.8416 -> not significant; CLE = 1.5/12 -> 125000
    val got = Classifier.mannWhitney(
        Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
          ("b", 2.0), ("b", 4.0), ("b", 5.0), ("b", 6.0))
          .toDF("g", "x"), "g", "x")
      .as[(Long, Long, Long, Long, Option[Long], String)].collect().head
    assert(got == ((3L, 4L, 3L, 6L, Some(125000L), "not_significant")))
    // clearly separated samples flip the verdict
    val sep = Classifier.mannWhitney(
        ((1 to 20).map(i => ("a", i.toDouble)) ++
          (1 to 20).map(i => ("b", i + 100.0))).toDF("g", "x"), "g", "x")
      .as[(Long, Long, Long, Long, Option[Long], String)].collect().head
    assert(sep._6 == "significant" && sep._5 == Some(0L))
    // all-tied input has zero variance -> undefined
    val tied = Classifier.mannWhitney(
        Seq(("a", 1.0), ("b", 1.0), ("b", 1.0)).toDF("g", "x"), "g", "x")
      .as[(Long, Long, Long, Long, Option[Long], String)].collect().head
    assert(tied._6 == "undefined")
    // one-sided input -> undefined
    val one = Classifier.mannWhitney(
        Seq(("a", 1.0), ("a", 2.0)).toDF("g", "x"), "g", "x")
      .as[(Long, Long, Long, Long, Option[Long], String)].collect().head
    assert(one._6 == "undefined")
    val e1 = intercept[Exception] {
      Classifier.mannWhitney(
        Seq(("c", 1.0)).toDF("g", "x"), "g", "x").collect()
    }
    assert(e1.getMessage.contains("a|b")
      || e1.getCause != null && e1.getCause.getMessage.contains("a|b"))
    val e2 = intercept[Exception] {
      Classifier.mannWhitney(
        Seq(("a", Double.NaN)).toDF("g", "x"), "g", "x").collect()
    }
    assert(e2.getMessage.contains("non-NaN")
      || e2.getCause != null && e2.getCause.getMessage.contains("non-NaN"))
  }

  test("mannWhitney ≡ plain-Scala reference on random tied panels") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    (1 to 5).foreach { trial =>
      val rows = (0 until 40 + rnd.nextInt(60)).map { _ =>
        (if (rnd.nextBoolean()) "a" else "b",
          rnd.nextInt(12).toDouble + (if (rnd.nextBoolean()) 0.0 else 2.0))
      }
      val got = Classifier.mannWhitney(rows.toDF("g", "x"), "g", "x")
        .as[(Long, Long, Long, Long, Option[Long], String)].collect().head
      // reference: exact BigInt arithmetic, the textbook formulas
      val sorted = rows.map(_._2).sorted
      def rank2(v: Double): BigInt = {
        val before = sorted.count(_ < v)
        val cnt = sorted.count(_ == v)
        BigInt(2 * before + cnt + 1)
      }
      val na = rows.count(_._1 == "a")
      val nb = rows.size - na
      val r2a = rows.filter(_._1 == "a").map(r => rank2(r._2)).sum
      val u2 = r2a - BigInt(na) * (na + 1)
      val n = rows.size
      val tie = sorted.distinct.map { v =>
        val t = BigInt(sorted.count(_ == v)); t * t * t - t }.sum
      val k = BigInt(n) * (n - 1)
      val q = BigInt(n + 1) * k - tie
      val d = u2 - BigInt(na) * nb
      val sig = na > 0 && nb > 0 && n >= 2 && q > 0 &&
        BigInt(30000) * d * d * k > BigInt(38416) * na * nb * q
      val verdict =
        if (na == 0 || nb == 0 || n < 2 || q <= 0) "undefined"
        else if (sig) "significant" else "not_significant"
      val cle = (BigInt(2) * u2 * 1000000 + BigInt(2) * na * nb) /
        (BigInt(4) * na * nb)
      assert(got == ((na.toLong, nb.toLong, u2.toLong, tie.toLong,
        Some(cle.toLong), verdict)), s"trial $trial")
    }
  }

  test("bootstrapAccuracyCI ≡ an independent scalar bootstrap model") {
    import spark.implicits._
    val items = (0L until 50L).map(i => (i, if (i % 5 != 0) 1L else 0L))
    val got = Classifier.bootstrapAccuracyCI(
        items.toDF("doc_id", "correct"), "doc_id", "correct", reps = 40)
      .as[(Long, Long, Long, Long, Long)].collect().head
    // scalar model: same md5-derived uniforms, same CDF thresholds,
    // same lattices and order statistics
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u6(b: Int, id: Long) =
      java.lang.Long.parseLong(md5hex(s"boot:$b:$id").take(15), 16) %
        1000000L
    def w(u: Long) = {
      val i = Classifier.PoissonCdfE6.indexWhere(u < _)
      if (i < 0) 7L else i.toLong
    }
    val accs = (1 to 40).map { b =>
      val ws = items.map { case (id, y) => (w(u6(b, id)), y) }
      val nw = ws.map(_._1).sum
      val cw = ws.map { case (wt, y) => wt * y }.sum
      (2 * cw * 1000000 + nw) / (2 * nw)
    }.sorted
    val acc = (2 * items.map(_._2).sum * 1000000 + 50) / (2 * 50)
    assert(got == ((50L, acc, 40L, accs(0), accs(38))))
    assert(got._4 <= got._2 && got._2 <= got._5)
    // weights are a sane Poisson(1) sample: mean weight ~ 1
    val e = intercept[Exception] {
      Classifier.bootstrapAccuracyCI(
        Seq((1L, 2L)).toDF("doc_id", "correct"),
        "doc_id", "correct", reps = 40).collect()
    }
    assert(e.getMessage.contains("0/1")
      || e.getCause != null && e.getCause.getMessage.contains("0/1"),
      e.getMessage)
  }

  test("bootstrapDeltaCI ≡ scalar paired-bootstrap model; identical " +
      "systems read exactly zero") {
    import spark.implicits._
    val items = (0L until 60L).map(i =>
      (i, if (i % 5 != 0) 1L else 0L, if (i % 3 != 0) 1L else 0L))
    val got = Classifier.bootstrapDeltaCI(
        items.toDF("doc_id", "a", "b"), "doc_id", "a", "b", reps = 40)
      .as[(Long, Long, Long, Long, Long, Long, Long, String)]
      .collect().head
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u6(b: Int, id: Long) =
      java.lang.Long.parseLong(md5hex(s"boot:$b:$id").take(15), 16) %
        1000000L
    def w(u: Long) = {
      val i = Classifier.PoissonCdfE6.indexWhere(u < _)
      if (i < 0) 7L else i.toLong
    }
    val deltas = (1 to 40).map { b =>
      val ws = items.map { case (id, ya, yb) => (w(u6(b, id)), ya, yb) }
      val nw = ws.map(_._1).sum
      def lat(c: Long) = (2 * c * 1000000 + nw) / (2 * nw)
      lat(ws.map(r => r._1 * r._2).sum) - lat(ws.map(r => r._1 * r._3).sum)
    }.sorted
    val accA = (2 * items.map(_._2).sum * 1000000 + 60) / 120
    val accB = (2 * items.map(_._3).sum * 1000000 + 60) / 120
    val verdict = if (deltas(0) > 0) "a_better"
      else if (deltas(38) < 0) "b_better" else "not_significant"
    assert(got == ((60L, accA, accB, accA - accB, 40L,
      deltas(0), deltas(38), verdict)))
    // identical systems: every replicate delta is EXACTLY zero — the
    // pairing cancels item difficulty by construction
    val same = Classifier.bootstrapDeltaCI(
        items.map(r => (r._1, r._2, r._2)).toDF("doc_id", "a", "b"),
        "doc_id", "a", "b", reps = 40)
      .as[(Long, Long, Long, Long, Long, Long, Long, String)]
      .collect().head
    assert(same._4 == 0L && same._6 == 0L && same._7 == 0L &&
      same._8 == "not_significant")
  }

  test("naiveBayes: hand corpus matches an independent scalar model; " +
      "tie breaks to the smallest class") {
    import spark.implicits._
    val train = Seq(("spam", "buy pills"), ("spam", "buy now"),
      ("ham", "meeting now")).toDF("label", "text")
    val apply_ = Seq((1L, "buy pills now"), (2L, "meeting meeting"))
      .toDF("doc_id", "text")
    val got = Classifier.naiveBayes(train, apply_, "doc_id", "text", "label")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // independent scalar model (same floor-lattice trees)
    def lp(tf: Long, denom: Long) =
      math.floor(math.log((tf + 1).toDouble / denom.toDouble) * 1e6).toLong
    def prior(dc: Long, d: Long) =
      math.floor(math.log(dc.toDouble / d.toDouble) * 1e6).toLong
    def dflt(denom: Long) =
      math.floor(math.log(1.0 / denom.toDouble) * 1e6).toLong
    // V=4; spam: N=4 denom=8; ham: N=2 denom=6
    val spam1 = prior(2, 3) + lp(2, 8) + lp(1, 8) + lp(1, 8) // buy pills now
    val ham1 = prior(1, 3) + dflt(6) + dflt(6) + lp(1, 6)
    assert(got(1L) == (("spam", math.max(spam1, ham1))) && spam1 > ham1)
    val spam2 = prior(2, 3) + 2 * dflt(8)
    val ham2 = prior(1, 3) + 2 * lp(1, 6)
    assert(got(2L) == (("ham", math.max(spam2, ham2))) && ham2 > spam2)
    // perfectly symmetric classes tie → lexicographically smallest
    val tied = Classifier.naiveBayes(
      Seq(("b", "x"), ("a", "x")).toDF("label", "text"),
      Seq((9L, "x")).toDF("doc_id", "text"), "doc_id", "text", "label")
      .as[(Long, String, Long)].collect()
    assert(tied.head._2 == "a")
    // an empty-string doc still tokenizes to the single empty token
    // (split semantics), scores via the unseen default and gets the
    // prior-favored class — total, never a dropped row
    val empty = Classifier.naiveBayes(train,
        Seq((3L, "")).toDF("doc_id", "text"), "doc_id", "text", "label")
      .as[(Long, String, Long)].collect()
    assert(empty.length == 1 && empty.head._2 == "spam") // prior 2/3
  }

  test("kendallTauA: hand concordance, ties count toward neither, " +
      "sign split; BigInt O(n²) parity on random pairs") {
    import spark.implicits._
    val mono = Classifier.kendallTauA(
        Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(mono == ((3L, 3L, 0L, 0L, Some(1000000L))))
    val anti = Classifier.kendallTauA(
        Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(anti == ((3L, 0L, 3L, 0L, Some(-1000000L))))
    // ties: (1,1)(1,2)(2,2) → one concordant, two tied → τ_a = 1/3
    val tied = Classifier.kendallTauA(
        Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(tied == ((3L, 1L, 0L, 2L, Some(333333L))))
    // a single row: τ undefined (NULL), counts still emitted
    val one = Classifier.kendallTauA(
        Seq((5L, 9L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(one == ((1L, 0L, 0L, 0L, None)))
    // random pairs ≡ direct O(n²) BigInt pair count
    val rnd = new scala.util.Random(131)
    val rows = (1 to 400).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val gotR = Classifier.kendallTauA(
        rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    var c = BigInt(0); var dscore = BigInt(0)
    for (i <- rows.indices; j <- (i + 1) until rows.size) {
      val s = (rows(i)._1 - rows(j)._1) * (rows(i)._2 - rows(j)._2)
      if (s > 0) c += 1 else if (s < 0) dscore += 1
    }
    val n0 = BigInt(400) * 399 / 2
    val tau =
      if (c >= dscore) (2 * (c - dscore) * 1000000 + n0) / (2 * n0)
      else -((2 * (dscore - c) * 1000000 + n0) / (2 * n0))
    assert(gotR == ((400L, c.toLong, dscore.toLong,
      (n0 - c - dscore).toLong, Some(tau.toLong))))
  }

  test("linearRegressionFit: exact plane recovered, singular system, " +
      "envelope raise; BigInt Cramer parity on noisy data") {
    import spark.implicits._
    // exact plane y = 3 + 2·x1 − 5·x2 → betas come back exactly
    val exact = (0L until 20L).map { i =>
      val x1 = i % 7; val x2 = i % 4
      (3 + 2 * x1 - 5 * x2, x1, x2)
    }.toDF("y", "x1", "x2")
    val got = Classifier.linearRegressionFit(exact, "y", "x1", "x2")
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    assert(got == ((20L, Some(3000000L), Some(2000000L),
      Some(-5000000L), "defined")))
    // collinear features (x2 = 2·x1) → singular, NULL betas
    val sing = Classifier.linearRegressionFit(
        (0L until 10L).map(i => (i, i % 5, 2 * (i % 5)))
          .toDF("y", "x1", "x2"), "y", "x1", "x2")
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    assert(sing._2.isEmpty && sing._3.isEmpty && sing._4.isEmpty &&
      sing._5 == "singular")
    // a moment sum past 1e12 raises loudly instead of overflowing
    val e = intercept[Exception] {
      Classifier.linearRegressionFit(
        Seq((1L, 2000000L, 1L), (2L, 1900000L, 2L), (3L, 1L, 3L))
          .toDF("y", "x1", "x2"), "y", "x1", "x2").collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("exactness envelope"), e.getMessage)
    // noisy random data ≡ independent BigInt Cramer model
    val rnd = new scala.util.Random(107)
    val rows = (1 to 300).map { _ =>
      val x1 = rnd.nextInt(40).toLong; val x2 = rnd.nextInt(25).toLong
      (7 + 3 * x1 + 2 * x2 + rnd.nextInt(9) - 4, x1, x2)
    }
    val gotR = Classifier.linearRegressionFit(
        rows.toDF("y", "x1", "x2"), "y", "x1", "x2")
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    val n = BigInt(rows.size)
    def S(f: ((Long, Long, Long)) => BigInt) = rows.map(f).sum
    val (s1, s2) = (S(r => BigInt(r._2)), S(r => BigInt(r._3)))
    val (s11, s12, s22) = (S(r => BigInt(r._2) * r._2),
      S(r => BigInt(r._2) * r._3), S(r => BigInt(r._3) * r._3))
    val (sy, s1y, s2y) = (S(r => BigInt(r._1)),
      S(r => BigInt(r._2) * r._1), S(r => BigInt(r._3) * r._1))
    val d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val d0 = sy * (s11 * s22 - s12 * s12) -
      s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    val d1 = n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val d2 = n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    def lat(num: BigInt): Long = {
      val m = (2 * num.abs * 1000000 + d.abs) / (2 * d.abs)
      (if ((num >= 0) == (d >= 0)) m else -m).toLong
    }
    assert(gotR == ((300L, Some(lat(d0)), Some(lat(d1)), Some(lat(d2)),
      "defined")))
  }

  test("linearRegressionFit: lattice read survives |d0| ~ 1e36 inside " +
      "the moment envelope (the naive 2|dX|·1e6 read overflows " +
      "decimal(38,0)); ill-conditioned system raises") {
    import spark.implicits._
    // three-way pattern: x1 ⊥ x2 ⊥ y in the raw-moment sense (s12 =
    // s1y = s2y = 0), every guarded sum at ~8-9e11 (inside the 1e12
    // envelope) → d0 = sy·s11·s22 ≈ 6.5e35, where the pre-fix read
    // 2·|d0|·1e6 ≈ 1.3e42 blew past decimal(38,0)
    val rows = (0 until 30000).map { i =>
      i % 3 match {
        case 0 => (0L, 9000L, 0L)
        case 1 => (0L, 0L, 9000L)
        case _ => (99000000L, 0L, 0L)
      }
    }
    val n = BigInt(rows.size)
    def S(f: ((Long, Long, Long)) => BigInt) = rows.map(f).sum
    val (s1, s2) = (S(r => BigInt(r._2)), S(r => BigInt(r._3)))
    val (s11, s12, s22) = (S(r => BigInt(r._2) * r._2),
      S(r => BigInt(r._2) * r._3), S(r => BigInt(r._3) * r._3))
    val (sy, s1y, s2y) = (S(r => BigInt(r._1)),
      S(r => BigInt(r._2) * r._1), S(r => BigInt(r._3) * r._1))
    val d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val d0 = sy * (s11 * s22 - s12 * s12) -
      s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    val d1 = n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val d2 = n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    // the case must actually exercise the overflow regime
    assert(d0.abs > BigInt(10).pow(32) &&
      2 * d0.abs * 1000000 > BigInt(10).pow(38))
    assert(d1.abs > BigInt(10).pow(31)) // negative-sign big numerator
    def lat(num: BigInt): Long = {
      val m = (2 * num.abs * 1000000 + d.abs) / (2 * d.abs)
      (if ((num >= 0) == (d >= 0)) m else -m).toLong
    }
    val got = Classifier.linearRegressionFit(
        rows.toDF("y", "x1", "x2"), "y", "x1", "x2")
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    assert(got == ((30000L, Some(lat(d0)), Some(lat(d1)),
      Some(lat(d2)), "defined")))
    // near-singular with a large y: |beta| ≈ 1.8e12 > the ~9e11
    // conditioning bound → loud raise, never a garbage lattice value
    val e = intercept[Exception] {
      Classifier.linearRegressionFit(
        Seq((900000000000L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 4L))
          .toDF("y", "x1", "x2"), "y", "x1", "x2").collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("ill-conditioned"), e.getMessage)
  }

  test("fleissKappa: hand rational, sign split, undefined unanimity, " +
      "unequal raters raise; BigInt parity on random panels") {
    import spark.implicits._
    // i1 xx, i2 xy, i3 yy: A=10, B=18, Nn=6 → κ = 36/108 = 1/3
    val got = Classifier.fleissKappa(
        Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "y"), (3L, "y"),
          (3L, "y")).toDF("item", "cat"), "item", "cat")
      .as[(Long, Long, Long, Option[Long], String)].collect().head
    assert(got == ((3L, 2L, 2L, Some(333333L), "defined")))
    // perfectly split raters → κ = −1 (the sign-split read)
    val neg = Classifier.fleissKappa(
        Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"))
          .toDF("item", "cat"), "item", "cat")
      .as[(Long, Long, Long, Option[Long], String)].collect().head
    assert(neg == ((2L, 2L, 2L, Some(-1000000L), "defined")))
    // global unanimity → P_e = 1, κ undefined (NULL, loud verdict)
    val und = Classifier.fleissKappa(
        Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x"))
          .toDF("item", "cat"), "item", "cat")
      .as[(Long, Long, Long, Option[Long], String)].collect().head
    assert(und == ((2L, 2L, 1L, None, "undefined")))
    // unequal rater counts raise loudly
    val e = intercept[Exception] {
      Classifier.fleissKappa(
        Seq((1L, "x"), (1L, "x"), (2L, "x")).toDF("item", "cat"),
        "item", "cat").collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("unequal ratings"), e.getMessage)
    // random 4-rater panels ≡ independent BigInt model
    val rnd = new scala.util.Random(83)
    val ratings = for (i <- 1 to 60; _ <- 1 to 4)
      yield (i.toLong, s"c${rnd.nextInt(3)}")
    val gotR = Classifier.fleissKappa(
        ratings.toDF("item", "cat"), "item", "cat")
      .as[(Long, Long, Long, Option[Long], String)].collect().head
    val nij = ratings.groupBy(identity).map { case ((i, c), v) =>
      (i, c, BigInt(v.size)) }
    val nI = BigInt(60); val nR = BigInt(4)
    val a = nij.map(x => x._3 * x._3).sum
    val b = nij.groupBy(_._2).map { case (_, v) =>
      val cj = v.map(_._3).sum; cj * cj }.sum
    val nn = nI * nR
    val num = (a - nn) * nn * nn - nn * (nR - 1) * b
    val den = nn * (nR - 1) * (nn * nn - b)
    val want = if (num >= 0) (2 * num * 1000000 + den) / (2 * den)
      else -((-2 * num * 1000000 + den) / (2 * den))
    assert(gotR == ((60L, 4L, 3L, Some(want.toLong), "defined")))
  }

  test("wilcoxonSignedRank: hand doubled ranks, tie correction, zero " +
      "drop, verdicts; BigInt parity on random pairs") {
    import spark.implicits._
    // d = {2, 0(drop), −2, 5, 4, −1}: W₊ ranks {2.5, 4, 5} → 2W₊=23,
    // ΣT=6, D=8, σ'=654 → 30000·64 < 9604·654: not significant
    val got = Classifier.wilcoxonSignedRank(
        Seq((1L, 5L, 3L), (2L, 4L, 4L), (3L, 3L, 5L), (4L, 6L, 1L),
          (5L, 7L, 3L), (6L, 2L, 3L)).toDF("doc_id", "a", "b"),
        "doc_id", "a", "b")
      .as[(Long, Long, Long, Long, String)].collect().head
    assert(got == ((5L, 23L, 7L, 6L, "not_significant")))
    // ten one-sided distinct differences → z ≈ 2.80: significant
    val sig = Classifier.wilcoxonSignedRank(
        (1L to 10L).map(i => (i, 10L + i, 10L - i))
          .toDF("doc_id", "a", "b"), "doc_id", "a", "b")
      .as[(Long, Long, Long, Long, String)].collect().head
    assert(sig == ((10L, 110L, 0L, 0L, "significant")))
    // all-zero differences → n = 0: undefined
    val und = Classifier.wilcoxonSignedRank(
        Seq((1L, 2L, 2L), (2L, 9L, 9L)).toDF("doc_id", "a", "b"),
        "doc_id", "a", "b")
      .as[(Long, Long, Long, Long, String)].collect().head
    assert(und == ((0L, 0L, 0L, 0L, "undefined")))
    // random pairs ≡ independent sort-based BigInt model
    val rnd = new scala.util.Random(89)
    val pairs = (1L to 300L).map(i =>
      (i, rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val gotR = Classifier.wilcoxonSignedRank(
        pairs.toDF("doc_id", "a", "b"), "doc_id", "a", "b")
      .as[(Long, Long, Long, Long, String)].collect().head
    val ds = pairs.map(p => p._2 - p._3).filter(_ != 0)
    val sorted = ds.map(math.abs).sorted
    def dblRank(ad: Long): Long = {
      val before = sorted.count(_ < ad)
      val ties = sorted.count(_ == ad)
      2L * before + ties + 1
    }
    val s2p = ds.filter(_ > 0).map(d => dblRank(math.abs(d))).sum
    val n = BigInt(ds.size)
    val tie = sorted.groupBy(identity).values
      .map(g => BigInt(g.size).pow(3) - g.size).sum
    val dd = BigInt(s2p) - n * (n + 1) / 2
    val sigma = 2 * n * (n + 1) * (2 * n + 1) - tie
    val verdict = if (n < 2 || sigma <= 0) "undefined"
      else if (30000 * dd * dd > 9604 * sigma) "significant"
      else "not_significant"
    assert(gotR == ((n.toLong, s2p,
      (n * (n + 1)).toLong - s2p, tie.toLong, verdict)))
  }

  test("naiveBayesTrain → naiveBayesScore emits exactly the facade's " +
      "integers (train-once/apply-everywhere split, registry-safe)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val labels = Seq("news", "code", "chat")
    val words = (0 until 40).map(i => s"w$i")
    val train = (1 to 90).map { i =>
      (labels(i % 3),
        Seq.fill(3 + rnd.nextInt(10))(words(rnd.nextInt(40))).mkString(" "))
    }.toDF("label", "text")
    val apply_ = (1L to 30L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(8))(words(rnd.nextInt(45) match {
        case n if n < 40 => n; case n => n - 5 })).mkString(" "))
    }.toDF("doc_id", "text")
    val facade = Classifier
      .naiveBayes(train, apply_, "doc_id", "text", "label")
      .as[(Long, String, Long)].collect().toSet
    val (stats, model) = Classifier.naiveBayesTrain(train, "text", "label")
    // checkpoint both, as the registry's publishTable does — the split
    // must survive the artifact boundary bit-identically
    val split = Classifier
      .naiveBayesScore(apply_, "doc_id", "text",
        stats.localCheckpoint(), model.localCheckpoint())
      .as[(Long, String, Long)].collect().toSet
    assert(split == facade && facade.size == 30)
  }

  test("naiveBayesScore: broadcast-pivot path ≡ join chain (cap 0) on sf0.001") {
    // The r14 single-exchange score (model pivoted per term, broadcast,
    // one groupBy(id), least(struct) argmax) must emit exactly the join
    // chain's integers — including the UTF8 tie-break — on the real
    // corpus with ml2's train/holdout split.
    import spark.implicits._
    val docs = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val holdout = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val (stats, model) = Classifier.naiveBayesTrain(train, "text", "source")
    val st = stats.localCheckpoint(); val mo = model.localCheckpoint()
    // a second stats table with a null-class row: the broadcast path
    // must answer like the join chain, not throw
    val withNullClass =
      st.union(st.limit(1).withColumn("c", lit(null).cast("string")))
    for (s <- Seq(st, withNullClass)) {
      def run() = Classifier
        .naiveBayesScore(holdout, "doc_id", "text", s, mo)
        .as[(Long, String, Long)].collect().toSet
      val fast = run()
      assert(fast.nonEmpty)
      assert(fast == TestSpark.distributed(run()))
    }
  }

  test("naiveBayes: null apply-side text raises (totality is loud, " +
      "not a silently missing prediction row)") {
    import spark.implicits._
    val train = Seq(("spam", "buy pills"), ("ham", "meeting now"))
      .toDF("label", "text")
    val e = intercept[Exception] {
      Classifier.naiveBayes(train,
        Seq((1L, "buy"), (2L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"),
        "doc_id", "text", "label").collect()
    }
    val m = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(m.contains("null apply text"), m)
  }

  test("multiclassReport: hand-checked per-class/micro/macro lattices") {
    import spark.implicits._
    val pairs = Seq.fill(3)(("a", "a")) ++ Seq(("a", "b")) ++
      Seq.fill(2)(("b", "a")) ++ Seq.fill(2)(("b", "b")) ++
      Seq(("c", "c"), ("c", "a"))
    val got = Classifier.multiclassReport(
        pairs.toDF("y", "p"), "y", "p")
      .as[(String, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8)))
      .toMap
    // a: tp 3, fp 3, fn 1 → P 1/2, R 3/4, F1 6/10
    assert(got("a") == ((4L, Some(3L), Some(3L), Some(1L),
      Some(500000L), Some(750000L), Some(600000L))))
    // b: tp 2, fp 1, fn 2 → P 2/3, R 1/2, F1 4/7 (half-up 571429)
    assert(got("b") == ((4L, Some(2L), Some(1L), Some(2L),
      Some(666667L), Some(500000L), Some(571429L))))
    // c: tp 1, fp 0, fn 1 → P 1, R 1/2, F1 2/3
    assert(got("c") == ((2L, Some(1L), Some(0L), Some(1L),
      Some(1000000L), Some(500000L), Some(666667L))))
    // micro = accuracy 6/10 in all three slots
    assert(got("__micro") == ((10L, Some(6L), Some(4L), Some(4L),
      Some(600000L), Some(600000L), Some(600000L))))
    // macro: P (500000+666667+1000000)/3, R (750000+500000+500000)/3,
    // F1 (600000+571429+666667)/3 — all half-up
    assert(got("__macro") == ((3L, None, None, None,
      Some(722222L), Some(583333L), Some(612699L))))
  }

  test("multiclassReport: never-predicted class has NULL precision, " +
      "F1 = 0; null labels raise") {
    import spark.implicits._
    val got = Classifier.multiclassReport(
        Seq(("d", "a"), ("a", "a")).toDF("y", "p"), "y", "p")
      .as[(String, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._6, r._7, r._8))).toMap
    assert(got("d") == ((1L, None, Some(0L), Some(0L))))
    assert(got("a") == ((1L, Some(500000L), Some(1000000L),
      Some(666667L))))
    // macro precision averages the DEFINED classes only (a alone)
    assert(got("__macro")._2 == Some(500000L))
    val e = intercept[Exception] {
      Classifier.multiclassReport(
        Seq((Some("a"), Option.empty[String])).toDF("y", "p"),
        "y", "p").collect()
    }
    assert(e.getMessage.contains("null pred")
      || e.getCause != null &&
        e.getCause.getMessage.contains("null pred"), e.getMessage)
  }
  test("cochranQ: hand rational and verdict, unanimity undefined, " +
      "incomplete panel raises; BigInt parity on random panels") {
    import spark.implicits._
    // 4 items x 3 judges: rows (1,1,0),(1,0,0),(1,1,1),(0,0,0)
    // c = (3,2,1), T = 6, Σr² = 4+1+9+0 = 14
    // Q = 2·(3·14 − 36)/(18 − 14) = 2·6/4 = 3 → not_different (crit 5.99)
    val hand = Seq(
      (1, "a", 1), (1, "b", 1), (1, "c", 0),
      (2, "a", 1), (2, "b", 0), (2, "c", 0),
      (3, "a", 1), (3, "b", 1), (3, "c", 1),
      (4, "a", 0), (4, "b", 0), (4, "c", 0))
      .toDF("item", "judge", "ok")
    val got = Classifier.cochranQ(hand, "item", "judge", "ok")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    assert(got == ((4L, 3L, 2, Some(3000000L), "not_different")))
    // unanimous rows only → denominator 0 → undefined
    val un = Classifier.cochranQ(
      Seq((1, "a", 1), (1, "b", 1), (2, "a", 0), (2, "b", 0))
        .toDF("item", "judge", "ok"), "item", "judge", "ok")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    assert(un._4.isEmpty && un._5 == "undefined")
    // a missing cell raises loudly
    val e = intercept[Exception] {
      Classifier.cochranQ(
        Seq((1, "a", 1), (1, "b", 1), (2, "a", 0))
          .toDF("item", "judge", "ok"), "item", "judge", "ok").collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("incomplete panel"), e.getMessage)
    // random complete panels ≡ independent BigInt model
    val rnd = new scala.util.Random(211)
    val k = 4; val items = 300
    val rows = for (i <- 0 until items; j <- 0 until k)
      yield (i, s"judge$j", if (rnd.nextInt(10) < 3 + j) 1 else 0)
    val gotR = Classifier.cochranQ(
        rows.toDF("item", "judge", "ok"), "item", "judge", "ok")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    val byItem = rows.groupBy(_._1).toSeq.map(_._2.map(_._3).sum)
    val byJudge = rows.groupBy(_._2).toSeq.map(_._2.map(_._3).sum)
    val t = BigInt(rows.map(_._3).sum)
    val sr2 = byItem.map(r => BigInt(r) * r).sum
    val sc2 = byJudge.map(c => BigInt(c) * c).sum
    val qn = BigInt(k - 1) * (k * sc2 - t * t)
    val qd = BigInt(k) * t - sr2
    val qe6 = (2 * qn * 1000000 + qd) / (2 * qd)
    val verdict = // χ²(3).95 = 7.814728
      if (1000000 * qn > BigInt(7814728) * qd) "different"
      else "not_different"
    assert(gotR == ((items.toLong, k.toLong, k - 1, Some(qe6.toLong),
      verdict)))
  }

  test("cliffsDelta: hand counts and bands; brute-force O(n²) parity " +
      "on random scores; empty side undefined; bad group raises") {
    import spark.implicits._
    // a = (3, 3), b = (1, 2): all 4 cross pairs a > b → δ = 1, large
    val hand = Classifier.cliffsDelta(
        Seq(("a", 3L), ("a", 3L), ("b", 1L), ("b", 2L))
          .toDF("g", "v"), "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().head
    assert(hand == ((2L, 2L, 4L, 0L, 0L, Some(1000000L), "large")))
    // empty b side → NULL δ, 'undefined'
    val emp = Classifier.cliffsDelta(
        Seq(("a", 1L)).toDF("g", "v"), "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().head
    assert(emp._6.isEmpty && emp._7 == "undefined")
    val e = intercept[Exception] {
      Classifier.cliffsDelta(Seq(("c", 1L)).toDF("g", "v"), "g", "v")
        .collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("group must be a|b"), e.getMessage)
    // random scores ≡ direct O(n²) BigInt pair count + band edges
    val rnd = new scala.util.Random(223)
    val as = Seq.fill(180)(rnd.nextInt(15).toLong)
    val bs = Seq.fill(140)(rnd.nextInt(15).toLong + 1)
    val gotR = Classifier.cliffsDelta(
        (as.map(("a", _)) ++ bs.map(("b", _))).toDF("g", "v"), "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().head
    var gt = BigInt(0); var lt = BigInt(0)
    for (x <- as; y <- bs) {
      if (x > y) gt += 1 else if (x < y) lt += 1
    }
    val nn = BigInt(as.size) * bs.size
    val diff = gt - lt
    val de6 =
      if (diff >= 0) (2 * diff * 1000000 + nn) / (2 * nn)
      else -((2 * (-diff) * 1000000 + nn) / (2 * nn))
    val mag =
      if (diff.abs * 1000 >= 474 * nn) "large"
      else if (diff.abs * 1000 >= 330 * nn) "medium"
      else if (diff.abs * 1000 >= 147 * nn) "small"
      else "negligible"
    assert(gotR == ((as.size.toLong, bs.size.toLong, gt.toLong,
      lt.toLong, (nn - gt - lt).toLong, Some(de6.toLong), mag)))
  }

  test("ridgeRegressionFit: lambda 0 IS the OLS fit; lambda shrinks " +
      "the feature betas; BigInt Cramer parity with shifted Gram") {
    import spark.implicits._
    val rnd = new scala.util.Random(229)
    val rows = (1 to 300).map { _ =>
      val x1 = rnd.nextInt(40).toLong; val x2 = rnd.nextInt(25).toLong
      (7 + 3 * x1 + 2 * x2 + rnd.nextInt(9) - 4, x1, x2)
    }
    val df = rows.toDF("y", "x1", "x2")
    val ols = Classifier.linearRegressionFit(df, "y", "x1", "x2")
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    val l0 = Classifier.ridgeRegressionFit(df, "y", "x1", "x2", 0L)
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    assert(l0 == ols)
    val ridge = Classifier
      .ridgeRegressionFit(df, "y", "x1", "x2", 50000L)
      .as[(Long, Option[Long], Option[Long], Option[Long], String)]
      .collect().head
    // L2 shrinks the penalized feature weights toward zero
    assert(math.abs(ridge._3.get) < math.abs(ols._3.get))
    assert(math.abs(ridge._4.get) < math.abs(ols._4.get))
    // BigInt Cramer with the λ-shifted Gram diagonal
    val lam = 50000L
    val n = BigInt(rows.size)
    def S(f: ((Long, Long, Long)) => BigInt) = rows.map(f).sum
    val (s1, s2) = (S(r => BigInt(r._2)), S(r => BigInt(r._3)))
    val s11 = S(r => BigInt(r._2) * r._2) + lam
    val s12 = S(r => BigInt(r._2) * r._3)
    val s22 = S(r => BigInt(r._3) * r._3) + lam
    val (sy, s1y, s2y) = (S(r => BigInt(r._1)),
      S(r => BigInt(r._2) * r._1), S(r => BigInt(r._3) * r._1))
    val d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val d0 = sy * (s11 * s22 - s12 * s12) -
      s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    val d1 = n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val d2 = n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    def lat(num: BigInt): Long = {
      val m = (2 * num.abs * 1000000 + d.abs) / (2 * d.abs)
      (if ((num >= 0) == (d >= 0)) m else -m).toLong
    }
    assert(ridge == ((300L, Some(lat(d0)), Some(lat(d1)),
      Some(lat(d2)), "defined")))
  }

  test("matthewsCorrelation: hand confusion, signed-square lattice, " +
      "zero-marginal undefined, null raise, BigInt parity") {
    import spark.implicits._
    // tp=4 tn=3 fp=2 fn=1: num=10, den=6·5·5·4=600, mcc²=1/6
    val hand = (Seq.fill(4)((true, true)) ++ Seq.fill(3)((false, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(1)((true, false)))
      .toDF("t", "p")
    val got = Classifier.matthewsCorrelation(hand, "t", "p")
      .as[(Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().head
    assert(got == ((10L, 4L, 3L, 2L, 1L, Some(166666666667L), "moderate")))
    // every prediction positive -> (tn+fn) marginal 0 -> undefined
    val degen = Seq((true, true), (false, true)).toDF("t", "p")
    val u = Classifier.matthewsCorrelation(degen, "t", "p")
      .as[(Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().head
    assert(u._6.isEmpty && u._7 == "undefined")
    val err = intercept[Exception] {
      Seq((Some(true), None: Option[Boolean])).toDF("t", "p")
        .transform(Classifier.matthewsCorrelation(_, "t", "p")).collect()
    }
    assert(err.getMessage.contains("null prediction") ||
      Option(err.getCause).exists(_.getMessage.contains("null prediction")))
    // BigInt parity on a random confusion
    val rnd = new scala.util.Random(31)
    val rows = (1 to 400).map(_ => (rnd.nextBoolean(), rnd.nextBoolean()))
    val g2 = Classifier.matthewsCorrelation(rows.toDF("t", "p"), "t", "p")
      .as[(Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().head
    val tp = BigInt(rows.count(r => r._1 && r._2))
    val tn = BigInt(rows.count(r => !r._1 && !r._2))
    val fp = BigInt(rows.count(r => !r._1 && r._2))
    val fn = BigInt(rows.count(r => r._1 && !r._2))
    val num = tp * tn - fp * fn
    val den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    val want =
      if (den == 0) None
      else {
        val m = (2 * num * num * BigInt(1000000000000L) + den) / (2 * den)
        Some((if (num >= 0) m else -m).toLong)
      }
    assert(g2._6 == want)
  }

  test("friedmanTest: textbook no-tie panel chi2=2; ties via doubled " +
      "ranks match the plain-Scala rational; incomplete panel raises") {
    import spark.implicits._
    // 3 blocks × 3 treatments, ranks (1,2,3),(1,2,3),(1,2,3):
    // chi2 = 12/(3·3·4)·(9+36+81) − 3·3·4 = 42 − 36 = 6
    val clean = (for (b <- 1 to 3; t <- 0 until 3)
      yield (s"b$b", s"s$t", (t + 1).toLong)).toDF("blk", "trt", "v")
    val g1 = Classifier.friedmanTest(clean, "blk", "trt", "v")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    // 6.0 clears the df=2 upper-0.05 quantile 5.991465 exactly
    assert(g1 == ((3L, 3L, 2, Some(6000000L), "different")))
    // random panel WITH ties: plain-Scala doubled-rank rational parity
    val rnd = new scala.util.Random(47)
    val k = 4
    val panel = (1 to 60).flatMap(b =>
      (0 until k).map(t => (s"b$b", s"s$t", rnd.nextInt(5).toLong)))
    val g2 = Classifier.friedmanTest(panel.toDF("blk", "trt", "v"),
        "blk", "trt", "v")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    val byBlock = panel.groupBy(_._1)
    val r2 = panel.map { case (b, t, v) =>
      val cells = byBlock(b).map(_._3)
      val less = cells.count(_ < v); val ties = cells.count(_ == v)
      (t, BigInt(2 * less + ties + 1))
    }
    val s2 = r2.groupBy(_._1).map { case (_, xs) => xs.map(_._2).sum }
    val n = BigInt(60)
    val sdev = s2.map(s => (s - n * (k + 1)) * (s - n * (k + 1))).sum
    val sr2 = r2.map(x => x._2 * x._2).sum
    val fn = BigInt(k - 1) * sdev
    val fd = sr2 - n * k * (k + 1) * (k + 1)
    val wantChi = (2 * fn * 1000000 + fd) / (2 * fd)
    assert(g2._1 == 60L && g2._2 == k.toLong && g2._4 == Some(wantChi.toLong))
    // all-tied panel: zero denominator -> undefined
    val flat = (for (b <- 1 to 4; t <- 0 until 3)
      yield (s"b$b", s"s$t", 7L)).toDF("blk", "trt", "v")
    val g3 = Classifier.friedmanTest(flat, "blk", "trt", "v")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    assert(g3._4.isEmpty && g3._5 == "undefined")
    val err = intercept[Exception] {
      Classifier.friedmanTest(
        clean.filter(!(col("blk") === "b2" && col("trt") === "s1")),
        "blk", "trt", "v").collect()
    }
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
    assert(chain(err).exists(c =>
      Option(c.getMessage).exists(_.contains("incomplete panel"))))
  }

  test("cohensD: hand groups d²=1.6 large; constant groups undefined; " +
      "score envelope raises; BigInt parity with signs") {
    import spark.implicits._
    val hand = Seq(("a", 2L), ("a", 4L), ("a", 6L),
      ("b", 1L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val g1 = Classifier.cohensD(hand, "g", "v")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], String)].collect().head
    assert(g1 == ((3L, 3L, Some(2000000L), Some(2500000L),
      Some(1600000L), Some(800000L), "large")))
    val const = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L))
      .toDF("g", "v")
    val g2 = Classifier.cohensD(const, "g", "v")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], String)].collect().head
    assert(g2._5.isEmpty && g2._7 == "undefined")
    val err = intercept[Exception] {
      Classifier.cohensD(Seq(("a", 20000L), ("b", 1L)).toDF("g", "v"),
        "g", "v").collect()
    }
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
    assert(chain(err).exists(c =>
      Option(c.getMessage).exists(_.contains("1e4 lattice"))))
    // BigInt parity, including a negative mean difference
    val rnd = new scala.util.Random(53)
    val rows = (1 to 500).map(i =>
      (if (i % 2 == 0) "a" else "b",
        (rnd.nextInt(2000) - (if (i % 2 == 0) 1000 else 400)).toLong))
    val g3 = Classifier.cohensD(rows.toDF("g", "v"), "g", "v")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], String)].collect().head
    val a = rows.filter(_._1 == "a").map(r => BigInt(r._2))
    val b = rows.filter(_._1 == "b").map(r => BigInt(r._2))
    val (na, nb) = (BigInt(a.size), BigInt(b.size))
    val (sa, sb) = (a.sum, b.sum)
    val (qa, qb) = (a.map(x => x * x).sum, b.map(x => x * x).sum)
    def latt(num: BigInt, den: BigInt): BigInt = {
      val m = (2 * num.abs * 1000000 + den) / (2 * den)
      if (num >= 0) m else -m
    }
    val md = latt(sa * nb - sb * na, na * nb)
    val sp2 = latt(nb * (na * qa - sa * sa) + na * (nb * qb - sb * sb),
      na * nb * (na + nb - 2))
    val dsq = {
      val m = (2 * md * md + sp2) / (2 * sp2)
      if (md >= 0) m else -m
    }
    assert(g3._3 == Some(md.toLong) && g3._4 == Some(sp2.toLong) &&
      g3._5 == Some(dsq.toLong))
  }

  test("decisionStump: perfect split scores 1e9; two-feature argmax; " +
      "deterministic tie-break; brute-force BigInt parity; null raise") {
    import spark.implicits._
    // x separates perfectly at 2; y is noise
    val hand = Seq((1L, 9L, "a"), (2L, 3L, "a"), (3L, 9L, "b"),
      (4L, 3L, "b")).toDF("x", "y", "cls")
    val g1 = Classifier.decisionStump(hand, Seq("x", "y"), "cls")
      .as[(String, Long, Long, Long, Long, Long, String, String)]
      .collect().head
    assert(g1 == (("x", 2L, 2L, 2L, 1000000000L, 500000000L, "a", "b")))
    // brute-force parity on a random table: every (feat, threshold)
    // scored as an exact rational, argmax with (score, feat, v) order
    val rnd = new scala.util.Random(61)
    val rows = (1 to 300).map(_ => (rnd.nextInt(12).toLong,
      rnd.nextInt(9).toLong, s"c${rnd.nextInt(3)}"))
    val got = Classifier.decisionStump(rows.toDF("f1", "f2", "cls"),
        Seq("f1", "f2"), "cls")
      .as[(String, Long, Long, Long, Long, Long, String, String)]
      .collect().head
    val n = rows.size
    val cands = for {
      (feat, fv) <- Seq(("f1", (r: (Long, Long, String)) => r._1),
        ("f2", (r: (Long, Long, String)) => r._2))
      v <- rows.map(fv).distinct.sorted
      left = rows.filter(r => fv(r) <= v)
      if left.size < n
    } yield {
      val right = rows.filterNot(r => fv(r) <= v)
      def ssq(xs: Seq[(Long, Long, String)]) =
        xs.groupBy(_._3).values.map(g => BigInt(g.size) * g.size).sum
      val (nl, nr) = (BigInt(left.size), BigInt(right.size))
      val score = (2 * (ssq(left) * nr + ssq(right) * nl) *
        BigInt(1000000000L) + nl * nr * n) / (2 * nl * nr * n)
      (feat, v, left, right, score)
    }
    val best = cands.minBy { case (f, v, _, _, s) => (-s, f, v) }
    def major(xs: Seq[(Long, Long, String)]): String =
      xs.groupBy(_._3).toSeq
        .minBy { case (c, g) => (-g.size, c) }._1
    assert(got == ((best._1, best._2, best._3.size.toLong,
      best._4.size.toLong, best._5.toLong,
      {
        val pss = rows.groupBy(_._3).values
          .map(g => BigInt(g.size) * g.size).sum
        ((2 * pss * BigInt(1000000000L) + BigInt(n) * n) /
          (2 * BigInt(n) * n)).toLong
      },
      major(best._3), major(best._4))))
    val err = intercept[Exception] {
      Classifier.decisionStump(
        Seq((Some(1L), "a"), (None: Option[Long], "b")).toDF("x", "cls"),
        Seq("x"), "cls").collect()
    }
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
    assert(chain(err).exists(c =>
      Option(c.getMessage).exists(_.contains("null feature"))))
  }

  test("kruskalWallis: textbook two-group H=3.857 rejects at df=1; " +
      "plain-Scala lattice parity with ties; all-tied undefined") {
    import spark.implicits._
    val clean = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val g1 = Classifier.kruskalWallis(clean, "g", "v")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    // H = 12/(6·7)·(36/3 + 225/3) − 21 = 27/7 ≈ 3.857143, composed
    // from the two half-up e6 group terms 3428571 + 21428571
    assert(g1 == ((6L, 2L, 1, Some(3857142L), "different")))
    // random grouped scores WITH ties ≡ the independent scalar model
    val rnd = new scala.util.Random(137)
    val rows = (1 to 400).map(_ =>
      (s"g${rnd.nextInt(5)}", rnd.nextInt(40).toLong))
    val g2 = Classifier.kruskalWallis(rows.toDF("g", "v"), "g", "v")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    val n = BigInt(rows.size)
    val byV = rows.groupBy(_._2)
    val r2 = byV.map { case (v, xs) =>
      val cumb = rows.count(_._2 < v)
      v -> BigInt(2 * cumb + xs.size + 1)
    }
    val sumT = byV.values.map(xs =>
      BigInt(xs.size) * xs.size * xs.size - xs.size).sum
    val usum = rows.groupBy(_._1).values.map { xs =>
      val s2 = xs.map(x => r2(x._2)).sum
      val nj = BigInt(xs.size)
      (2 * 3000000 * s2 * s2 + nj * n * (n + 1)) / (2 * nj * n * (n + 1))
    }.sum
    val u = usum - 3000000 * (n + 1)
    val nnn = n * n * n - n
    val cd = nnn - sumT
    val want = {
      val m = (2 * u.abs * nnn + cd) / (2 * cd)
      (if (u >= 0) m else -m).toLong
    }
    assert(g2._1 == 400L && g2._2 == 5L && g2._4 == Some(want))
    // all values equal: tie correction denominator hits zero
    val flat = Seq(("a", 9L), ("a", 9L), ("b", 9L)).toDF("g", "v")
    val g3 = Classifier.kruskalWallis(flat, "g", "v")
      .as[(Long, Long, Int, Option[Long], String)].collect().head
    assert(g3._4.isEmpty && g3._5 == "undefined")
  }

  test("nemenyiPosthoc: separated systems clear the Demšar CD, equal " +
      "ones don't; BigInt cross-comparison parity; k>10 raises") {
    import spark.implicits._
    // sysA always worst, sysB/sysC identical: A differs from both,
    // B/C don't differ (ranks per block: A=1, B=C tie at 2.5)
    val panel = (1 to 40).flatMap(b => Seq(
      (s"b$b", "sysA", 0L), (s"b$b", "sysB", 5L), (s"b$b", "sysC", 5L)))
      .toDF("blk", "trt", "v")
    val got = Classifier.nemenyiPosthoc(panel, "blk", "trt", "v")
      .as[(String, String, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // doubled ranks: A=2, B=C=5 → mean gap 1.5 exactly
    assert(got(("sysA", "sysB")) == ((-1500000L, "different")))
    assert(got(("sysA", "sysC")) == ((-1500000L, "different")))
    assert(got(("sysB", "sysC")) == ((0L, "not_different")))
    // CD at k=3, n=40: q=2.343, CD = 2.343·√(12/(12·40)) ≈ 0.370 —
    // BigInt cross-comparison on a borderline pair
    val rnd = new scala.util.Random(173)
    val panel2 = (1 to 40).flatMap(b => (0 until 3).map(j =>
      (s"b$b", s"s$j", rnd.nextInt(4).toLong + (if (j == 2) 1 else 0))))
      .toDF("blk", "trt", "v")
    val got2 = Classifier.nemenyiPosthoc(panel2, "blk", "trt", "v")
      .as[(String, String, Long, String)].collect()
    // independent doubled-rank model straight from the panel rows
    val rows = panel2.as[(String, String, Long)].collect()
    val byBlk = rows.groupBy(_._1)
    val s2 = rows.groupBy(_._2).map { case (t, xs) =>
      t -> xs.map { case (b, _, v) =>
        val cells = byBlk(b).map(_._3)
        BigInt(2 * cells.count(_ < v) + cells.count(_ == v) + 1)
      }.sum
    }
    val n = BigInt(40); val k = BigInt(3); val q = BigInt(2343000)
    got2.foreach { case (ta, tb, gap, verdict) =>
      val d = s2(ta) - s2(tb)
      val wantGap = {
        val m = (2 * d.abs * 1000000 + 2 * n) / (4 * n)
        (if (d >= 0) m else -m).toLong
      }
      val wantV =
        if (3 * d * d * BigInt(1000000000000L) > n * q * q * k * (k + 1))
          "different" else "not_different"
      assert((gap, verdict) == ((wantGap, wantV)), s"$ta vs $tb")
    }
    val err = intercept[Exception] {
      Classifier.nemenyiPosthoc(
        (1 to 4).flatMap(b => (0 until 11).map(j =>
          (s"b$b", s"s$j", j.toLong))).toDF("blk", "trt", "v"),
        "blk", "trt", "v").collect()
    }
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
    assert(chain(err).exists(c =>
      Option(c.getMessage).exists(_.contains("[2, 10]"))))
  }
}
