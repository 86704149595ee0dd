package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lists(a: Seq[(Long, Long, Long)], b: Seq[(Long, Long, Long)]) =
    Seq(a.toDF("q", "d", "r"), b.toDF("q", "d", "r"))

  test("rrfFuse matches the hand-computed RRF scores and order") {
    // list A: q1 -> (10 @1, 20 @2); list B: q1 -> (20 @1, 30 @2)
    val fused = Retrieval.rrfFuse(
        lists(Seq((1L, 10L, 1L), (1L, 20L, 2L)),
              Seq((1L, 20L, 1L), (1L, 30L, 2L))),
        "q", "d", "r", k0 = 60, topK = 10)
      .as[(Long, Long, Double, Long, Long)].collect()
      .sortBy(_._5)
    val want = Seq(
      // doc 20 in both lists: 1/62 + 1/61; docs 10/30 single-list
      (1L, 20L, sc.round9(1.0 / 62) + sc.round9(1.0 / 61), 2L, 1L),
      (1L, 10L, sc.round9(1.0 / 61), 1L, 2L),
      (1L, 30L, sc.round9(1.0 / 62), 1L, 3L))
    assert(fused.length == 3)
    fused.zip(want).foreach { case (got, w) =>
      assert(got._1 == w._1 && got._2 == w._2 && got._4 == w._4 &&
        got._5 == w._5, s"$got vs $w")
      assert(math.abs(got._3 - w._3) < 1e-12, s"score $got vs $w")
    }
  }

  test("rrfFuse breaks exact score ties on the document id") {
    // doc 6 @1 in A only, doc 5 @1 in B only: equal scores, 5 ranks first
    val fused = Retrieval.rrfFuse(
        lists(Seq((1L, 6L, 1L)), Seq((1L, 5L, 1L))),
        "q", "d", "r", k0 = 60, topK = 10)
      .as[(Long, Long, Double, Long, Long)].collect().sortBy(_._5)
    assert(fused.map(f => (f._2, f._5)).toSeq == Seq((5L, 1L), (6L, 2L)))
  }

  test("rrfFuse keeps queries independent and honors topK") {
    val a = (1L to 40L).map(d => (1L, d, d)) ++ (1L to 40L).map(d => (2L, d, 41L - d))
    val b = (1L to 40L).map(d => (1L, d, d))
    val fused = Retrieval.rrfFuse(lists(a, b), "q", "d", "r", topK = 5)
      .as[(Long, Long, Double, Long, Long)].collect()
    assert(fused.count(_._1 == 1L) == 5 && fused.count(_._1 == 2L) == 5)
    // q1: both lists agree doc 1 is best; q2: its list is reversed, and
    // the shared list pulls doc 40 (rank 1 in A-for-q2, rank 40 in B...
    // B has no q2 rows, so q2 is A alone: doc 40 first)
    assert(fused.find(f => f._1 == 1L && f._5 == 1L).get._2 == 1L)
    assert(fused.find(f => f._1 == 2L && f._5 == 1L).get._2 == 40L)
  }

  test("hardNegatives keeps the rank band minus positives, per query") {
    val ranked = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (2L, 11L, 1L), (2L, 20L, 2L), (2L, 21L, 3L))
      .toDF("q", "d", "r")
    // 11 is a positive for q1 only — q2's rank-1 doc 11 is NOT excluded
    // (positives are per-query), but its rank 1 is below the band anyway
    val pos = Seq((1L, 11L)).toDF("q", "d")
    val got = Retrieval.hardNegatives(ranked, pos, loRank = 2, hiRank = 3,
        qIdCol = "q", cIdCol = "d", rankCol = "r")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 12L, 3L), (2L, 20L, 2L), (2L, 21L, 3L)))
  }

  private object sc {
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("rankingMetrics matches a hand-computed MRR/DCG/nDCG example") {
    val disc = Retrieval.dcgDiscounts(3)
    // system: rank1 = doc20 (rel 2), rank2 = doc99 (unjudged),
    // rank3 = doc10 (rel 3); judged but unretrieved: doc30 (rel 1)
    val ranked = Seq((1L, 20L, 1), (1L, 99L, 2), (1L, 10L, 3))
      .toDF("q_id", "c_id", "rank")
    val judged = Seq((1L, 10L, 3), (1L, 20L, 2), (1L, 30L, 1))
      .toDF("q_id", "c_id", "rel")
    val got = Retrieval.rankingMetrics(ranked, judged, k = 3)
      .as[(Long, Double, Double, Double)].collect().head
    val dcg = 3.0 * disc(0) + 7.0 * disc(2)
    val idcg = 7.0 * disc(0) + 3.0 * disc(1) + 1.0 * disc(2)
    assert(got == ((1L, 1.0, r6(dcg), r6(dcg / idcg))))
  }

  test("rankingMetrics: no relevant hit -> mrr 0, dcg 0; unjudged query -> ndcg 0") {
    val ranked = Seq((1L, 99L, 1), (2L, 98L, 1)).toDF("q_id", "c_id", "rank")
    val judged = Seq((1L, 10L, 2)).toDF("q_id", "c_id", "rel") // q2 unjudged
    val got = Retrieval.rankingMetrics(ranked, judged, k = 3)
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((0.0, 0.0, 0.0)))
    assert(got(2L) == ((0.0, 0.0, 0.0)))
  }

  test("rankingMetrics: perfect head retrieval scores ndcg 1") {
    // ranked order = ideal order of the (3, 2) judgments -> nDCG exactly 1
    val ranked = Seq((5L, 1L, 1), (5L, 2L, 2)).toDF("q_id", "c_id", "rank")
    val judged = Seq((5L, 1L, 3), (5L, 2L, 2)).toDF("q_id", "c_id", "rel")
    val got = Retrieval.rankingMetrics(ranked, judged, k = 2)
      .as[(Long, Double, Double, Double)].collect().head
    assert(got._2 == 1.0 && got._4 == 1.0)
  }

  test("rankingMetrics collapses duplicate judgments to the max grade") {
    val ranked = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("q_id", "c_id", "rank")
    val dup = Seq((1L, 10L, 1), (1L, 10L, 3), (1L, 20L, 2))
      .toDF("q_id", "c_id", "rel") // doc 10 judged twice
    val clean = Seq((1L, 10L, 3), (1L, 20L, 2)).toDF("q_id", "c_id", "rel")
    val a = Retrieval.rankingMetrics(ranked, dup, k = 2)
      .as[(Long, Double, Double, Double)].collect().toSeq
    val b = Retrieval.rankingMetrics(ranked, clean, k = 2)
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(a == b)
    assert(a.head._4 == 1.0) // and that ideal == actual here
  }

  test("rankingMetrics: judged query with EMPTY retrieval emits an mrr=0/ndcg=0 row") {
    // The TREC convention, pinned by hand: query 7 has judgments but the
    // retriever returned NO rows for it (not even irrelevant ones) — it
    // must still appear in the output with zeros, or averaged metrics
    // overstate a retriever that answers few queries well. Hand-computed
    // expectation, independent of any oracle twin: q1 retrieves its only
    // relevant doc at rank 2 -> mrr 1/2, ndcg = disc(1)/disc(0); q7 ->
    // all zeros; output has exactly the two judged queries.
    val disc = Retrieval.dcgDiscounts(3)
    val ranked = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("q_id", "c_id", "rank")
    val judged = Seq((1L, 20L, 1), (7L, 30L, 2), (7L, 40L, 1))
      .toDF("q_id", "c_id", "rel")
    val got = Retrieval.rankingMetrics(ranked, judged, k = 3)
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 7L))
    assert(got(7L) == ((0.0, 0.0, 0.0))) // the zero-row convention
    assert(got(1L) == ((0.5, r6(1.0 * disc(1)), r6(disc(1) / disc(0)))))
  }

  test("rankingMetrics rejects non-1-based ranks loudly") {
    val ranked = Seq((1L, 10L, 0)).toDF("q_id", "c_id", "rank")
    val judged = Seq((1L, 10L, 2)).toDF("q_id", "c_id", "rel")
    val ex = intercept[Exception] {
      Retrieval.rankingMetrics(ranked, judged, k = 3).collect()
    }
    assert(ex.getMessage.contains("1-based"))
  }

  test("preferencePairs picks deterministic extremes with margin floor") {
    val scored = Seq(
      // prompt 1: clear margin 30; tie at the top (ids 11, 12 both 80)
      // -> chosen = 11 (smallest id among max)
      (1L, 11L, 80L), (1L, 12L, 80L), (1L, 13L, 50L),
      // prompt 2: tie at the bottom (21, 22 both 10) -> rejected = 22
      // (LARGEST id among min)
      (2L, 21L, 10L), (2L, 22L, 10L), (2L, 23L, 95L),
      // prompt 3: all tied -> margin 0, dropped by minMargin 5
      (3L, 31L, 40L), (3L, 32L, 40L),
      // prompt 4: single response -> no pair
      (4L, 41L, 99L),
      // prompt 5: margin 4 < 5 -> dropped
      (5L, 51L, 60L), (5L, 52L, 64L))
      .toDF("prompt_id", "resp_id", "score")
    val got = Retrieval.preferencePairs(
        scored, "prompt_id", "resp_id", "score", minMarginE6 = 5L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((11L, 13L, 30L)),
      2L -> ((23L, 22L, 85L))))
    // minMargin 0 keeps the all-tied prompt with chosen != rejected
    val loose = Retrieval.preferencePairs(
        scored, "prompt_id", "resp_id", "score", minMarginE6 = 0L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(loose(3L) == ((31L, 32L, 0L)))
    assert(loose(5L) == ((52L, 51L, 4L)))
    assert(!loose.contains(4L))
    // a DUPLICATED single response must not fabricate a self-pair
    val dup = Retrieval.preferencePairs(
        Seq((9L, 91L, 50L), (9L, 91L, 50L)).toDF(
          "prompt_id", "resp_id", "score"),
        "prompt_id", "resp_id", "score", minMarginE6 = 0L)
      .collect()
    assert(dup.isEmpty)
  }

  test("qaTokenF1 matches hand-computed SQuAD EM/F1") {
    val refs = Seq(
      (1L, "The big cat sat."), (2L, "big cat sat"), (3L, "cat"),
      (4L, "cat"), (5L, "the a an"), (6L, "answer here"), (7L, "cat"))
      .toDF("q_id", "answer")
    val preds = Seq(
      (1L, "big cat sat"),   // articles+punct normalize away: EM
      (2L, "big cat"),       // ov=2, lp=2, lr=3: f1 = 4/5
      (3L, "dog"),           // disjoint: 0
      (4L, "cat cat"),       // multiset: ov=min(2,1)=1, f1 = 2/3
      (5L, "!!!"),           // both normalize to empty: EM, f1=1e6
      (6L, ""),              // one empty: f1=0, not EM
      (7L, "Cat!"))          // case+punct: EM
      .toDF("q_id", "answer")
    val got = Retrieval.qaTokenF1(preds, refs)
      .as[(Long, Boolean, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((true, 1000000L)))
    assert(got(2L) == ((false, 800000L)))
    assert(got(3L) == ((false, 0L)))
    // 2/3 on the half-up lattice: (4e6 + 3) div 6 = 666667
    assert(got(4L) == ((false, 666667L)))
    assert(got(5L) == ((true, 1000000L)))
    assert(got(6L) == ((false, 0L)))
    assert(got(7L) == ((true, 1000000L)))
    assert(got.size == 7)
  }

  test("rankingMetrics is deterministic across partitionings") {
    val ranked = (0L until 20L).flatMap(q =>
      (1 to 10).map(r => (q, (q * 31 + r * 7) % 40, r))).toDF("q_id", "c_id", "rank")
    val judged = (0L until 20L).flatMap(q =>
      (0L until 40L by 3L).map(c => (q, c, ((q + c) % 3 + 1).toInt)))
      .toDF("q_id", "c_id", "rel")
    val a = Retrieval.rankingMetrics(ranked, judged, k = 10)
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    val b = Retrieval.rankingMetrics(ranked.repartition(7), judged.repartition(5),
        k = 10).as[(Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("passAtK: hand-computed estimator, degenerate cases, n cap") {
    // task 1: n=16, c=4 — pass@1 = 4/16 = 0.25;
    // pass@5 = 1 − C(12,5)/C(16,5) = 1 − 792/4368 → floor = 818681
    val t1 = (0 until 16).map(i => (1L, i < 4))
    // task 2: n=6, c=0 — pass@k = 0; and n < 10 -> pass@10 NULL
    val t2 = (0 until 6).map(_ => (2L, false))
    // task 3: n=8, c=5 — only 3 failures < k=5 -> pass@5 = 1
    val t3 = (0 until 8).map(i => (3L, i < 5))
    val got = Retrieval.passAtK(
        (t1 ++ t2 ++ t3).toDF("task", "ok"), "task", "ok",
        ks = Seq(1, 5, 10))
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 16L, 4L,
      Some(250000L), Some(818681L), Some(991758L))))
    // pass@10 check for task 1: 1 − C(12,10)/C(16,10) = 1 − 66/8008
    assert(got(2L) == ((2L, 6L, 0L, Some(0L), Some(0L), None)))
    assert(got(3L)._5.contains(1000000L))
    // the exact-integer envelope fails loudly past n = 25
    val big = (0 until 26).map(i => (9L, true)).toDF("task", "ok")
    val err = intercept[Exception] {
      Retrieval.passAtK(big, "task", "ok", ks = Seq(1)).collect()
    }
    assert(err.getMessage.contains("25") ||
      err.getCause != null && err.getCause.getMessage.contains("25"))
  }

  test("bleu: hand-computed clip counts, BP, and zero rules") {
    val pairs = Seq(
      (1L, "a b c d", "a b c d"),       // identical -> 1.0
      (2L, "a b c x", "a b c d"),       // clip_4 = 0 -> 0
      (3L, "a b c d a b", "a b c d"),   // partial overlap, c > r: BP = 1
      (4L, "a b c d", "a b c d e f"),   // perfect prefix, c < r: BP only
      (5L, "", "a b"),                  // empty candidate -> 0
      (6L, "a b c", "a b c d"))         // c = 3 < maxN -> tot_4 = 0 -> 0
      .toDF("q_id", "cand", "ref")
    val got = Retrieval.bleu(pairs, "q_id", "cand", "ref")
      .collect().map(r => r.getAs[Long]("q_id") -> r).toMap
    assert(got(1L).getAs[Long]("bleu_e6") == 1000000L)
    assert(got(2L).getAs[Long]("bleu_e6") == 0L)
    // pair 3 by hand: p1 = 4/6, p2 = 3/5 (ab clipped at 1), p3 = 2/4,
    // p4 = 1/3 — replicate the exact IEEE tree (left-assoc product,
    // sqrt∘sqrt, floor half-up)
    val p3 = (((4.0 / 6.0) * (3.0 / 5.0)) * (2.0 / 4.0)) * (1.0 / 3.0)
    assert(got(3L).getAs[Long]("bleu_e6") ==
      math.floor(math.sqrt(math.sqrt(p3)) * 1e6 + 0.5).toLong)
    assert(got(3L).getAs[Long]("clip_1") == 4L)
    assert(got(3L).getAs[Long]("clip_2") == 3L)
    // pair 4: all precisions 1, BP = exp(1 - 6/4)
    assert(got(4L).getAs[Long]("bleu_e6") ==
      math.floor(math.exp(1.0 - 6.0 / 4.0) * 1e6 + 0.5).toLong)
    assert(got(5L).getAs[Long]("bleu_e6") == 0L)
    assert(got(6L).getAs[Long]("bleu_e6") == 0L)
    assert(got(5L).getAs[Long]("c_len") == 0L)
  }

  test("bleu and rougeN match a plain-Scala reference on random pairs") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    def sent(len: Int) =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
    val pairs = (1 to 60).map { i =>
      (i.toLong, sent(rnd.nextInt(15)).mkString(" "),
        sent(1 + rnd.nextInt(14)).mkString(" "))
    }
    def grams(t: Seq[String], n: Int) = t.sliding(n).filter(_.size == n)
      .map(_.mkString(" ")).toSeq
    def clip(c: Seq[String], r: Seq[String], n: Int): Long = {
      val cc = grams(c, n).groupBy(identity).map { case (k, v) => k -> v.size }
      val rc = grams(r, n).groupBy(identity).map { case (k, v) => k -> v.size }
      cc.map { case (g, k) => math.min(k, rc.getOrElse(g, 0)) }.sum.toLong
    }
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSeq

    val gotB = Retrieval.bleu(pairs.toDF("q_id", "cand", "ref"),
        "q_id", "cand", "ref")
      .collect().map(r => r.getAs[Long]("q_id") ->
        r.getAs[Long]("bleu_e6")).toMap
    pairs.foreach { case (id, cs, rs) =>
      val (c, r) = (toks(cs), toks(rs))
      val clips = (1 to 4).map(n => clip(c, r, n))
      val want =
        if (c.isEmpty || clips.exists(_ == 0L)) 0L
        else {
          val prod = (1 to 4).map(n =>
            clips(n - 1).toDouble / (c.size - n + 1).toDouble)
            .reduce(_ * _)
          val bp = if (c.size >= r.size) 1.0
            else math.exp(1.0 - r.size.toDouble / c.size.toDouble)
          math.floor(bp * math.sqrt(math.sqrt(prod)) * 1e6 + 0.5).toLong
        }
      assert(gotB(id) == want, s"bleu pair $id: '$cs' vs '$rs'")
    }

    val gotR = Retrieval.rougeN(pairs.toDF("q_id", "cand", "ref"),
        "q_id", "cand", "ref", maxN = 2)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("clip"), r.getAs[Any]("recall_e6"),
          r.getAs[Any]("f1_e6")))).toMap
    pairs.foreach { case (id, cs, rs) =>
      val (c, r) = (toks(cs), toks(rs))
      for (n <- 1 to 2) {
        val cl = clip(c, r, n)
        val (ct, rt) = (math.max(c.size - n + 1, 0).toLong,
          math.max(r.size - n + 1, 0).toLong)
        val (gc, grec, gf1) = gotR((id, n))
        assert(gc == cl, s"clip $id n$n")
        if (rt > 0) assert(grec == (2 * cl * 1000000L + rt) / (2 * rt),
          s"recall $id n$n")
        else assert(grec == null, s"recall null $id n$n")
        if (ct + rt > 0)
          assert(gf1 == (2 * (2 * cl * 1000000L) + ct + rt) /
            (2 * (ct + rt)), s"f1 $id n$n")
        else assert(gf1 == null, s"f1 null $id n$n")
      }
    }
  }

  test("rougeN: hand-computed recall/precision/F1 on the 1e-6 lattice") {
    val pairs = Seq(
      (1L, "a b c d a b", "a b c d"),
      (2L, "", "a b"),
      (3L, "x", "x"))
      .toDF("q_id", "cand", "ref")
    val got = Retrieval.rougeN(pairs, "q_id", "cand", "ref", maxN = 2)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("n")) -> r).toMap
    val u = got((1L, 1))
    // n=1: clip 4 (a,b,c,d once each vs cand's a2 b2), tots 6/4
    assert(u.getAs[Long]("clip") == 4L)
    assert(u.getAs[Long]("recall_e6") == 1000000L)
    assert(u.getAs[Long]("precision_e6") == 666667L) // 4/6 half-up
    assert(u.getAs[Long]("f1_e6") == 800000L)        // 8/10
    val b = got((1L, 2))
    // n=2: clip 3 (ab clipped at 1, bc, cd), tots 5/3
    assert(b.getAs[Long]("clip") == 3L)
    assert(b.getAs[Long]("recall_e6") == 1000000L)
    assert(b.getAs[Long]("precision_e6") == 600000L)
    assert(b.getAs[Long]("f1_e6") == 750000L)        // 6/8
    // empty candidate: recall 0, precision undefined, F1 0
    val e1 = got((2L, 1))
    assert(e1.getAs[Long]("clip") == 0L)
    assert(e1.getAs[Long]("recall_e6") == 0L)
    assert(e1.isNullAt(e1.fieldIndex("precision_e6")))
    assert(e1.getAs[Long]("f1_e6") == 0L)
    // single token: n=2 has no grams on EITHER side -> all NULL
    val s2 = got((3L, 2))
    assert(s2.getAs[Long]("c_tot") == 0L && s2.getAs[Long]("r_tot") == 0L)
    assert(s2.isNullAt(s2.fieldIndex("f1_e6")))
    assert(got((3L, 1)).getAs[Long]("f1_e6") == 1000000L)
  }

  test("contextPack: rank-order prefix under the token budget") {
    val cands = Seq(
      // q1: 90+80 fit (150+200=350 <= 400); the 250-token third doc
      // overflows and STOPS the pack — the 30-token fourth never packs
      (1L, 101L, 0.9, 150L), (1L, 102L, 0.8, 200L),
      (1L, 103L, 0.7, 250L), (1L, 104L, 0.6, 30L),
      // q2: tie on score -> c_id ascending breaks it
      (2L, 202L, 0.5, 400L), (2L, 201L, 0.5, 400L),
      // q3: first doc alone overflows -> empty pack
      (3L, 301L, 0.9, 500L))
      .toDF("q_id", "c_id", "score", "n_tokens")
    val got = Retrieval.contextPack(
        cands, "q_id", "c_id", "score", "n_tokens", budget = 400L)
      .select("q_id", "c_id", "pack_rank", "cum_tokens")
      .as[(Long, Long, Int, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 101L, 1, 150L), (1L, 102L, 2, 350L),
      (2L, 201L, 1, 400L)))
    // zero/negative token counts fail loudly, never a silent mis-pack
    val e = intercept[Exception] {
      Retrieval.contextPack(
        Seq((1L, 9L, 0.5, 0L)).toDF("q_id", "c_id", "score", "n_tokens"),
        "q_id", "c_id", "score", "n_tokens", budget = 10L).collect()
    }
    assert(e.getMessage.contains("non-positive token count")
      || e.getCause != null &&
        e.getCause.getMessage.contains("non-positive token count"),
      e.getMessage)
    // a null score would sort last yet still pack: raise instead
    val e2 = intercept[Exception] {
      Retrieval.contextPack(
        Seq((1L, 9L, Option.empty[Double], 5L))
          .toDF("q_id", "c_id", "score", "n_tokens"),
        "q_id", "c_id", "score", "n_tokens", budget = 10L).collect()
    }
    assert(e2.getMessage.contains("null score")
      || e2.getCause != null &&
        e2.getCause.getMessage.contains("null score"), e2.getMessage)
  }

  test("bradleyTerry: planted hierarchy orders ratings, winless rate 0") {
    // p1 beats p2 and p3; p2 beats p3; p3 never wins
    val games =
      Seq.fill(10)(("p1", "p2")) ++ Seq.fill(10)(("p2", "p3")) ++
        Seq.fill(10)(("p1", "p3")) ++
        // one upset so p2/p3 aren't pure-loss edges against p1
        Seq(("p2", "p1"))
    val got = Retrieval.bradleyTerry(games.toDF("w", "l"), "w", "l")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("p1")._1 == 20L && got("p2")._1 == 11L &&
      got("p3")._1 == 0L)
    assert(got("p3")._2 == 0.0) // winless -> exactly 0 on the lattice
    assert(got("p1")._2 > got("p2")._2 && got("p2")._2 > 0.0)
    // mean rating ~1 after normalization (lattice rounding aside)
    val total = got.values.map(_._2).sum
    assert(math.abs(total - 3.0) < 1e-3, s"sum $total")
    // partitioning invariance (bit-exact ratings)
    val re = Retrieval.bradleyTerry(
        games.toDF("w", "l").repartition(13), "w", "l")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(re == got.map { case (k, v) => k -> v._2 })
    // null and self-game inputs fail loudly
    val e1 = intercept[Exception] {
      Retrieval.bradleyTerry(
        Seq(("a", Option.empty[String])).toDF("w", "l"), "w", "l")
        .collect()
    }
    assert(e1.getMessage.contains("null loser")
      || e1.getCause != null &&
        e1.getCause.getMessage.contains("null loser"), e1.getMessage)
    val e2 = intercept[Exception] {
      Retrieval.bradleyTerry(Seq(("a", "a")).toDF("w", "l"), "w", "l")
        .collect()
    }
    assert(e2.getMessage.contains("self-game")
      || e2.getCause != null &&
        e2.getCause.getMessage.contains("self-game"), e2.getMessage)
  }

  test("editSimilarity ≡ a plain-Scala DP Levenshtein on random pairs") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(31)
    def word() = Seq.fill(rnd.nextInt(12))(('a' + rnd.nextInt(4)).toChar)
      .mkString // tiny alphabet -> frequent partial overlaps and ties
    val cases = Seq(("", ""), ("abc", "abc"), ("abc", ""), ("", "xyz"),
      ("kitten", "sitting")) ++
      Seq.fill(60)((word(), word()))
    val got = Retrieval.editSimilarity(
        cases.zipWithIndex.map { case ((c, r), i) => (i.toLong, c, r) }
          .toDF("id", "cand", "ref"),
        "id", "cand", "ref")
      .as[(Long, Int, Long, Boolean, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    cases.zipWithIndex.foreach { case ((c, r), i) =>
      val d = lev(c, r)
      val ml = math.max(c.length, r.length).toLong
      val sim = if (ml == 0) 1000000L
        else (2 * (ml - d) * 1000000L + ml) / (2 * ml)
      assert(got(i.toLong) == ((d, ml, c == r, sim)), s"pair $i ($c, $r)")
    }
    // null candidate fails loudly
    val err = intercept[Exception] {
      Retrieval.editSimilarity(
        Seq((1L, Option.empty[String], "r")).toDF("id", "cand", "ref"),
        "id", "cand", "ref").collect()
    }
    assert(err.getMessage.contains("null candidate")
      || err.getCause != null &&
        err.getCause.getMessage.contains("null candidate"), err.getMessage)
  }

  test("bradleyTerry: driver fast path ≡ distributed loop, bit for bit") {
    // Both paths claim the SAME exact lattice (identical floors, exact
    // order-free integer sums, identical IEEE ops) — so ratings must
    // agree to the last bit on a random tournament, not just approx.
    val rnd = new scala.util.Random(11)
    val players = (0 until 40).map(i => s"pl$i")
    val games = Seq.fill(600) {
      val a = players(rnd.nextInt(players.length))
      var b = players(rnd.nextInt(players.length))
      while (b == a) b = players(rnd.nextInt(players.length))
      (a, b)
    }
    val fast = Retrieval.bradleyTerry(games.toDF("w", "l"), "w", "l")
      .as[(String, Long, Double)].collect().sorted.toSeq
    val dist = TestSpark.distributed {
      Retrieval.bradleyTerry(games.toDF("w", "l"), "w", "l")
        .as[(String, Long, Double)].collect().sorted.toSeq
    }
    assert(fast == dist)
  }

  test("averagePrecision: hand AP@k, TREC missed-query 0, unjudged NULL") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 11L, 1), (1L, 2L, 2), (1L, 13L, 3), // rel at rank 2 only
      (3L, 31L, 1), (3L, 32L, 2),              // unjudged query
      (4L, 4L, 1)                              // perfect single hit
    ).toDF("q_id", "c_id", "rank")
    val judged = Seq(
      (1L, 2L, 1), (1L, 9L, 1), // 9 never retrieved -> R = 2
      (2L, 5L, 1),              // judged, retriever returned nothing
      (4L, 4L, 1)
    ).toDF("q_id", "c_id", "rel")
    val got = Retrieval.averagePrecision(ranked, judged, k = 10)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 1L, Some(250000L)))) // (1/2)/2 = 0.25
    assert(got(2L) == ((1L, 0L, Some(0L))))      // missed judged query
    assert(got(3L) == ((0L, 0L, None)))          // unjudged: undefined
    assert(got(4L) == ((1L, 1L, Some(1000000L))))
    // rank < 1 fails loudly (the rankingMetrics guard)
    val e = intercept[Exception] {
      Retrieval.averagePrecision(
        Seq((1L, 2L, 0)).toDF("q_id", "c_id", "rank"), judged, 10)
        .collect()
    }
    assert(e.getMessage.contains("1-based")
      || e.getCause != null && e.getCause.getMessage.contains("1-based"))
  }

  test("chrF: hand-computed chrF2, whitespace strip, empty-side NULL") {
    import spark.implicits._
    val got = Retrieval.chrF(
        Seq((1L, "abc", "abd"),   // P = R = (2/3 + 1/2 + 0)/3 = 7/18
          (2L, "a b", "ab"),      // strip -> identical
          (3L, "", "ab"),         // empty cand -> no defined P/chrF
          (4L, "xy", "xy"))
          .toDF("id", "cand", "ref"),
        "id", "cand", "ref")
      .as[(Long, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // 7/18 = 0.388888... -> 388889 on the lattice; chrF2 = P when P = R
    assert(got(1L) == ((1L, 3L, 3L, 3L, 3L,
      Some(388889L), Some(388889L), Some(388889L))))
    assert(got(2L) == ((2L, 2L, 2L, 2L, 2L,
      Some(1000000L), Some(1000000L), Some(1000000L))))
    assert(got(3L) == ((3L, 0L, 2L, 0L, 2L, None, Some(0L), None)))
    assert(got(4L) == ((4L, 2L, 2L, 2L, 2L,
      Some(1000000L), Some(1000000L), Some(1000000L))))
  }

  test("chrF ≡ plain-Scala reference on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val pairs = (0L until 60L).map { i =>
      def s() = (0 until rnd.nextInt(20))
        .map(_ => "ab cd".charAt(rnd.nextInt(5))).mkString
      (i, s(), s())
    }
    def strip(s: String) = s.filterNot(" \t\n\r".contains(_))
    def grams(s: String, n: Int): Map[String, Int] =
      if (s.length < n) Map.empty
      else s.sliding(n).toSeq.groupBy(identity).map { case (g, o) =>
        g -> o.size }
    def rate(c: String, r: String, forPrec: Boolean): Option[Double] = {
      val side = if (forPrec) c else r
      if (side.isEmpty) None
      else {
        val m = math.min(side.length, 6)
        val terms = (1 to 6).map { n =>
          val cg = grams(c, n); val rg = grams(r, n)
          val clip = cg.map { case (g, cc) =>
            math.min(cc, rg.getOrElse(g, 0)) }.sum
          val tot = side.length - n + 1
          if (side.length >= n) clip.toDouble / tot.toDouble else 0.0
        }
        Some(terms.foldLeft(0.0)(_ + _) / m.toDouble)
      }
    }
    val got = Retrieval.chrF(pairs.toDF("id", "cand", "ref"),
        "id", "cand", "ref")
      .as[(Long, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long])].collect().map(r => r._1 -> r).toMap
    pairs.foreach { case (i, c0, r0) =>
      val c = strip(c0); val r = strip(r0)
      val p = rate(c, r, forPrec = true)
      val rr = rate(c, r, forPrec = false)
      val chrf = for (pv <- p; rv <- rr) yield
        if (4.0 * pv + rv > 0.0)
          math.floor(5.0 * pv * rv / (4.0 * pv + rv) * 1e6 + 0.5).toLong
        else 0L
      val (_, cl, rl, mc, mr, pe, re, fe) = got(i)
      assert(cl == c.length && rl == r.length)
      assert(mc == math.min(c.length, 6) && mr == math.min(r.length, 6))
      assert(pe == p.map(v => math.floor(v * 1e6 + 0.5).toLong), s"id=$i")
      assert(re == rr.map(v => math.floor(v * 1e6 + 0.5).toLong), s"id=$i")
      assert(fe == chrf, s"id=$i")
    }
  }
}
