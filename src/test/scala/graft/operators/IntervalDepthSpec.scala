package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IntervalDepthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("depthHistogram: hand-checked overlaps, closed-interval semantics") {
    // chr1: [10,19] [15,24] [15,17] -> depths 1/2/3 in known spans
    // chr2: [5,5] single-base interval; [100,109] isolated
    val iv = Seq(
      ("chr1", 10L, 19L), ("chr1", 15L, 24L), ("chr1", 15L, 17L),
      ("chr2", 5L, 5L), ("chr2", 100L, 109L)
    ).toDF("chrom", "start", "stop")
    val got = IntervalDepth.depthHistogram(iv, "chrom", "start", "stop")
      .as[(Long, Long)].collect().toMap
    // chr1 per-position: 10-14 d1 (5), 15-17 d3 (3), 18-19 d2 (2),
    // 20-24 d1 (5); chr2: 5 d1 (1), 100-109 d1 (10)
    assert(got == Map(1L -> 21L, 2L -> 2L, 3L -> 3L))
  }

  test("depthHistogram equals a brute-force per-position model, any partitioning") {
    // deterministic dense fixture: 3 chroms x 60 intervals over [0, 300),
    // then two chroms whose JVM (UTF-16) order is the reverse of Spark's
    // UTF-8 byte order: U+E000 sorts after U+1F600 in UTF-8 only
    val rng = new scala.util.Random(7)
    val rows = (for (c <- 1 to 3; i <- 1 to 60) yield {
      val s = rng.nextInt(300).toLong
      (s"c$c", s, s + 1 + rng.nextInt(40))
    }) ++ (for ((c, n) <- Seq("c\uE000" -> 200, "c\uD83D\uDE00" -> 20);
        _ <- 1 to n) yield {
      val s = rng.nextInt(300).toLong
      (c, s, s + 1 + rng.nextInt(40))
    })
    // independent model: literal per-position counting
    val expected = rows.groupBy(_._1).values.flatMap { ivs =>
      val depth = scala.collection.mutable.Map.empty[Long, Long]
      for ((_, s, e) <- ivs; p <- s to e) depth(p) = depth.getOrElse(p, 0L) + 1
      depth.values
    }.groupBy(identity).map { case (d, ps) => d -> ps.size.toLong }
    val df = rows.toDF("chrom", "start", "stop")
    for (parts <- Seq(1, 3, 17)) {
      val got = IntervalDepth.depthHistogram(
          df.repartition(5), "chrom", "start", "stop",
          numPartitions = parts)
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"numPartitions = $parts")
    }
  }

  test("coalesce: overlap and book-ended merges, gaps split") {
    val iv = Seq(
      // chr1: [10,19]+[15,24] overlap, [25,30] book-ends 24 -> one run;
      // [40,45] after a gap -> its own run
      ("chr1", 10L, 19L), ("chr1", 15L, 24L), ("chr1", 25L, 30L),
      ("chr1", 40L, 45L),
      // chr2: identical duplicate spans collapse into one run
      ("chr2", 5L, 5L), ("chr2", 5L, 5L)
    ).toDF("chrom", "start", "stop")
    val got = IntervalDepth.coalesce(iv, "chrom", "start", "stop")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("chr1", 10L, 30L), ("chr1", 40L, 45L), ("chr2", 5L, 5L)))
  }

  test("coalesce: maxGap bridges gaps up to the cap, reported stops stay true") {
    val iv = Seq(
      ("c", 0L, 10L), ("c", 14L, 20L),  // gap 3
      ("c", 30L, 35L)                   // gap 9
    ).toDF("chrom", "start", "stop")
    def runs(g: Long) =
      IntervalDepth.coalesce(iv, "chrom", "start", "stop", maxGap = g)
        .as[(String, Long, Long)].collect().toSet
    assert(runs(0L) == Set(("c", 0L, 10L), ("c", 14L, 20L), ("c", 30L, 35L)))
    assert(runs(3L) == Set(("c", 0L, 20L), ("c", 30L, 35L)))
    assert(runs(9L) == Set(("c", 0L, 35L)))
    intercept[IllegalArgumentException] {
      IntervalDepth.coalesce(iv, "chrom", "start", "stop", maxGap = -1L)
    }
  }

  test("coalesce equals a plain-Scala merge model, any partitioning") {
    val rng = new scala.util.Random(11)
    val rows = for (c <- 1 to 3; i <- 1 to 80) yield {
      val s = rng.nextInt(2000).toLong
      (s"c$c", s, s + 1 + rng.nextInt(30))
    }
    // independent model: sort and sweep per chrom (closed intervals,
    // book-ended spans merge)
    val expected = rows.groupBy(_._1).flatMap { case (c, ivs) =>
      val sorted = ivs.map(r => (r._2, r._3)).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      var (cs, ce) = sorted.head
      for ((s, e) <- sorted.tail) {
        if (s <= ce + 1) ce = math.max(ce, e)
        else { out += ((c, cs, ce)); cs = s; ce = e }
      }
      out += ((c, cs, ce))
      out
    }.toSet
    val df = rows.toDF("chrom", "start", "stop")
    for (parts <- Seq(1, 3, 17)) {
      val got = IntervalDepth.coalesce(
          df.repartition(5), "chrom", "start", "stop",
          numPartitions = parts)
        .as[(String, Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate runs at $parts")
      assert(got.toSet == expected, s"numPartitions = $parts")
    }
  }

  test("depthHistogram rejects inverted intervals loudly") {
    val bad = Seq(("chr1", 10L, 5L)).toDF("chrom", "start", "stop")
    val e = intercept[Exception] {
      IntervalDepth.depthHistogram(bad, "chrom", "start", "stop").collect()
    }
    assert(e.getMessage.contains("end < start")
      || e.getCause != null && e.getCause.getMessage.contains("end < start"),
      e.getMessage)
  }

  test("depthHistogram rejects a null chrom loudly") {
    // null would collide with the carry pass's new-chrom sentinel and
    // silently drop the carried offset — must raise instead
    val bad = Seq((Option.empty[String], 1L, 5L), (Some("chr1"), 1L, 5L))
      .toDF("chrom", "start", "stop")
    val e = intercept[Exception] {
      IntervalDepth.depthHistogram(bad, "chrom", "start", "stop").collect()
    }
    assert(e.getMessage.contains("null chrom")
      || e.getCause != null && e.getCause.getMessage.contains("null chrom"),
      e.getMessage)
  }

  test("coverageSummary equals a brute-force per-position model") {
    val rng = new scala.util.Random(7)
    val rows = (for (c <- 1 to 3; _ <- 1 to 50) yield {
      val s = rng.nextInt(800).toLong
      (s"c$c", s, s + 1 + rng.nextInt(60))
    }) ++ (for ((c, n) <- Seq("c\uE000" -> 200, "c\uD83D\uDE00" -> 20);
        _ <- 1 to n) yield {
      val s = rng.nextInt(800).toLong
      (c, s, s + 1 + rng.nextInt(60))
    })
    val got = IntervalDepth.coverageSummary(
        rows.toDF("chrom", "start", "stop").repartition(7),
        "chrom", "start", "stop", thresholds = Seq(2L, 5L))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    rows.map(_._1).distinct.foreach { c =>
      val depthAt = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      rows.filter(_._1 == c).foreach { case (_, s, e) =>
        (s to e).foreach(p => depthAt(p) += 1)
      }
      val covered = depthAt.count(_._2 > 0).toLong
      val b2 = depthAt.count(_._2 >= 2).toLong
      val b5 = depthAt.count(_._2 >= 5).toLong
      val ds = depthAt.values.sum
      val mean = (2 * ds * 10000 + covered) / (2 * covered)
      assert(got(c) == ((c, covered, b2, b5, mean)), s"chrom $c")
    }
  }

  test("complement: hand-checked gaps, sentinel tail, empty chrom, clipping") {
    val iv = Seq(
      ("c1", 5L, 10L), ("c1", 8L, 12L),  // merge to [5,12]
      ("c1", 20L, 25L),
      ("c2", 1L, 100L),                  // covers its whole genome
      ("c3", -5L, 3L), ("c3", 95L, 200L) // clip to [1,3] and [95,100]
    ).toDF("chrom", "start", "stop")
    val genome = Seq(("c1", 30L), ("c2", 100L), ("c3", 100L),
      ("c4", 50L)).toDF("chrom", "gsize")
    val got = IntervalDepth.complement(
        iv, "chrom", "start", "stop", genome, "chrom", "gsize")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("c1", 1L, 4L), ("c1", 13L, 19L), ("c1", 26L, 30L),
      ("c3", 4L, 94L),
      ("c4", 1L, 50L))) // interval-less chrom: the whole span
  }

  test("complement ∪ coverage exactly partitions the genome (random)") {
    val rng = new scala.util.Random(23)
    val rows = for (c <- 1 to 3; _ <- 1 to 60) yield {
      val s = rng.nextInt(1500).toLong
      (s"c$c", s, s + 1 + rng.nextInt(40))
    }
    val size = 1600L
    val genome = (1 to 3).map(c => (s"c$c", size)).toDF("chrom", "gsize")
    val df = rows.toDF("chrom", "start", "stop")
    val gaps = IntervalDepth.complement(
        df, "chrom", "start", "stop", genome, "chrom", "gsize")
      .as[(String, Long, Long)].collect()
    // independent model: positions covered per chrom
    val covered = rows.groupBy(_._1).view.mapValues(ivs =>
      ivs.flatMap(r => math.max(1L, r._2) to math.min(size, r._3)).toSet)
    (1 to 3).foreach { c =>
      val want = (1L to size).toSet -- covered.getOrElse(s"c$c", Set.empty)
      val gapPos = gaps.filter(_._1 == s"c$c")
        .flatMap(g => g._2 to g._3).toSet
      assert(gapPos == want, s"chrom c$c")
      // gaps are disjoint and sorted-mergeable (no adjacent pairs)
      val sorted = gaps.filter(_._1 == s"c$c").map(g => (g._2, g._3))
        .sorted.toSeq
      sorted.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 > e1 + 1)
        case _ => ()
      }
    }
  }

  test("genomeWindows: hand tiling, zero-filled window, merged coverage") {
    import spark.implicits._
    // W = 5, chrom end 18: windows [0,4] [5,9] [10,14] [15,18];
    // [0,4] and [3,7] overlap (merged run [0,7] — covered bases must
    // not double-count the overlap), window 2 is empty
    val got = IntervalDepth.genomeWindows(
        Seq(("c", 0L, 4L), ("c", 3L, 7L), ("c", 18L, 18L))
          .toDF("chrom", "start", "stop"),
        "chrom", "start", "stop", windowBp = 5L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    assert(got == Map(
      0L -> ((4L, 2L, 5L)),   // both intervals; run [0,7] clips to 5 bp
      5L -> ((9L, 1L, 3L)),   // [3,7] reaches in; bases 5..7
      10L -> ((14L, 0L, 0L)), // zero-filled
      15L -> ((18L, 1L, 1L))))
    val e = intercept[Exception] {
      IntervalDepth.genomeWindows(
        Seq(("c", 5L, 2L)).toDF("chrom", "start", "stop"),
        "chrom", "start", "stop", windowBp = 5L).collect()
    }
    assert(e.getMessage.contains("inverted")
      || e.getCause != null && e.getCause.getMessage.contains("inverted"))
  }

  test("genomeWindows ≡ brute-force per-base coverage on random intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val ivs = (0 until 120).map { _ =>
      val c = s"c${rnd.nextInt(3)}"
      val s = rnd.nextInt(200).toLong
      (c, s, s + rnd.nextInt(30).toLong)
    }
    val w = 16L
    val got = IntervalDepth.genomeWindows(
        ivs.toDF("chrom", "start", "stop").repartition(7),
        "chrom", "start", "stop", windowBp = w)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    ivs.groupBy(_._1).foreach { case (c, rows) =>
      val end = rows.map(_._3).max
      (0L to end / w).foreach { i =>
        val lo = i * w; val hi = math.min(lo + w - 1, end)
        val n = rows.count(r => r._2 <= hi && r._3 >= lo)
        val cov = (lo to hi).count(p =>
          rows.exists(r => r._2 <= p && p <= r._3)).toLong
        assert(got((c, lo)) == ((hi, n.toLong, cov)), s"$c window $lo")
      }
      // no extra windows beyond the tiling
      assert(got.keys.count(_._1 == c) == (end / w + 1))
    }
  }
}
