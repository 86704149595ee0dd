package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

class IntervalJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("overlapping bands: every containing interval matches") {
    // 3 points × 3 mutually-overlapping bands, known answer by hand
    val points = Seq((101L, "p1"), (150L, "p2"), (210L, "p3"))
      .toDF("pos", "pid")
    val ranges = Seq((90L, 160L, "r1"), (100L, 220L, "r2"), (140L, 155L, "r3"))
      .toDF("lo", "hi", "rid")
    val out = IntervalJoin.pointInRange(points, ranges, "pos", "lo", "hi",
        binWidth = 50, hiInclusive = true)
      .select("pid", "rid").as[(String, String)].collect().toSet
    assert(out == Set(
      ("p1", "r1"), ("p1", "r2"),
      ("p2", "r1"), ("p2", "r2"), ("p2", "r3"),
      ("p3", "r2")))
  }

  test("matches brute-force on random data (seeded)") {
    val rnd = new scala.util.Random(7)
    val points = Seq.fill(300)((rnd.nextInt(10000).toLong, rnd.nextInt(4)))
      .zipWithIndex.map { case ((p, k), i) => (i.toLong, p, k) }
      .toDF("pid", "pos", "pkey")
    val ranges = Seq.fill(80) {
      val lo = rnd.nextInt(10000).toLong
      (lo, lo + rnd.nextInt(800).toLong, rnd.nextInt(4))
    }.zipWithIndex.map { case ((lo, hi, k), i) => (i.toLong, lo, hi, k) }
      .toDF("rid", "lo", "hi", "rkey")

    val got = IntervalJoin.pointInRange(points, ranges, "pos", "lo", "hi",
        binWidth = 512, extraEquiKeys = Seq(("pkey", "rkey")), hiInclusive = true)
      .select("pid", "rid").as[(Long, Long)].collect().toSet
    val want = points.crossJoin(ranges)
      .filter($"pos" >= $"lo" && $"pos" <= $"hi" && $"pkey" === $"rkey")
      .select("pid", "rid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("exclusive upper bound drops boundary hits") {
    val points = Seq((100L, 1L)).toDF("pos", "pid")
    val ranges = Seq((50L, 100L, 1L)).toDF("lo", "hi", "rid")
    assert(IntervalJoin.pointInRange(points, ranges, "pos", "lo", "hi", 64,
      hiInclusive = false).count() == 0)
    assert(IntervalJoin.pointInRange(points, ranges, "pos", "lo", "hi", 64,
      hiInclusive = true).count() == 1)
  }

  test("left join keeps unmatched points") {
    val points = Seq((5L, 1L), (9999L, 2L)).toDF("pos", "pid")
    val ranges = Seq((0L, 10L, 1L)).toDF("lo", "hi", "rid")
    val out = IntervalJoin.pointInRange(points, ranges, "pos", "lo", "hi", 16,
      hiInclusive = true, joinType = "left")
    assert(out.count() == 2)
    assert(out.filter($"rid".isNull).count() == 1)
  }

  test("nearestWithin: hand cases — overlap wins, ties break on (rs, re, id)") {
    val q = Seq(
      ("chr1", 100L, 110L, 1L), // overlaps r10 -> dist 0
      ("chr1", 300L, 310L, 2L), // r20 ends 295 (gap 5) vs r21 starts 316 (gap 6)
      ("chr1", 500L, 500L, 3L), // equidistant: r30 left gap 4, r31 right gap 4
      ("chr1", 900L, 901L, 4L), // nothing within 50 -> no row
      ("chr2", 10L, 20L, 5L)    // other chrom never matches chr1 refs
    ).toDF("chrom", "start", "stop", "qid")
    val r = Seq(
      ("chr1", 105L, 120L, 10L),
      ("chr1", 290L, 295L, 20L), ("chr1", 316L, 320L, 21L),
      ("chr1", 490L, 496L, 30L), ("chr1", 504L, 510L, 31L),
      ("chr2", 15L, 16L, 40L)
    ).toDF("chrom", "start", "stop", "rid")
    val got = IntervalJoin.nearestWithin(q, r,
        "chrom", "start", "stop", "qid",
        "chrom", "start", "stop", "rid",
        maxDist = 50L, binWidth = 64L)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == Map(
      1L -> ((10L, 0L)), 2L -> ((20L, 5L)),
      // 500-496=4 left, 504-500=4 right: tie broken by smaller rs -> r30
      3L -> ((30L, 4L)), 5L -> ((40L, 0L))))
  }

  test("nearestWithin equals brute force on a dense random fixture") {
    val rng = new scala.util.Random(11)
    val qs = for (i <- 1L to 40L) yield {
      val s = rng.nextInt(500).toLong
      (s"c${i % 3}", s, s + 1 + rng.nextInt(30), i)
    }
    val rs = for (i <- 100L to 220L) yield {
      val s = rng.nextInt(500).toLong
      (s"c${i % 3}", s, s + 1 + rng.nextInt(30), i)
    }
    val cap = 25L
    val expected = qs.flatMap { case (c, s, e, qid) =>
      val cands = rs.filter(_._1 == c).map { case (_, rs0, re0, rid) =>
        (math.max(0L, math.max(rs0 - e, s - re0)), rs0, re0, rid)
      }.filter(_._1 <= cap)
      if (cands.isEmpty) None else Some(qid -> {
        val m = cands.min; (m._4, m._1)
      })
    }.toMap
    val got = IntervalJoin.nearestWithin(
        qs.toDF("chrom", "start", "stop", "qid"),
        rs.toDF("chrom", "start", "stop", "rid"),
        "chrom", "start", "stop", "qid",
        "chrom", "start", "stop", "rid",
        maxDist = cap, binWidth = 32L)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == expected)
  }

  test("liftover composition maps forward, mirrors reverse, drops gaps") {
    // chain block 0 (fwd): [0,799] -> +0; block 1 (rev): [1000,1799]
    // -> dst_off 1137, mirrored; gap [800,999] drops
    val pos = Seq((1L, "c1", 5L), (2L, "c1", 1000L), (3L, "c1", 1799L),
      (4L, "c1", 850L)).toDF("doc_id", "chrom", "pos")
    val chain = spark.range(0, 2).select(
      (col("id") * 1000).as("lo"), (col("id") * 1000 + 799).as("hi"),
      (col("id") * 1000 + col("id") * 137).as("dst_off"),
      (col("id") % 2 === 0).as("fwd"))
    val got = IntervalJoin.pointInRange(pos, chain, "pos", "lo", "hi",
        binWidth = 1024.0, hiInclusive = true, broadcastRanges = true)
      .select(col("doc_id"),
        when(col("fwd"), col("dst_off") + col("pos") - col("lo"))
          .otherwise(col("dst_off") + col("hi") - col("pos"))
          .as("new_pos"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> (1137L + 799L), 3L -> 1137L))
  }

  test("subtract hand cases: head/middle/tail gaps, full cover, no overlap") {
    val a = Seq(
      ("c1", 10L, 100L, 1L),  // b covers [20,30] and [50,60] -> 3 gaps
      ("c1", 22L, 28L, 2L),   // fully inside [20,30] -> zero rows
      ("c1", 200L, 210L, 3L), // no overlap -> whole interval
      ("c2", 10L, 100L, 4L),  // same span, other chrom: only [40,45] hits
      ("c1", 25L, 55L, 5L))   // clamped head+tail: [31,49]
      .toDF("chrom", "start", "stop", "aid")
    val b = Seq(
      // [20,30] arrives as two book-ended pieces — coalesce must merge
      // them before the complement, or [25,25] would survive wrongly
      ("c1", 20L, 24L), ("c1", 25L, 30L),
      ("c1", 50L, 60L),
      ("c2", 40L, 45L))
      .toDF("chrom", "start", "stop")
    val got = IntervalJoin.subtract(a, b,
        "chrom", "start", "stop", "aid",
        "chrom", "start", "stop", binWidth = 16L)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, "c1", 10L, 19L), (1L, "c1", 31L, 49L), (1L, "c1", 61L, 100L),
      (3L, "c1", 200L, 210L),
      (4L, "c2", 10L, 39L), (4L, "c2", 46L, 100L),
      (5L, "c1", 31L, 49L)))
  }

  test("subtract equals brute force on a dense random fixture") {
    val rng = new scala.util.Random(23)
    val as = for (i <- 1L to 60L) yield {
      val s = rng.nextInt(400).toLong
      (s"c${i % 3}", s, s + rng.nextInt(80).toLong, i)
    }
    val bs = for (i <- 1L to 120L) yield {
      val s = rng.nextInt(450).toLong
      (s"c${i % 3}", s, s + rng.nextInt(25).toLong)
    }
    // plain-Scala mirror: per a row, walk the base positions
    val expected = as.flatMap { case (c, s, e, id) =>
      val covered = bs.filter(_._1 == c)
      val free = (s to e).filterNot(p =>
        covered.exists(b => b._2 <= p && p <= b._3))
      // collapse consecutive free positions into runs
      val runs = free.foldLeft(List.empty[(Long, Long)]) {
        case ((rs, re) :: t, p) if p == re + 1 => (rs, p) :: t
        case (acc, p) => (p, p) :: acc
      }.reverse
      runs.map { case (rs, re) => (id, c, rs, re) }
    }.toSet
    for (parts <- Seq(1, 3, 17)) {
      val got = IntervalJoin.subtract(
          as.toDF("chrom", "start", "stop", "aid").repartition(parts),
          bs.toDF("chrom", "start", "stop").repartition(parts),
          "chrom", "start", "stop", "aid",
          "chrom", "start", "stop", binWidth = 64L)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("reciprocalOverlap equals brute force; bin spans collapse to one row") {
    val rng = new scala.util.Random(31)
    val mk = (n: Int, off: Long) => (1 to n).map { i =>
      val s = rng.nextInt(600).toLong
      (off + i, s"c${i % 2}", s, s + 10 + rng.nextInt(120))
    }
    val as = mk(60, 0L); val bs = mk(80, 1000L)
    val expected = (for {
      (aid, ac, s1, e1) <- as; (bid, bc, s2, e2) <- bs
      if ac == bc
      ov = math.min(e1, e2) - math.max(s1, s2) + 1
      if ov >= 1 && ov * 100 >= 40 * (e1 - s1 + 1) &&
        ov * 100 >= 60 * (e2 - s2 + 1)
    } yield (aid, bid, ov, e1 - s1 + 1, e2 - s2 + 1)).toSet
    // binWidth 16 forces long intervals across MANY shared bins — the
    // distinct must collapse every multi-bin pair to one row
    val got = IntervalJoin.reciprocalOverlap(
        as.toDF("id", "chrom", "start", "stop").repartition(5),
        bs.toDF("id", "chrom", "start", "stop").repartition(3),
        "chrom", "start", "stop", "id",
        "chrom", "start", "stop", "id",
        minPctA = 40, minPctB = 60, binWidth = 16L)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == got.toSet.size, "bin duplicates survived")
    assert(got.toSet == expected)
    assert(expected.nonEmpty, "degenerate fixture")
  }

  test("intervalJaccard: hand case + base-position brute force") {
    import spark.implicits._
    // hand case on one chrom: A covers [1,10] u [20,25] (16 bp),
    // B covers [8,22] (15 bp); inter = [8,10] u [20,22] = 6 bp,
    // union = 25 bp
    val a = Seq(("c1", 1L, 10L), ("c1", 20L, 25L), ("c1", 2L, 6L))
      .toDF("chrom", "s", "e") // third row merges into [1,10]
    val b = Seq(("c1", 8L, 22L)).toDF("chrom", "s", "e")
    val got = IntervalJoin.intervalJaccard(a, b,
        "chrom", "s", "e", "chrom", "s", "e")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(got._1 == 16L && got._2 == 15L && got._3 == 6L &&
      got._4 == 25L)
    // 6/25 = 0.24 on the lattice
    assert(got._5.contains(240000L))
    // randomized brute force over base positions, multiple chroms, two
    // of them (U+E000, U+1F600) ordered differently by the JVM (UTF-16)
    // and by Spark (UTF-8 bytes)
    val rnd = new scala.util.Random(19)
    def randTrack() = (0 until 120).map { _ =>
      val c = s"c${rnd.nextInt(3)}"
      val s0 = rnd.nextInt(400).toLong
      (c, s0, s0 + rnd.nextInt(40).toLong)
    } ++ Seq("c\uE000" -> 200, "c\uD83D\uDE00" -> 20).flatMap {
      case (c, n) => (0 until n).map { _ =>
        val s0 = rnd.nextInt(400).toLong
        (c, s0, s0 + rnd.nextInt(40).toLong)
      }
    }
    val (ta, tb) = (randTrack(), randTrack())
    def cover(t: Seq[(String, Long, Long)]) =
      t.flatMap { case (c, s0, e0) => (s0 to e0).map(p => (c, p)) }.toSet
    val (ca, cb) = (cover(ta), cover(tb))
    val want = (ca.size.toLong, cb.size.toLong,
      ca.intersect(cb).size.toLong, ca.union(cb).size.toLong)
    val r = IntervalJoin.intervalJaccard(
        ta.toDF("chrom", "s", "e").repartition(7),
        tb.toDF("chrom", "s", "e").repartition(3),
        "chrom", "s", "e", "chrom", "s", "e")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert((r._1, r._2, r._3, r._4) == want)
    // empty-vs-empty: no defined similarity
    val empty = Seq.empty[(String, Long, Long)].toDF("chrom", "s", "e")
    val e0 = IntervalJoin.intervalJaccard(empty, empty,
        "chrom", "s", "e", "chrom", "s", "e")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(e0 == ((0L, 0L, 0L, 0L, None)))
  }
  test("clusterIntervals: hand islands, gap boundary, singleton") {
    import spark.implicits._
    // gap 5: [1,10] and [14,20] chain (gap 3); [26,30] splits (gap 5 is
    // allowed — 21..25 is 5 bases — wait: gap = next.s - prev.e - 1 =
    // 26 - 20 - 1 = 5 <= 5 -> SAME island; [37, 40] (gap 6) splits
    val iv = Seq(
      (1L, "c1", 1L, 10L), (2L, "c1", 14L, 20L), (3L, "c1", 26L, 30L),
      (4L, "c1", 37L, 40L), (5L, "c2", 1L, 2L))
    val got = IntervalJoin.clusterIntervals(
        iv.toDF("id", "chrom", "s", "e"), "chrom", "s", "e", "id",
        maxGap = 5L)
      .as[(Long, String, Long, Long, String)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(got == Map(1L -> "c1:1", 2L -> "c1:1", 3L -> "c1:1",
      4L -> "c1:37", 5L -> "c2:1"))
  }

  test("clusterIntervals ≡ brute-force transitive clustering (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val iv = (0L until 300L).map { i =>
      val s = rnd.nextInt(3000).toLong
      (i, s"c${rnd.nextInt(3)}", s, s + 1 + rnd.nextInt(60))
    }
    val gap = 7L
    val got = IntervalJoin.clusterIntervals(
        iv.toDF("id", "chrom", "s", "e"), "chrom", "s", "e", "id",
        maxGap = gap)
      .as[(Long, String, Long, Long, String)].collect()
    assert(got.length == iv.size) // exactly-once assignment
    val gotMap = got.map(r => r._1 -> r._5).toMap
    // brute force: sort per chrom, chain while gap <= maxGap
    iv.groupBy(_._2).foreach { case (chrom, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._4))
      var islandStart = -1L; var maxE = Long.MinValue
      sorted.foreach { case (id, _, s, e) =>
        if (islandStart < 0 || s > maxE + gap + 1) { islandStart = s; maxE = e }
        else maxE = math.max(maxE, e)
        assert(gotMap(id) == s"$chrom:$islandStart", s"interval $id")
      }
    }
  }
}
