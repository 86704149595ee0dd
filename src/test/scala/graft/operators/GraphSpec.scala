package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit}

import graft.TestSpark

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int = 10)
      : Map[String, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = iters)
      .as[(String, Double)].collect().toMap

  test("two-node symmetric graph splits mass evenly") {
    val pr = ranks(Seq(("a", "b"), ("b", "a")))
    assert(math.abs(pr("a") - 0.5) < 1e-9)
    assert(math.abs(pr("b") - 0.5) < 1e-9)
  }

  test("mass sums to ~1 and the star center outranks its leaves") {
    val leaves = (1 to 6).map(i => s"leaf$i")
    val pr = ranks(leaves.flatMap(l => Seq((l, "hub"), ("hub", l))))
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(leaves.forall(l => pr("hub") > pr(l)))
    // leaves are symmetric → identical ranks
    assert(leaves.map(pr).distinct.size == 1)
  }

  test("directed chain: downstream nodes accumulate more rank") {
    // a -> b -> c ; c is a dangling sink (keeps its mass, no
    // redistribution) so pr(c) > pr(b) > pr(a)
    val pr = ranks(Seq(("a", "b"), ("b", "c")))
    assert(pr("c") > pr("b") && pr("b") > pr("a"))
  }

  test("weighted edges steer mass proportionally") {
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L))
    val pr = Graph.pageRank(edges.toDF("src", "dst", "w"),
        "src", "dst", weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(pr("b") > pr("c"))
  }

  test("parallel edges collapse to summed weight") {
    // duplicating (a,b) three times must equal a single weight-3 edge
    val dup = Graph.pageRank(
        Seq(("a", "b"), ("a", "b"), ("a", "b"), ("a", "c"),
          ("b", "a"), ("c", "a")).toDF("src", "dst"),
        "src", "dst")
      .as[(String, Double)].collect().toMap
    val weighted = Graph.pageRank(
        Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
          .toDF("src", "dst", "w"),
        "src", "dst", weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(dup == weighted)
  }

  test("bit-deterministic across partitioning layouts") {
    val edges = (0 until 400).flatMap { i =>
      Seq((s"doc$i", s"host${i % 7}"), (s"host${i % 7}", s"doc$i"),
        (s"doc$i", s"src${i % 13}"), (s"src${i % 13}", s"doc$i"))
    }
    val df1 = edges.toDF("src", "dst")
    val df8 = df1.repartition(8)
    val df3 = df1.repartition(3, org.apache.spark.sql.functions.col("dst"))
    val r1 = Graph.pageRank(df1, "src", "dst").as[(String, Double)]
      .collect().toMap
    val r8 = Graph.pageRank(df8, "src", "dst").as[(String, Double)]
      .collect().toMap
    val r3 = Graph.pageRank(df3, "src", "dst").as[(String, Double)]
      .collect().toMap
    assert(r1 == r8 && r1 == r3) // exact ==, not tolerance
    assert(math.abs(r1.values.sum - 1.0) < 1e-6)
  }

  test("trustRank: mass reaches only nodes reachable from the seeds") {
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"))
      .toDF("src", "dst")
    val pr = Graph.trustRank(edges, Seq("a").toDF("node"),
        "src", "dst", "node")
      .as[(String, Double)].collect().toMap
    // the c <-> d component is unreachable from the seed
    assert(pr("c") == 0.0 && pr("d") == 0.0)
    // seed holds teleport mass + b's return flow
    assert(pr("a") > pr("b") && pr("b") > 0.0)
  }

  test("trustRank: seeds outside the graph are ignored; all-absent throws") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val withGhost = Graph.trustRank(edges,
        Seq("a", "zzz").toDF("node"), "src", "dst", "node")
      .as[(String, Double)].collect().toMap
    val plain = Graph.trustRank(edges, Seq("a").toDF("node"),
        "src", "dst", "node")
      .as[(String, Double)].collect().toMap
    assert(withGhost == plain)
    intercept[IllegalArgumentException] {
      Graph.trustRank(edges, Seq("nope").toDF("node"), "src", "dst", "node")
    }
  }

  test("trustRank with every node seeded equals pageRank") {
    val edges = (0 until 50).flatMap { i =>
      Seq((s"d$i", s"h${i % 5}"), (s"h${i % 5}", s"d$i"))
    }.toDF("src", "dst")
    val allNodes = ((0 until 50).map(i => s"d$i") ++
      (0 until 5).map(i => s"h$i")).toDF("node")
    val tr = Graph.trustRank(edges, allNodes, "src", "dst", "node")
      .as[(String, Double)].collect().toMap
    val pr = Graph.pageRank(edges, "src", "dst")
      .as[(String, Double)].collect().toMap
    assert(tr == pr) // exact ==
  }

  test("fractional, zero and negative weights are rejected, not truncated") {
    val df = Seq(("a", "b", 0.7), ("b", "a", 1.0)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graph.pageRank(df, "src", "dst", weightCol = Some("w")).collect()
    }
    assert(ex.getMessage.contains("positive integers"))
    val zero = Seq(("a", "b", 0L), ("b", "a", 1L)).toDF("src", "dst", "w")
    intercept[Exception] {
      Graph.pageRank(zero, "src", "dst", weightCol = Some("w")).collect()
    }
    // a malformed string weight casts to null — every comparison with
    // null is null, so the guard must test the cast's nullness too
    val junk = Seq(("a", "b", "abc"), ("b", "a", "1")).toDF("src", "dst", "w")
    val ex2 = intercept[Exception] {
      Graph.trustRank(junk, Seq("a").toDF("node"), "src", "dst", "node",
        weightCol = Some("w")).collect()
    }
    assert(ex2.getMessage.contains("trustRank"),
      s"wrong op label: ${ex2.getMessage}")
  }

  test("per-round delta contracts geometrically (damping envelope)") {
    val edges = (0 until 100).flatMap { i =>
      Seq((s"d$i", s"h${i % 5}"), (s"h${i % 5}", s"d$i"))
    }.toDF("src", "dst")
    def at(it: Int): Map[String, Double] =
      Graph.pageRank(edges, "src", "dst", iterations = it)
        .as[(String, Double)].collect().toMap
    def delta(a: Map[String, Double], b: Map[String, Double]): Double =
      a.map { case (k, v) => math.abs(v - b(k)) }.max
    val (p5, p6, p15, p16, p30) = (at(5), at(6), at(15), at(16), at(30))
    val (d5, d15) = (delta(p5, p6), delta(p15, p16))
    // ten more rounds shrink the step by ~0.85^10 ≈ 0.2 (2x slack)
    assert(d15 < d5 * math.pow(0.85, 10) * 2.0,
      s"d5=$d5 d15=$d15 — no geometric contraction")
    // and 30 rounds agree with 15 to within the remaining envelope
    assert(p15.forall { case (k, v) => math.abs(v - p30(k)) < 1e-2 })
    assert(math.abs(p30.values.sum - 1.0) < 1e-6)
  }

  private def hitsMap(edges: Seq[(String, String)], iters: Int = 8)
      : Map[String, (Double, Double)] =
    Graph.hits(edges.toDF("src", "dst"), "src", "dst", iterations = iters)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("hits on a star: leaves are the hubs, the center the authority") {
    val got = hitsMap(Seq(("l1", "c"), ("l2", "c"), ("l3", "c")))
    // hand-replay on the default 1e-12 lattice:
    // leaf hub = floor(1e12/3 + 0.5)/1e12 = 0.333333333333
    val leafHub = 0.333333333333
    assert(got("c") == ((0.0, 1.0)), s"center: ${got("c")}")
    Seq("l1", "l2", "l3").foreach { l =>
      assert(got(l) == ((leafHub, 0.0)), s"$l: ${got(l)}")
    }
  }

  test("hits on a chain: interior node is both hub and authority") {
    val got = hitsMap(Seq(("a", "b"), ("b", "c")))
    // stable point on the lattice: hub(a)=hub(b)=0.5, auth(b)=auth(c)=0.5
    assert(got("a") == ((0.5, 0.0)))
    assert(got("b") == ((0.5, 0.5)))
    assert(got("c") == ((0.0, 0.5)))
  }

  test("hits is bit-deterministic across input partitioning") {
    val rnd = new scala.util.Random(3)
    val edges = (1 to 300).map(_ =>
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
    def run(parts: Int) =
      Graph.hits(edges.toDF("src", "dst").repartition(parts),
          "src", "dst", iterations = 8)
        .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(run(1) == run(13))
  }

  test("hits guards degenerate inputs loudly") {
    intercept[IllegalArgumentException] {
      Graph.hits(Seq(("a", "b")).toDF("src", "dst"), "src", "dst",
        iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.hits(
        Seq((null.asInstanceOf[String], "b")).toDF("src", "dst")
          .filter($"src".isNotNull),
        "src", "dst")
    }
  }

  test("labelPropagation: triangle+pendant converges, ties take min label") {
    // hand-traced synchronous rounds: r1 a→'b' (tie {b,c,d} → min),
    // b/c→'a', d→'a'; by r3 every node reads 'a' and r4 is stable
    val got = Graph.labelPropagation(
        Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
          .toDF("src", "dst"), "src", "dst", iterations = 4)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
    // round-1 snapshot pins the tie rule directly: a's neighbors
    // {b, c, d} all vote once -> min label 'b'
    val r1 = Graph.labelPropagation(
        Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
          .toDF("src", "dst"), "src", "dst", iterations = 1)
      .as[(String, String)].collect().toMap
    assert(r1("a") == "b" && r1("d") == "a")
    // two disjoint components never share labels
    val comp = Graph.labelPropagation(
        Seq(("p1", "p2"), ("p2", "p3"), ("q1", "q2"), ("q2", "q3"))
          .toDF("src", "dst"), "src", "dst", iterations = 4)
      .as[(String, String)].collect().toMap
    assert(comp.filter(_._1.startsWith("p")).values.forall(_.startsWith("p")))
    assert(comp.filter(_._1.startsWith("q")).values.forall(_.startsWith("q")))
  }

  test("labelPropagation is partitioning-invariant") {
    val rng = new scala.util.Random(31)
    val edges = (1 to 300).map(_ =>
      (s"n${rng.nextInt(60)}", s"n${rng.nextInt(60)}"))
    val a = Graph.labelPropagation(
        edges.toDF("src", "dst"), "src", "dst", iterations = 5)
      .as[(String, String)].collect().toMap
    val b = Graph.labelPropagation(
        edges.toDF("src", "dst").repartition(13), "src", "dst",
        iterations = 5)
      .as[(String, String)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("triangles: hand graph — K3, open square, pendant") {
    // triangle {1,2,3}; square 4-5-6-7 (no diagonal: zero triangles);
    // pendant 8 hanging off 1; duplicate + reversed + self-loop edges
    // must collapse/drop
    val edges = Seq(
      ("1", "2"), ("2", "3"), ("3", "1"), ("2", "1"), ("1", "1"),
      ("4", "5"), ("5", "6"), ("6", "7"), ("7", "4"),
      ("1", "8")).toDF("src", "dst")
    val got = Graph.triangles(edges, "src", "dst")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("1") == ((3L, 1L, Some(333333L)))) // 2·1/(3·2) = 1/3
    assert(got("2") == ((2L, 1L, Some(1000000L))))
    assert(got("3") == ((2L, 1L, Some(1000000L))))
    assert(got("4") == ((2L, 0L, Some(0L))))
    assert(got("8") == ((1L, 0L, None))) // deg < 2: undefined cc
    // global triangle count: each triangle credits its 3 corners once
    assert(got.values.map(_._2).sum == 3L)
  }

  test("triangles counts K4 exactly once per triangle") {
    val nodes = Seq("a", "b", "c", "d")
    val k4 = (for {
      x <- nodes; y <- nodes if x < y
    } yield (x, y)).toDF("src", "dst")
    val got = Graph.triangles(k4, "src", "dst")
      .as[(String, Long, Long, Option[Long])].collect()
    // K4: every node has deg 3, sits in C(3,2) = 3 triangles, cc = 1
    assert(got.length == 4)
    got.foreach { case (n, d, t, cc) =>
      assert(d == 3L && t == 3L && cc.contains(1000000L), n)
    }
    assert(got.map(_._3).sum == 12L) // 4 triangles x 3 corners
  }

  test("triangles is partitioning-invariant") {
    val edges = (1 to 60).flatMap(i =>
      Seq((s"n$i", s"n${i + 1}"), (s"n$i", s"n${i + 2}")))
    def run(parts: Int) =
      Graph.triangles(edges.toDF("src", "dst").repartition(parts),
          "src", "dst")
        .as[(String, Long, Long, Option[Long])].collect().sorted.toSeq
    assert(run(1) == run(17))
  }

  test("degreePowerLaw: hand-computed star + clique summary") {
    // star: hub h with 6 leaves (deg 6 / 1×6); clique K3 (deg 2 each)
    val edges =
      (1 to 6).map(i => ("h", s"s$i")) ++
        Seq(("x", "y"), ("y", "z"), ("z", "x"), ("x", "y")) // dup edge
    val got = Graph.degreePowerLaw(edges.toDF("src", "dst"),
        "src", "dst", dMin = 2)
      .collect().head
    assert(got.getAs[Long]("n_nodes") == 10L)
    assert(got.getAs[Long]("n_edges") == 9L)
    assert(got.getAs[Long]("max_degree") == 6L)
    // mean = 18/10 = 1.8
    assert(got.getAs[Long]("mean_degree_e4") == 18000L)
    assert(got.getAs[Long]("n_fit") == 4L) // h + x + y + z
    // alpha = 1 + 4e6 / (ln(6/1.5)e6 + 3·ln(2/1.5)e6), lattice terms
    val lnSum = math.floor(math.log(6.0 / 1.5) * 1e6 + 0.5).toLong +
      3L * math.floor(math.log(2.0 / 1.5) * 1e6 + 0.5).toLong
    val want = math.floor(
      (1.0 + 4.0 * 1e6 / lnSum.toDouble) * 1e6 + 0.5).toLong
    assert(got.getAs[Long]("alpha_e6") == want)
    // all-degree-1 graph: fit undefined -> NULL
    val line = Graph.degreePowerLaw(
        Seq(("a", "b"), ("c", "d")).toDF("src", "dst"),
        "src", "dst", dMin = 2)
      .collect().head
    assert(line.getAs[Long]("n_fit") == 0L)
    assert(line.isNullAt(line.fieldIndex("alpha_e6")))
  }

  test("triangles matches a driver-side brute force on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 30
    // ~dense enough for plenty of triangles, plus duplicates/reversals
    val raw = (0 until 220).map { _ =>
      (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")
    }
    val got = Graph.triangles(raw.toDF("src", "dst"), "src", "dst")
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    // brute force: symmetric simple adjacency, count triangles per node
    val adj = raw.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val triCount = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && adj(a)(b)
      c <- nodes if b < c && adj(a)(c) && adj(b)(c)
    } {
      triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
    }
    assert(got.keySet == adj.keySet)
    got.foreach { case (node, (deg, tri, cc)) =>
      assert(deg == adj(node).size.toLong, s"deg $node")
      assert(tri == triCount(node), s"tri $node")
      val d = adj(node).size.toLong
      if (d >= 2) {
        val want = (2 * (2 * triCount(node) * 1000000L) + d * (d - 1)) /
          (2 * d * (d - 1))
        assert(cc.contains(want), s"cc $node")
      } else assert(cc.isEmpty, s"cc $node")
    }
  }

  test("assortativity: star is -1, regular graph undefined, dups collapse") {
    import spark.implicits._
    // star K1,4: every edge joins deg 4 to deg 1 — perfectly
    // disassortative, r = -1 exactly; duplicate/reversed/self edges drop
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"),
      ("a", "h"), ("h", "h")).toDF("src", "dst")
    val (n1, e1, r1) = Graph.assortativity(star, "src", "dst")
      .as[(Long, Long, Option[Double])].head()
    assert(n1 == 5L && e1 == 4L && r1.contains(-1.0))
    // a cycle is 2-regular: zero degree variance, r undefined -> NULL
    val cyc = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"))
      .toDF("src", "dst")
    val (n2, e2, r2) = Graph.assortativity(cyc, "src", "dst")
      .as[(Long, Long, Option[Double])].head()
    assert(n2 == 4L && e2 == 4L && r2.isEmpty)
  }

  test("assortativity equals the brute-force Pearson on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val nodes = (0 until 30).map(_.toString)
    val edges = Seq.fill(120) {
      (nodes(rnd.nextInt(nodes.length)), nodes(rnd.nextInt(nodes.length)))
    }.filter { case (a, b) => a != b }
    val got = Graph.assortativity(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Option[Double])].head()
    // plain-Scala reference: symmetric simple graph, ordered-pair Pearson
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = und.map { case (a, b) => (deg(a), deg(b)) }
    val p = BigInt(xs.size)
    val sxy = xs.map { case (x, y) => BigInt(x) * y }.sum
    val sx = xs.map(x => BigInt(x._1)).sum
    val sxx = xs.map(x => BigInt(x._1) * x._1).sum
    assert(got._1 == deg.size.toLong && got._2 == und.size / 2)
    val den = p * sxx - sx * sx
    if (den == 0) assert(got._3.isEmpty)
    else {
      val want = BigDecimal((p * sxy - sx * sx).toDouble / den.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got._3.contains(want), s"got ${got._3} want $want")
    }
  }
  test("propagation family: driver fast paths ≡ distributed loops, bit for bit") {
    import spark.implicits._
    // Both paths claim the SAME exact lattice (identical IEEE op order,
    // exact integer sums, UTF8-binary tie-breaks) — results must agree
    // to the last bit, not approximately. Random multigraph with
    // integer weights, self-referencing names that exercise the string
    // tie-break (p1 vs p10 prefix ordering).
    val rnd = new scala.util.Random(47)
    val nodes = (1 to 25).map(i => s"p$i")
    val edges = Seq.fill(300) {
      (nodes(rnd.nextInt(nodes.length)), nodes(rnd.nextInt(nodes.length)),
        1L + rnd.nextInt(5))
    }.filter { case (a, b, _) => a != b }
    // the same edges plus one null-dst edge, and a null seed: both
    // paths must drop null nodes alike
    val withNullDst = edges :+ (("p2", null: String, 2L))
    def sortedRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    val seeds = Seq("p1", "p3", "p7", null).toDF("node")
    for (es <- Seq(edges, withNullDst)) {
      val df = es.toDF("src", "dst", "w")
      def bothPaths(run: => org.apache.spark.sql.DataFrame): Unit =
        assert(sortedRows(run) == TestSpark.distributed(sortedRows(run)))
      bothPaths(Graph.pageRank(df, "src", "dst", Some("w")))
      bothPaths(Graph.trustRank(df, seeds, "src", "dst", "node", Some("w")))
      bothPaths(Graph.hits(df, "src", "dst"))
      bothPaths(Graph.labelPropagation(df, "src", "dst"))
    }
  }
  test("kCore: hand cases — triangle survives k=2, pendant peels, K4 at k=3") {
    import spark.implicits._
    def run(edges: Seq[(String, String)], k: Int): Map[String, Long] =
      Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k)
        .as[(String, Long)].collect().toMap
    // triangle + pendant chain: 2-core = the triangle alone
    val g1 = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("4", "5"))
    assert(run(g1, 2) == Map("1" -> 2L, "2" -> 2L, "3" -> 2L))
    // the same graph has no 3-core: everything unravels
    assert(run(g1, 3).isEmpty)
    // K4 IS a 3-core; duplicate/reversed/self edges collapse first
    val k4 = (for { x <- Seq("a","b","c","d"); y <- Seq("a","b","c","d") }
      yield (x, y)) // includes self-loops + both directions
    assert(run(k4, 3) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("kCore ≡ brute-force simultaneous peel; driver ≡ distributed") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val nodes = (0 until 40).map(i => s"n$i")
    val edges = Seq.fill(140) {
      (nodes(rnd.nextInt(nodes.length)), nodes(rnd.nextInt(nodes.length)))
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    val got = Graph.kCore(df, "src", "dst", k = 3, rounds = 10)
      .as[(String, Long)].collect().toMap
    // plain-Scala reference: symmetric simple graph, simultaneous rounds
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var alive = und.map(_._1).toSet
    for (_ <- 1 to 10) {
      val deg = und.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).view.mapValues(_.size).toMap
      alive = alive.filter(n => deg.getOrElse(n, 0) >= 3)
    }
    val want = und.filter(e => alive(e._1) && alive(e._2))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    // bit-for-bit parity with the distributed loop
    val dist = TestSpark.distributed {
      Graph.kCore(df, "src", "dst", k = 3, rounds = 10)
        .as[(String, Long)].collect().toMap
    }
    assert(got == dist)
  }
  test("cooccurrence: hand pairs, dedup, loud hub-key cap, null raise") {
    import spark.implicits._
    // key 1 holds {a, b, c}; key 2 holds {a, b} twice (dedup); key 3 {c}
    val rows = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (2L, "a"), (2L, "b"), (3L, "c"))
    val got = Graph.cooccurrence(rows.toDF("k", "item"), "k", "item")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // one key past the cap fails loudly, not quadratically
    val hub = (1 to 40).map(i => (9L, s"i$i"))
    val err = intercept[Exception] {
      Graph.cooccurrence(hub.toDF("k", "item"), "k", "item",
        maxItemsPerKey = 30).collect()
    }
    assert(err.getMessage.contains("maxItemsPerKey")
      || err.getCause != null &&
        err.getCause.getMessage.contains("maxItemsPerKey"), err.getMessage)
    val e2 = intercept[Exception] {
      Graph.cooccurrence(Seq((Option.empty[String], "x")).toDF("k", "item"),
        "k", "item").collect()
    }
    assert(e2.getMessage.contains("null key") || e2.getCause != null &&
      e2.getCause.getMessage.contains("null key"), e2.getMessage)
  }

  test("cooccurrence ≡ brute-force pair enumeration on random incidence") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val rows = Seq.fill(400)(
      (rnd.nextInt(30).toLong, s"t${rnd.nextInt(12)}"))
    val got = Graph.cooccurrence(rows.toDF("k", "item"), "k", "item")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = rows.distinct.groupBy(_._1).values.flatMap { items =>
      val is = items.map(_._2).sorted
      for (i <- is.indices; j <- (i + 1) until is.size) yield (is(i), is(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want && want.nonEmpty)
  }

  test("adamicAdar: hand scores, edge/candidate flags, hub cap") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 3-4: wedges through 1 and 2 (deg 2,
    // c6 = floor(1e6/ln 2)) and through 3 (deg 3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.adamicAdar(edges, "src", "dst")
      .as[(String, String, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val c2 = math.floor(1e6 / math.log(2.0)).toLong // 1442695
    val c3 = math.floor(1e6 / math.log(3.0)).toLong // 910239
    assert(got == Map(
      ("2", "3") -> ((1L, c2, "edge")),
      ("1", "3") -> ((1L, c2, "edge")),
      ("1", "2") -> ((1L, c3, "edge")),
      ("1", "4") -> ((1L, c3, "candidate")),
      ("2", "4") -> ((1L, c3, "candidate"))))
    // hub cap: a 70-leaf star generates NO pairs at maxDeg 64 (the
    // center is dropped from the wedge index; leaves are deg 1), and
    // C(70,2) pairs once the cap admits it
    val star = (1 to 70).map(i => ("h", s"l$i")).toDF("src", "dst")
    assert(Graph.adamicAdar(star, "src", "dst", maxDeg = 64).count() == 0)
    assert(Graph.adamicAdar(star, "src", "dst", maxDeg = 128).count() ==
      70L * 69 / 2)
  }

  test("cooccurrenceLift: hand lattices, independence baseline = 1e6") {
    import spark.implicits._
    // a,b co-occur in 3 of 4 baskets (each appears 3×): lift 4/3;
    // c,d co-occur once and are rare: lift 4
    val df = Seq(("k1", "a"), ("k1", "b"), ("k2", "a"), ("k2", "b"),
      ("k3", "a"), ("k3", "b"), ("k4", "c"), ("k4", "d"))
      .toDF("k", "item")
    val got = Graph.cooccurrenceLift(df, "k", "item")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // 3·4·1e6/9 = 1333333.33 → half-up 1333333
    assert(got == Map(
      ("a", "b") -> ((3L, 3L, 3L, 1333333L)),
      ("c", "d") -> ((1L, 1L, 1L, 4000000L))))
    // a pair at exactly its independence baseline reads 1e6
    val indep = Seq(("k1", "x"), ("k1", "y"), ("k2", "x"), ("k2", "y"))
      .toDF("k", "item")
    val l = Graph.cooccurrenceLift(indep, "k", "item")
      .as[(String, String, Long, Long, Long, Long)].collect().head
    assert(l._6 == 1000000L)
  }

  test("adamicAdar ≡ brute-force scalar model on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val edges = (0 until 150).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val got = Graph.adamicAdar(
        edges.toDF("src", "dst"), "src", "dst", maxDeg = 10)
      .as[(String, String, Long, Long, String)].collect().toSet
    // plain-scala model over the same normalized string graph
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2)
      .map(e => (e._1.toString, e._2.toString)).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val eSet = und.toSet
    val want = adj.toSeq
      .filter { case (_, ns) => ns.size >= 2 && ns.size <= 10 }
      .flatMap { case (z, ns) =>
        val c6 = math.floor(1e6 / math.log(adj(z).size.toDouble)).toLong
        val s = ns.toSeq.sorted
        for (i <- s.indices; j <- (i + 1) until s.size)
          yield ((s(i), s(j)), c6)
      }
      .groupBy(_._1).map { case ((a, b), cs) =>
        (a, b, cs.size.toLong, cs.map(_._2).sum,
          if (eSet((a, b))) "edge" else "candidate")
      }.toSet
    assert(got == want && want.nonEmpty)
  }

  test("richClub: hand curve (hub clique + pendant spokes), zero-fill, " +
      "NULL below two nodes; plain-Scala parity on a random graph") {
    // K4 on {1,2,3,4} (deg ≥ 3 each) + pendant spokes 1–5, 2–6
    // (deg 1): k=1,2 keep the K4 + spoke endpoints' hubs... deg: 1:4,
    // 2:4, 3:3, 4:3, 5:1, 6:1
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val edges = (k4 ++ Seq((1L, 5L), (2L, 6L))).toDF("src", "dst")
    val got = Graph.richClub(edges, "src", "dst", maxK = 4)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 4)
    // k=1/k=2: nodes {1,2,3,4} (deg>2), all 6 K4 edges → φ = 1
    assert(got(1L) == ((4L, 6L, Some(1000000L))))
    assert(got(2L) == ((4L, 6L, Some(1000000L))))
    // k=3: nodes {1,2} (deg 4), edge 1–2 → φ = 1
    assert(got(3L) == ((2L, 1L, Some(1000000L))))
    // k=4: no nodes → zero row, NULL φ
    assert(got(4L) == ((0L, 0L, None)))
    // random graph ≡ plain-Scala suffix-sum model
    val rnd = new scala.util.Random(101)
    val redges = (1 to 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val gotR = Graph.richClub(redges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val und = redges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2)
      .map(e => (e._1.toString, e._2.toString)).distinct
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val half = und.filter(e => e._1 < e._2)
      .map(e => math.min(deg(e._1), deg(e._2)))
    val want = (1L to 16L).map { k =>
      val nn = deg.values.count(_ > k).toLong
      val ne = half.count(_ > k).toLong
      val phi = if (nn >= 2)
        Some((2 * (2 * ne * 1000000L) + nn * (nn - 1)) /
          (2 * nn * (nn - 1)))
      else None
      k -> ((nn, ne, phi))
    }.toMap
    assert(gotR == want)
  }

  test("avgNeighborDegree: hand star curve; plain-Scala parity on a " +
      "random graph") {
    // star K1,3: knn(3) = 1 (the hub sees only leaves), knn(1) = 3
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val got = Graph.avgNeighborDegree(star, "src", "dst")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(3L -> ((1L, 1000000L)), 1L -> ((3L, 3000000L))))
    // random graph ≡ plain-Scala rational model
    val rnd = new scala.util.Random(127)
    val redges = (1 to 300).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val gotR = Graph.avgNeighborDegree(
        redges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val und = redges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2)
      .map(e => (e._1.toString, e._2.toString)).distinct
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = und.groupBy(e => deg(e._1)).map { case (k, es) =>
      val num = es.map(e => BigInt(deg(e._2))).sum
      val nk = BigInt(es.map(_._1).distinct.size)
      k -> ((nk.toLong,
        ((2 * num * 1000000 + nk * k) / (2 * nk * k)).toLong))
    }
    assert(gotR == want && want.nonEmpty)
  }

  test("reciprocity: hand flags (mutual pair, one-way, self-loop and " +
      "parallel drops); plain-Scala parity on a random digraph") {
    // 1→2 and 2→1 mutual; 2→3 one-way; 3→3 self-loop drops; 1→2
    // duplicate collapses → 3 directed edges, 2 mutual
    val got = Graph.reciprocity(
        Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L), (1L, 2L))
          .toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Option[Long])].collect().head
    assert(got == ((3L, 2L, Some(666667L))))
    // empty graph → zero row, NULL share
    val empty = Graph.reciprocity(
        Seq((7L, 7L)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Option[Long])].collect().head
    assert(empty == ((0L, 0L, None)))
    // random digraph ≡ plain-Scala pair-flag model
    val rnd = new scala.util.Random(103)
    val redges = (1 to 500).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val gotR = Graph.reciprocity(redges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Option[Long])].collect().head
    val dir = redges.filter(e => e._1 != e._2)
      .map(e => (e._1.toString, e._2.toString)).distinct.toSet
    val nE = dir.size.toLong
    val nM = dir.count { case (a, b) => dir((b, a)) }.toLong
    val want = (nE, nM,
      if (nE > 0) Some((2 * nM * 1000000L + nE) / (2 * nE)) else None)
    assert(gotR == want && nE > 0)
  }
  test("modularity: hand two-triangle-plus-bridge graph, unlabeled " +
      "node raises; BigInt parity on random graphs and labelings") {
    import spark.implicits._
    // two triangles {a,b,c} and {d,e,f} joined by one bridge c–d:
    // m = 7, perfect labeling: intra = 6, degrees (2,2,3,3,2,2),
    // d_A = d_B = 7 → Q = (4·7·6 − 98)/(4·49) = 70/196 = 0.357142857…
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d"))
      .toDF("src", "dst")
    val labels = Seq("a" -> "A", "b" -> "A", "c" -> "A",
      "d" -> "B", "e" -> "B", "f" -> "B").toDF("node", "label")
    val got = Graph.modularity(edges, labels, "src", "dst",
        "node", "label")
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(got == ((2L, 7L, 6L, Some(357143L))))
    // everything in ONE community: Q = (4m·m − (2m)²)/(4m²) = 0
    val one = Graph.modularity(edges,
        labels.select(col("node"), lit("X").as("label")),
        "src", "dst", "node", "label")
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(one == ((1L, 7L, 7L, Some(0L))))
    // an unlabeled node raises loudly
    val e = intercept[Exception] {
      Graph.modularity(edges, labels.filter(col("node") =!= "e"),
        "src", "dst", "node", "label").collect()
    }
    assert((e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("unlabeled node"), e.getMessage)
    // random graph + random labeling ≡ BigInt textbook formula
    val rnd = new scala.util.Random(241)
    val redges = Seq.fill(160)(
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
    val rlabels = (0 until 40).map(i => s"n$i" -> s"c${rnd.nextInt(5)}")
    val gotR = Graph.modularity(redges.toDF("src", "dst"),
        rlabels.toDF("node", "label"), "src", "dst", "node", "label")
      .as[(Long, Long, Long, Option[Long])].collect().head
    val und = redges.filter(e2 => e2._1 != e2._2)
      .map(e2 => (Seq(e2._1, e2._2).min, Seq(e2._1, e2._2).max))
      .distinct
    val lm = rlabels.toMap
    val m = BigInt(und.size)
    val intra = BigInt(und.count(e2 => lm(e2._1) == lm(e2._2)))
    val deg = und.flatMap(e2 => Seq(e2._1, e2._2))
      .groupBy(identity).map { case (k, v) => k -> BigInt(v.size) }
    val dc = deg.groupBy { case (nd, _) => lm(nd) }
      .map { case (_, xs) => xs.values.sum }
    val sd2 = dc.map(x => x * x).sum
    val nComm = und.flatMap(e2 => Seq(e2._1, e2._2)).distinct
      .map(lm).distinct.size.toLong
    val qn = 4 * m * intra - sd2
    val qd = 4 * m * m
    val qe6 =
      if (qn >= 0) (2 * qn * 1000000 + qd) / (2 * qd)
      else -((2 * (-qn) * 1000000 + qd) / (2 * qd))
    assert(gotR == ((nComm, m.toLong, intra.toLong, Some(qe6.toLong))))
  }

  test("transitivity: triangle+pendant hand graph; wedge-free NULL; " +
      "plain-Scala parity on a random graph") {
    val hand = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"))
      .toDF("s", "t")
    val g1 = Graph.transitivity(hand, "s", "t")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    // degs A2 B2 C3 D1 → wedges 5; one triangle; 3T/W = 0.6;
    // avg cc over {A,B,C} = (1 + 1 + 1/3)/3 → 777778 half-up
    assert(g1 == ((4L, 5L, 1L, Some(600000L), Some(777778L))))
    // a single edge has no wedge and no deg-2 node
    val g2 = Graph.transitivity(Seq(("X", "Y")).toDF("s", "t"), "s", "t")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(g2 == ((2L, 0L, 0L, None, None)))
    // random graph ≡ independent adjacency-set model
    val rnd = new scala.util.Random(71)
    val edges = (1 to 150).map(_ =>
      (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .filter(e => e._1 != e._2)
    val got = Graph.transitivity(edges.toDF("s", "t"), "s", "t")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    val und = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = und.keys.toSeq.sorted
    val triPer = nodes.map { v =>
      val nb = und(v).toSeq
      v -> nb.combinations(2).count(p => und(p(0)).contains(p(1)))
    }.toMap
    val w2 = nodes.map(v => BigInt(und(v).size) * (und(v).size - 1)).sum
    val t3 = BigInt(triPer.values.sum)
    val d2 = nodes.filter(v => und(v).size >= 2)
    val scc = d2.map { v =>
      val deg = BigInt(und(v).size)
      ((2 * (2 * BigInt(triPer(v)) * 1000000) + deg * (deg - 1)) /
        (2 * deg * (deg - 1))).toLong
    }.sum
    val wantTrans = ((2 * t3 * 2 * 1000000 + w2) / (2 * w2)).toLong
    val wantAvg = ((2 * BigInt(scc) + d2.size) / (2 * BigInt(d2.size)))
      .toLong
    assert(got == ((nodes.size.toLong, (w2 / 2).toLong, (t3 / 3).toLong,
      Some(wantTrans), Some(wantAvg))))
  }

  test("edgeSupport: hand triangle+pendant; support sums to 3T; " +
      "common-neighbor parity on a random graph") {
    val hand = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"))
      .toDF("s", "t")
    val g1 = Graph.edgeSupport(hand, "s", "t")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(g1 == Map(("A", "B") -> 1L, ("A", "C") -> 1L,
      ("B", "C") -> 1L, ("C", "D") -> 0L))
    // random graph: support(a,b) ≡ |N(a) ∩ N(b)|, support-0 edges
    // present, and Σ support = 3 · triangle count
    val rnd = new scala.util.Random(157)
    val edges = (1 to 200).map(_ =>
      (s"n${rnd.nextInt(25)}", s"n${rnd.nextInt(25)}"))
      .filter(e => e._1 != e._2)
    val got = Graph.edgeSupport(edges.toDF("s", "t"), "s", "t")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val adj = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val canon = edges.flatMap(e => Seq(e, e.swap)).distinct
      .filter(e => e._1 < e._2)
    assert(got.keySet == canon.toSet)
    canon.foreach { case (a, b) =>
      assert(got((a, b)) == (adj(a) intersect adj(b)).size.toLong,
        s"edge ($a,$b)")
    }
    val t3 = Graph.triangles(edges.toDF("s", "t"), "s", "t")
      .agg(org.apache.spark.sql.functions.sum("triangles"))
      .as[Long].collect().head
    assert(got.values.sum == t3)
  }

  test("bfsDistances: hand path graph, radius cap, edgeless seed " +
      "emits dist-0, plain-Scala BFS parity on a random graph") {
    // path A-B-C-D-E plus isolated F; seeds A and F, cap 2
    val path = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"))
      .toDF("s", "t")
    val g1 = Graph.bfsDistances(path, "s", "t", Seq("A", "F"),
        maxDepth = 2)
      .as[(String, String, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(g1 == Map(("A", "A") -> 0, ("A", "B") -> 1, ("A", "C") -> 2,
      ("F", "F") -> 0)) // D is 3 hops: beyond the radius, absent
    // random graph ≡ plain-Scala BFS from each seed, same cap
    val rnd = new scala.util.Random(179)
    val edges = (1 to 120).map(_ =>
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter(e => e._1 != e._2)
    val seeds = Seq("n0", "n1", "n2", "n3")
    val cap = 4
    val got = Graph.bfsDistances(edges.toDF("s", "t"), "s", "t",
        seeds, maxDepth = cap)
      .as[(String, String, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val adj = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty[String])
    val want = seeds.flatMap { s =>
      var dist = Map(s -> 0)
      var frontier = Set(s)
      for (d <- 1 to cap) {
        frontier = frontier.flatMap(adj).diff(dist.keySet)
        dist ++= frontier.map(_ -> d)
      }
      dist.map { case (node, dd) => (s, node) -> dd }
    }.toMap
    assert(got == want)
    // driver fast path ≡ distributed frontier loop
    val dist0 = TestSpark.distributed {
      Graph.bfsDistances(edges.toDF("s", "t"), "s", "t",
          seeds, maxDepth = cap)
        .as[(String, String, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    assert(dist0 == got)
  }
}
