package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph-propagation operators over edge-list DataFrames —
  * the link-analysis signals web-scale corpus curation uses (host-level
  * trust/authority propagation a la PageRank; TextRank keyword scoring
  * is the same fixpoint over a token co-occurrence graph).
  *
  * The reference engine has no graph operator; this family extends the
  * engine the same way the dedup-cluster fixpoint
  * ([[Dedup.duplicateClusters]]) does: a deterministic, bounded-round
  * iteration expressed as vanilla joins + aggregations so Catalyst/AQE
  * plan each round.
  */
object Graph {

  /** Weighted PageRank (Page et al. 1999) over a directed edge list,
    * run for a FIXED number of rounds (fixed rounds, not a convergence
    * probe: the per-round delta is data-dependent and would make the
    * output nondeterministic across engines). Power-iteration error
    * contracts by the damping factor per round — ≤ 0.85¹⁰ ≈ 0.2 of the
    * initial gap after the default 10, with bipartite structure (doc ↔
    * host graphs) oscillating at exactly that envelope — so pick
    * `iterations` for the accuracy the downstream policy needs; the
    * 1e-`grid` rounding floor is the precision ceiling.
    *
    * pr_0(v)   = 1/N
    * pr_r(v)   = (1-d)/N + d * Σ_{u→v} pr_{r-1}(u) * w(u,v) / W(u)
    *
    * where W(u) is u's total outgoing weight. Nodes are the edge-list
    * endpoints, so every node has W(u) > 0 when the caller symmetrizes
    * the graph (undirected co-occurrence edges emitted both ways);
    * genuinely dangling sinks (directed graphs) keep their base share
    * and their inbound mass — the "no dangling redistribution" variant,
    * chosen because redistribution needs an extra global sum per round
    * (one more action) for a constant the caller can fold in afterward.
    *
    * Determinism: ranks are carried as scaled integers (units of
    * 10^-`grid`, same philosophy as [[Pca]]'s integer-grid moments).
    * Every step is either a correctly-rounded IEEE double op (+, ×, ÷,
    * floor — bit-identical in any engine) or a sum of integer-valued
    * terms bounded far below 2⁵³ (exact in any partition order), and
    * `floor(x + 0.5)` replaces decimal `round()` entirely — engine
    * round() implementations disagree within 1 ulp of a half-up
    * boundary, and at ~10⁵ roundings per run those boundaries do get
    * hit. Two runs, two layouts, or two engines mirroring the
    * expression tree agree bit for bit.
    *
    * Scale: per round — one shuffle-hash join of the (checkpointed once)
    * weighted edge list with the node-sized rank table on `src`, one
    * hash aggregate on `dst` with map-side integer partials, one left
    * join back to the node set. The rank table is localCheckpointed
    * every third round (measured best on local[32]: the fixed round
    * count has no per-round action, so short lineage segments pipeline
    * through one job while the periodic checkpoint caps lineage at O(1)
    * — same discipline as [[Dedup.duplicateClusters]]' label
    * propagation). Nothing is ever collected to the driver; N comes
    * from one count action.
    *
    * Output: (node, pr) — pr on the 1e-`grid` grid, Σ pr ≈ 1.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None, iterations: Int = 10,
      damping: Double = 0.85, grid: Int = 12): DataFrame =
    propagate(edges, srcCol, dstCol, weightCol, None, iterations, damping,
      grid, op = "pageRank")

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    * with the teleport restricted to a trusted seed set — rank flows
    * out of hand-vetted nodes (trusted publishers / hosts), so pages
    * only reachable from spam keep rank ~0. The anti-spam prior web
    * curation mixes into quality scores.
    *
    * pr_0(v) = 1/|S| for seeds, else 0
    * pr_r(v) = [v ∈ S]·(1−d)/|S| + d · Σ_{u→v} pr_{r-1}(u)·w(u,v)/W(u)
    *
    * Seeds not present in the edge list are ignored (they can neither
    * receive nor forward mass). Same determinism and per-round shape as
    * [[pageRank]].
    */
  def trustRank(
      edges: DataFrame, seeds: DataFrame, srcCol: String, dstCol: String,
      seedCol: String, weightCol: Option[String] = None,
      iterations: Int = 10, damping: Double = 0.85, grid: Int = 12)
      : DataFrame =
    propagate(edges, srcCol, dstCol, weightCol,
      Some(seeds.select(col(seedCol).cast("string").as("node"))),
      iterations, damping, grid, op = "trustRank")

  /** UTF8String binary order (unsigned byte-wise) — what Spark's string
    * comparisons use; the driver fast paths must tie-break identically.
    */
  private def utf8Less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xFF; val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Edges in [[Guards.DriverCapRows]] or fewer make the fixed-round
    * loops run driver-side — the [[graft.operators.Dedup.resolveClusters]]
    * / bradleyTerry discipline: the per-round state is node-sized and
    * the arithmetic an exact lattice, so a sub-cap graph iterates as
    * plain Scala (zero Spark jobs per round instead of 2-4) with
    * bit-identical results, spec-pinned against the distributed loop
    * under [[Guards.distributedOnly]].
    */
  private def propagate(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], seeds: Option[DataFrame],
      iterations: Int, damping: Double, grid: Int,
      op: String): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100] (got $iterations)")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1) (got $damping)")
    require(grid >= 6 && grid <= 15,
      s"grid must be in [6, 15] (got $grid) — 10^grid must stay integer-exact in doubles")
    // Weights must be positive integers: a fractional weight would be
    // silently truncated by the long cast (0.7 -> 0 zeroes the edge) and
    // zero/negative weights corrupt mass conservation — fail loudly.
    // try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    // on a malformed string throws CAST_INVALID_INPUT before this guard
    // evaluates, stealing the labeled error; try_cast yields null, and
    // the null/NaN-ness of the CAST (not just the column) must then be
    // tested — every comparison against null is null, which `when`
    // treats as false — so an untested null would fail-open.
    val w = weightCol.map { c =>
      val d = col(c).try_cast("double")
      // the explicit try_cast("long").isNull disjunct catches values past
      // Long range (and +Inf): there try_cast yields null, the =!=
      // comparison is null, and when() would treat it as false —
      // falling through to the unguarded cast, the exact fail-open this
      // guard exists to prevent
      when(col(c).isNull || d.isNull || isnan(d) || d <= 0 ||
          d.try_cast("long").isNull ||
          d =!= d.try_cast("long").cast("double"),
        raise_error(concat(lit(s"$op: weight column '$c' must hold " +
          "positive integers, got "), col(c).cast("string"))))
        .otherwise(d.cast("long"))
    }.getOrElse(lit(1L))
    // An edge with a null endpoint and a null seed name are dropped
    // before either path ([[hits]]' rule): a null node would otherwise
    // take part in the driver loop but never match a distributed join.
    val raw = edges.select(
        col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), w.as("w"))
      .na.drop(Seq("src", "dst"))
    val seedNodes = seeds.map(_.na.drop().distinct())
    val scale = math.pow(10.0, grid) // exact: 10^grid < 2^53 for grid <= 15
    // Driver fast path: sub-cap edge lists iterate as plain Scala on
    // the SAME lattice (identical IEEE multiply/divide/floor order,
    // exact long contribution sums) — bit-identical to the distributed
    // loop below, spec-pinned. The probe is on the RAW projected edges
    // (the weight guard evaluates during the collect, as loud as the
    // distributed scan) so the sub-cap path never builds the collapse/
    // outW/node-distinct chain at all — the parallel-edge collapse,
    // out-weight totals, node set and teleport count are all exact
    // integer/set algebra, computed here from the collected rows
    // (measured: that Spark preamble was ~2.5 s of g1's 4.4 s on the
    // 10x corpus while the rank loop itself is milliseconds).
    val rawRowsOpt = Guards.driverRows(raw, Guards.DriverCapRows)
    val seedSetOpt: Option[Option[Set[String]]] =
      if (rawRowsOpt.isEmpty) None
      else seedNodes match {
        case None => Some(None)
        case Some(s) =>
          Guards.driverRows(s, Guards.DriverCapRows)
            .map(rows => Some(rows.map(_.getString(0)).toSet))
      }
    if (rawRowsOpt.isDefined && seedSetOpt.isDefined) {
      val rawRows = rawRowsOpt.get
      val seedSet = seedSetOpt.get
      // parallel-edge collapse + out-weights: exact long sums, any order
      val wByEdge = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Long]
      val outw = scala.collection.mutable.HashMap.empty[String, Long]
      for (r <- rawRows) {
        val s0 = r.getString(0); val d0 = r.getString(1); val w0 = r.getLong(2)
        val k = (s0, d0)
        wByEdge(k) = wByEdge.getOrElse(k, 0L) + w0
        outw(s0) = outw.getOrElse(s0, 0L) + w0
      }
      // node set = distinct src ∪ dst of the surviving edges
      val nameSet = scala.collection.mutable.LinkedHashSet.empty[String]
      for (((s0, d0), _) <- wByEdge) { nameSet += s0; nameSet += d0 }
      val names = nameSet.toArray
      val tele = seedSet match {
        case None => Array.fill(names.length)(true)
        case Some(ss) => names.map(ss.contains)
      }
      val n = tele.count(identity)
      require(n > 0,
        if (seeds.isEmpty) "graph has no nodes (empty or all-null edge list)"
        else "teleport set is empty (no seed appears in the graph)")
      val baseS = (1.0 - damping) / n * scale
      val idx = names.zipWithIndex.toMap
      val m = wByEdge.size
      val es = new Array[Int](m); val ed = new Array[Int](m)
      val ew = new Array[Long](m); val eo = new Array[Long](m)
      var x = 0
      for (((s0, d0), w0) <- wByEdge) {
        es(x) = idx(s0)
        ed(x) = idx(d0)
        ew(x) = w0
        eo(x) = outw(s0)
        x += 1
      }
      val p = Array.tabulate(names.length)(i =>
        if (tele(i)) math.floor(scale / n + 0.5) else 0.0)
      for (_ <- 1 to iterations) {
        val s = new Array[Long](names.length)
        x = 0
        while (x < m) {
          s(ed(x)) += math.floor(p(es(x)) * ew(x) / eo(x) + 0.5).toLong
          x += 1
        }
        var k = 0
        while (k < names.length) {
          p(k) = math.floor((if (tele(k)) baseS else 0.0) +
            damping * s(k).toDouble + 0.5).toLong.toDouble
          k += 1
        }
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return names.indices.map(i => (names(i), p(i) / scale)).toDF()
        .toDF("node", "pr")
    }
    // Parallel edges collapse to one summed-weight edge up front (exact
    // long sums) so the per-round join moves one row per distinct edge.
    val e0 = raw.groupBy("src", "dst").agg(sum("w").as("w"))
    val outW = e0.groupBy("src").agg(sum("w").as("outw"))
    // Checkpointed once: the edge list is re-joined every round, and
    // without the checkpoint each round would re-run the collapse + outW
    // aggregation subtree.
    val e = e0.join(outW, "src").localCheckpoint()
    // Node table carries the teleport membership flag (all nodes for
    // PageRank, the seed intersection for TrustRank) — checkpointed once,
    // re-joined every round.
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodes = (seedNodes match {
      case None => allNodes.withColumn("tele", lit(true))
      case Some(s) =>
        allNodes.join(s.withColumn("__s", lit(1)),
            Seq("node"), "left")
          .select(col("node"), col("__s").isNotNull.as("tele"))
    }).localCheckpoint()
    // |teleport set| — drives both the init mass and the per-round base.
    val n = nodes.filter(col("tele")).count()
    require(n > 0,
      if (seeds.isEmpty) "graph has no nodes (empty or all-null edge list)"
      else "teleport set is empty (no seed appears in the graph)")
    val baseS = (1.0 - damping) / n * scale
    // Ranks as integer-valued doubles in units of 1/scale (see the
    // determinism note above). Contribution floors stay >= 0; per-dst
    // sums are bounded by the total mass (~scale) — integer-exact.
    var pr = nodes.withColumn("p",
      when(col("tele"), lit(math.floor(scale / n + 0.5))).otherwise(lit(0.0)))
    for (r <- 1 to iterations) {
      val sums = e.join(pr, col("src") === col("node"))
        .select(col("dst"),
          floor(col("p") * col("w") / col("outw") + lit(0.5)).as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      pr = nodes.join(sums, col("node") === col("dst"), "left")
        .select(col("node"), col("tele"),
          floor(when(col("tele"), lit(baseS)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("s"), lit(0L)).cast("double") +
            lit(0.5)).cast("double").as("p"))
      // Checkpoint every third round (and nothing in between): with a
      // fixed round count there is no per-round action, so shallow
      // lineage segments pipeline through one job — the checkpoint only
      // caps analyzer/optimizer cost on the growing join chain.
      if (r % 3 == 0 || r == iterations) pr = pr.localCheckpoint()
    }
    pr.select(col("node"), (col("p") / lit(scale)).as("pr"))
  }

  /** HITS (Kleinberg, JACM 1999): hub and authority scores over a
    * directed edge list — the third classic link-analysis prior (a page
    * is a good HUB when it points at good authorities, a good AUTHORITY
    * when good hubs point at it; curation uses the authority side as a
    * quality prior and the hub side to find index/spam link farms).
    *
    * Fixed `iterations` of the mutual recurrence, L1-normalized each
    * half-step so scores stay on the 1e-`grid` integer lattice:
    *
    *   a_r(v) = Σ_{u→v} h_{r-1}(u),   then a ← ⌊a·scale/Σa + ½⌋
    *   h_r(u) = Σ_{u→v} a_r(v),       then h ← ⌊h·scale/Σh + ½⌋
    *
    * Same determinism contract as [[pageRank]]: scores are integer-
    * valued doubles in 1/scale units, every step an exact integer sum
    * or a correctly-rounded IEEE op (`floor(x + 0.5)`, never engine
    * `round()`), so any engine mirroring the tree agrees bit for bit.
    * The L1 sums ride as one-row broadcast joins inside the round's
    * plan — no extra action per round.
    *
    * Scale: per half-step one shuffle-hash join of the once-
    * checkpointed edge list with the node-sized score table and one
    * hash aggregate; scores localCheckpointed every third round (the
    * [[pageRank]] lineage discipline). Output: (node, hub, auth) on
    * the 1e-`grid` grid.
    */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, grid: Int = 12): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100] (got $iterations)")
    require(grid >= 6 && grid <= 15,
      s"grid must be in [6, 15] (got $grid)")
    val raw = edges.select(
        col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .na.drop()
    val scale = math.pow(10.0, grid)
    // Driver fast path (the propagate discipline): the half-step state
    // is two node-sized score arrays; sub-cap edge lists iterate as
    // plain Scala with identical long sums and IEEE norm ops —
    // bit-identical to the distributed loop, spec-pinned. A node keeps
    // a score entry exactly when the corresponding join would emit it
    // (authority: has in-edges; hub: has out-edges after round 1).
    // The probe is on the RAW null-dropped edges so this path never
    // runs the Spark edge-distinct/node-distinct/checkpoint preamble
    // (the propagate measurement: that preamble dwarfs the loop) —
    // the distinct edge and node sets are plain set algebra here.
    val rawRowsOpt = Guards.driverRows(raw, Guards.DriverCapRows)
    if (rawRowsOpt.isDefined) {
      val eSet = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
      for (r <- rawRowsOpt.get) eSet += ((r.getString(0), r.getString(1)))
      val nameSet = scala.collection.mutable.LinkedHashSet.empty[String]
      for ((s0, d0) <- eSet) { nameSet += s0; nameSet += d0 }
      require(nameSet.nonEmpty, "graph has no nodes (empty or all-null edges)")
      val names = nameSet.toArray
      val idx = names.zipWithIndex.toMap
      val nn = names.length
      val m = eSet.size
      val es = new Array[Int](m); val ed = new Array[Int](m)
      var x = 0
      for ((s0, d0) <- eSet) {
        es(x) = idx(s0)
        ed(x) = idx(d0)
        x += 1
      }
      // norm over the PRESENT entries only — the distributed norm sees
      // exactly the rows its input table carries
      def norm(v: Array[Double], present: Array[Boolean]): Unit = {
        var s = 0L
        var i = 0
        while (i < nn) { if (present(i)) s += v(i).toLong; i += 1 }
        val sD = s.toDouble
        i = 0
        while (i < nn) {
          if (present(i))
            v(i) = math.floor(v(i) * scale / sD + 0.5).toLong.toDouble
          i += 1
        }
      }
      val h = Array.fill(nn)(math.floor(scale + 0.5).toLong.toDouble)
      val hSet = Array.fill(nn)(true)
      norm(h, hSet)
      val a = new Array[Double](nn)
      val aSet = new Array[Boolean](nn)
      for (_ <- 1 to iterations) {
        java.util.Arrays.fill(a, 0.0)
        java.util.Arrays.fill(aSet, false)
        x = 0
        while (x < m) {
          if (hSet(es(x))) { a(ed(x)) += h(es(x)); aSet(ed(x)) = true }
          x += 1
        }
        norm(a, aSet)
        java.util.Arrays.fill(h, 0.0)
        java.util.Arrays.fill(hSet, false)
        x = 0
        while (x < m) {
          if (aSet(ed(x))) { h(es(x)) += a(ed(x)); hSet(es(x)) = true }
          x += 1
        }
        norm(h, hSet)
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return names.indices.map(i => (names(i),
          (if (hSet(i)) h(i) else 0.0) / scale,
          (if (aSet(i)) a(i) else 0.0) / scale)).toDF()
        .toDF("node", "hub", "auth")
    }
    val e = raw.distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    require(!nodes.isEmpty, "graph has no nodes (empty or all-null edges)")
    // Normalize a score column to Σ = scale on the integer lattice. The
    // input is materialized FIRST (one node-sized localCheckpoint per
    // half-step): norm consumes its input twice (the L1 sum and the
    // scaled projection), and the next half-step's join consumes the
    // output again — without the materialization each half-step would
    // re-evaluate the whole prior lineage twice, doubling the plan per
    // half-step (measured 18 s vs ~2 s at sf0.1). The checkpointed run
    // of half-step tables IS the iteration state, exactly like
    // propagate's rank table; the L1 sum then rides as a broadcast
    // one-row join with no extra action.
    def norm(df: DataFrame, c: String): DataFrame = {
      // LAZY checkpoint: the L1-sum broadcast job is the first to touch
      // the RDD and materializes the cache in passing; an eager
      // checkpoint here would add a dedicated job per half-step (16
      // extra jobs per run — measured ~25% of g3's wall time at sf0.1).
      // Lineage still truncates at materialization, which is all the
      // 2^k-plan-growth guard needs.
      val m = df.localCheckpoint(eager = false)
      val s = m.agg(sum(col(c)).as("__s"))
      m.crossJoin(broadcast(s))
        .select(col("node"),
          floor(col(c) * lit(scale) / col("__s") + lit(0.5)).as(c))
    }
    // h_0 as a LONG literal: every later half-step sums longs (floor
    // returns LongType) and is exact in any order; a double h_0 would
    // make the first L1 sum n·scale a floating sum that loses exactness
    // (and thus partition-order independence) past 2^53 — at grid 12
    // that's only ~9k nodes
    var h = nodes.withColumn("h", lit(math.floor(scale + 0.5).toLong))
    var hn = norm(h, "h") // h_0 = uniform, normalized to the lattice
    var a: DataFrame = null
    for (r <- 1 to iterations) {
      a = norm(
        e.join(hn, col("src") === col("node"))
          .groupBy(col("dst").as("node2")).agg(sum("h").as("a"))
          .select(col("node2").as("node"), col("a")), "a")
      hn = norm(
        e.join(a, col("dst") === col("node"))
          .groupBy(col("src").as("node2")).agg(sum("a").as("h"))
          .select(col("node2").as("node"), col("h")), "h")
    }
    // left joins: a pure-source node has no authority and a pure-sink
    // node no hub score — they appear with 0, not dropped
    nodes
      .join(hn, Seq("node"), "left")
      .join(a, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("h"), lit(0.0)) / lit(scale)).as("hub"),
        (coalesce(col("a"), lit(0.0)) / lit(scale)).as("auth"))
  }

  /** Per-node triangle count and local clustering coefficient (Watts &
    * Strogatz 1998; enumeration per Schank & Wagner 2005's
    * degree-ordered forward algorithm) — the link-farm / community
    * signal complementing the propagation family: spam rings and
    * boilerplate mirror clusters are triangle-dense, organic citation
    * graphs sparse.
    *
    * The graph is treated as undirected and simple: edges are
    * symmetrized, parallel edges collapse, self-loops drop. Each
    * triangle is enumerated EXACTLY once via the degree-ordering trick:
    * every edge orients from its lower (degree, node) endpoint to the
    * higher, wedges fan out only from a node's out-edges, and the
    * closing edge is a semi-join — each triangle's minimum-order vertex
    * is its unique wedge center, so no post-dedup pass exists. The
    * orientation also bounds the wedge fan-out by the OUT-degree
    * (≤ O(√m) on any graph), which is what keeps a celebrity hub from
    * exploding the join — the standard skew defense for triangle
    * counting, not just an optimization.
    *
    * Determinism: everything is exact integer counting; the clustering
    * coefficient 2T/(d(d−1)) lands on the 1e-6 lattice via round-half-up
    * (2a + b) div 2b integer division. Nodes with degree < 2 have no
    * defined coefficient (NULL), degree-≥2 nodes with no triangles read
    * 0.
    *
    * Scale: one distinct + degree aggregate, one self-join on the wedge
    * center (equi, AQE-splittable), one two-key semi-join for the
    * closure, one explode + count. No window, no driver state.
    *
    * Output: (node, deg, triangles, cc_e6).
    */
  def triangles(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (_, deg, tri) = triangleTriples(edges, srcCol, dstCol)
    val perNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_e6",
        when(col("deg") >= 2,
          expr("(2 * (2 * triangles * 1000000) + deg * (deg - 1)) " +
            "div (2 * deg * (deg - 1))")))
  }

  /** The simple undirected edge set (a, b) of `edges`: string node
    * names, null endpoints and self-loops dropped, both directions of
    * every edge, parallel edges collapsed. Callers checkpoint it.
    */
  private def undirected(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(
        col(srcCol).cast("string").as("a"),
        col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    raw.unionAll(raw.select(col("b").as("a"), col("a").as("b"))).distinct()
  }

  /** The shared triangle-enumeration head of [[triangles]] and
    * [[edgeSupport]]: normalized symmetric edge set, degrees, and the
    * each-triangle-once triple list (degree-ordered orientation +
    * closing-edge semi-join — the standard compact-forward algorithm).
    */
  private def triangleTriples(
      edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint()
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    // orient each undirected edge from lower (deg, node) to higher
    val ord = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .filter(struct(col("da"), col("a")) < struct(col("db"), col("b")))
      .select(col("a").as("u"), col("b").as("v"))
      .localCheckpoint()
    val tri = ord.as("x")
      .join(ord.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("ta"), col("x.v").as("tb"), col("y.v").as("tc"))
      // closing edge: (tb, tc) present in the symmetric edge set
      .join(und.select(col("a").as("tb"), col("b").as("tc")),
        Seq("tb", "tc"), "left_semi")
    (und, deg, tri)
  }

  /** Multi-source BFS distance table — exact unweighted shortest-path
    * distances from a SEED set, capped at `maxDepth` hops: the
    * shortest-path primitive the family was missing (how far is every
    * page from the seed domains; which docs sit within 3 citation hops
    * of a trusted core — the [[trustRank]] seed idea, with DISTANCES
    * instead of mass).
    *
    * Distributed frontier expansion (the [[labelPropagation]] loop
    * discipline): each round joins the current frontier to the
    * symmetric edge set, anti-joins everything already reached (so a
    * node's FIRST arrival — the BFS minimum — is the only one kept),
    * and localCheckpoints the round (a growing iterative lineage would
    * otherwise replan from scratch each round). The driver holds one
    * count per round, never rows. Rounds stop early when a frontier
    * empties; `maxDepth` bounds the loop and the OUTPUT contract —
    * nodes farther than the cap are absent, by design (the caller
    * asked for a radius, not a transitive closure).
    *
    * Seeds must be ≤ 64 (a distance table is seeds × reachable-nodes —
    * radius queries, not all-pairs; all-pairs at corpus scale is a
    * different algorithm). Output: (seed, node, dist), dist 0 at the
    * seed itself. Seeds absent from the graph still emit their dist-0
    * row (asking "how far from X" when X has no edges answers "X
    * alone", not silence).
    */
  def bfsDistances(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], maxDepth: Int = 10): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 64,
      s"seeds must be 1..64 (got ${seeds.size})")
    require(seeds.distinct.size == seeds.size, "seeds must be distinct")
    require(maxDepth >= 1 && maxDepth <= 64,
      s"maxDepth must be in [1, 64] (got $maxDepth)")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint()
    // Sub-cap driver fast path — the [[propagate]] discipline: BFS
    // distances are exact integers and the state is the (already
    // checkpointed) edge list, so a sub-cap graph runs the textbook
    // queue BFS per seed in plain Scala — ZERO Spark jobs per hop
    // instead of 2 (expand + emptiness probe) — emitting the identical
    // (seed, node, dist) set: both forms assign each reached node its
    // first-arrival depth exactly once, and the result is compared as a
    // set. Over the cap the frontier loop below runs unchanged; the
    // probe is one count job on the checkpoint.
    Guards.driverRows(und, Guards.DriverCapRows) match {
      case Some(rows) =>
        val adj = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[String]]
        for (r <- rows) adj.getOrElseUpdate(r.getString(0),
          scala.collection.mutable.ArrayBuffer.empty[String]) += r.getString(1)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Int)]
        for (s0 <- seeds) {
          val dist = scala.collection.mutable.HashMap.empty[String, Int]
          dist(s0) = 0
          out += ((s0, s0, 0))
          var frontier = List(s0)
          var d = 0
          while (d < maxDepth && frontier.nonEmpty) {
            d += 1
            val next = scala.collection.mutable.ArrayBuffer.empty[String]
            for (u <- frontier; vs <- adj.get(u); v <- vs)
              if (!dist.contains(v)) {
                dist(v) = d
                out += ((s0, v, d))
                next += v
              }
            frontier = next.toList
          }
        }
        return out.toSeq.toDF("seed", "node", "dist")
      case None => ()
    }
    // Each round's frontier is checkpointed once and never re-materialized,
    // and the "already reached" filter uses the undirected-BFS invariant:
    // a neighbor of a node at distance d has distance ≥ d − 1 (the edge set
    // is symmetrized above), so the only previously-reached nodes the
    // expansion can regenerate are in the PREVIOUS and CURRENT frontiers —
    // the anti-join scans two frontier-sized cached tables per round
    // instead of the whole growing `reached` set, and `reached` is never
    // re-checkpointed (that re-cache was O(depth²) I/O: at corpus scale
    // the reached table is the whole radius and rewriting it per hop
    // dominates the expansion itself). The per-round distinct runs on
    // (seed, node) only — `dist` is a round constant added afterwards — so
    // the anti-join immediately downstream reuses the distinct's
    // hash(seed, node) partitioning instead of paying a second exchange.
    var frontier = seeds.map(s => (s, s, 0))
      .toDF("seed", "node", "dist").localCheckpoint()
    var prev = frontier
    var frontiers = List(frontier)
    var depth = 0
    while (depth < maxDepth && frontier.limit(1).count() > 0) {
      depth += 1
      val d = depth
      val recent = prev.select("seed", "node")
        .unionByName(frontier.select("seed", "node"))
      val next = frontier
        .join(und, frontier("node") === und("a"))
        .select(col("seed"), col("b").as("node"))
        .distinct()
        .join(recent, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(d).as("dist"))
        .localCheckpoint()
      prev = frontier
      frontier = next
      frontiers ::= frontier
    }
    frontiers.map(_.select("seed", "node", "dist")).reduce(_ unionByName _)
  }

  /** Per-edge triangle support — |N(a) ∩ N(b)| for every undirected
    * edge (a < b): the k-truss building block (Cohen 2008) and the
    * edge-level strength read [[triangles]]' node table can't give
    * (an edge with zero support is a bridge-like link; a high-support
    * edge sits inside a dense community — the first cut for
    * graph-aware dedup cluster splitting).
    *
    * EXACT and one pass over the shared [[triangleTriples]] head:
    * each enumerated triangle contributes to its three canonical
    * edges (explode of 3), counted map-side-combined and left-joined
    * back so support-0 edges are EMITTED (a bridge you can see, the
    * richClub zero-fill discipline). Output: (node_a, node_b,
    * support) with node_a < node_b.
    */
  def edgeSupport(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (und, _, tri) = triangleTriples(edges, srcCol, dstCol)
    val canon = und.filter(col("a") < col("b"))
    val perEdge = tri.select(explode(array(
        struct(least(col("ta"), col("tb")).as("a"),
          greatest(col("ta"), col("tb")).as("b")),
        struct(least(col("ta"), col("tc")).as("a"),
          greatest(col("ta"), col("tc")).as("b")),
        struct(least(col("tb"), col("tc")).as("a"),
          greatest(col("tb"), col("tc")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    canon.join(perEdge, Seq("a", "b"), "left")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Rich-club coefficient curve (Zhou & Mondragón 2004) — for each
    * degree threshold k in 1..`maxK`: the density φ(k) = 2·E_k /
    * (N_k·(N_k−1)) of the subgraph induced by nodes of degree > k.
    * A rising φ(k) means hubs preferentially interlink (link farms,
    * SEO rings, mirror meshes); organic webs stay flat-to-falling —
    * the curve-level companion to [[assortativity]]'s one number.
    *
    * Exact and ONE pass over the edges, never a per-k subgraph scan:
    * an edge belongs to every k < min(deg_a, deg_b) and a node to
    * every k < deg, so both reduce to suffix sums over two tiny
    * histograms (min-degree and degree) on the broadcast k spine —
    * the stickiness offset-fanout discipline applied to thresholds.
    * Input normalization as [[triangles]] (nulls drop, self-loops
    * drop, parallel edges collapse, undirected). φ rides the half-up
    * 1e-6 lattice; k rows with N_k < 2 emit NULL φ (undefined
    * density, still a counted row — stable curve to diff). Output:
    * (k, n_nodes, n_edges, phi_e6).
    */
  def richClub(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxK: Int = 16): DataFrame = {
    require(maxK >= 1 && maxK <= 10000, s"maxK must be in [1,10000] (got $maxK)")
    val spark = edges.sparkSession
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint()
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    // one undirected edge = the a < b orientation of the symmetric set
    val halfEdges = und.filter(col("a") < col("b"))
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(least(col("da"), col("db")).as("mindeg"))
    // tiny histograms (≤ maxK+1 buckets each), then suffix sums on the
    // broadcast k spine — never an edges × k fan-out
    val edgeHist = halfEdges
      .select(least(col("mindeg"), lit(maxK + 1L)).as("md"))
      .groupBy("md").agg(count(lit(1)).as("ne"))
    val degHist = deg
      .select(least(col("deg"), lit(maxK + 1L)).as("dg"))
      .groupBy("dg").agg(count(lit(1)).as("nn"))
    val ks = spark.range(1, maxK + 1).select(col("id").as("k"))
    val nK = ks.join(broadcast(degHist), col("dg") > col("k"))
      .groupBy("k").agg(sum("nn").as("n_nodes"))
    val eK = ks.join(broadcast(edgeHist), col("md") > col("k"))
      .groupBy("k").agg(sum("ne").as("n_edges"))
    ks.join(broadcast(nK), Seq("k"), "left")
      .join(broadcast(eK), Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_e6",
        when(col("n_nodes") >= 2,
          expr("(2 * (2 * n_edges * 1000000) + n_nodes * (n_nodes - 1)) " +
            "div (2 * n_nodes * (n_nodes - 1))")))
  }

  /** Average-neighbor-degree curve knn(k) (Pastor-Satorras, Vázquez &
    * Vespignani 2001) — for each degree class k, the mean degree of
    * the neighbors of degree-k nodes:
    *
    *   knn(k) = Σ_{v: deg v = k} Σ_{u ∈ N(v)} deg(u) / (N_k · k)
    *
    * — [[assortativity]]'s one number unrolled into the curve that
    * says WHERE the mixing happens: rising knn(k) = assortative core,
    * falling = hubs feeding leaves (scraper star-graphs, link farms).
    *
    * Exact: numerator and denominator are integer sums in
    * decimal(38,0) (num ≤ 2E·max-deg), half-up 1e-6 read. Input
    * normalization as [[triangles]] (nulls drop, self-loops drop,
    * parallel edges collapse, undirected). Scale: the symmetric edge
    * table joined to the degree table TWICE on its endpoints (the
    * exact shape assortativity already runs) + one degree-class
    * rollup. Output: (k, n_nodes, knn_e6).
    */
  def avgNeighborDegree(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint()
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val numPerK = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .groupBy(col("da").as("k"))
      .agg(sum(col("db").cast(dec)).as("num"))
    val nK = deg.groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_nodes"))
    nK.join(numPerK, Seq("k"))
      .select(col("k"), col("n_nodes"),
        expr("(2 * num * 1000000 + CAST(n_nodes AS DECIMAL(38,0)) * k) " +
          "div (2 * CAST(n_nodes AS DECIMAL(38,0)) * k)").as("knn_e6"))
  }

  /** Directed-graph reciprocity — the share of directed edges whose
    * reverse edge also exists (r = |E ∩ Eᵀ| / |E|): the one-number
    * directionality read for citation/link graphs — organic citation
    * is near-zero-reciprocal, social follows sit ~0.5, and a scraped
    * mirror pair reciprocates ~1.0. Complements [[assortativity]] and
    * [[richClub]], which see only the undirected shadow.
    *
    * Nulls and self-loops drop, parallel edges collapse (the
    * [[triangles]] normalization, minus the symmetrization). ONE
    * map-side-combined aggregate over canonical (min, max) pairs —
    * each pair arrives with its direction flags and mutuality is a
    * per-pair AND, never a self-join of the edge table against its
    * transpose. Exact integers + one half-up 1e-6 read. Output: one
    * row (n_edges, n_mutual, reciprocity_e6) — NULL on an empty
    * graph.
    */
  def reciprocity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val dir = edges.select(
        col(srcCol).cast("string").as("a"),
        col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
    dir
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"),
        (col("a") < col("b")).as("fwd"))
      .groupBy("lo", "hi").agg(
        max(when(col("fwd"), 1L).otherwise(0L)).as("has_f"),
        max(when(!col("fwd"), 1L).otherwise(0L)).as("has_b"))
      .agg(sum(col("has_f") + col("has_b")).as("n_edges"),
        sum(when(col("has_f") + col("has_b") === 2, 2L).otherwise(0L))
          .as("n_mutual"))
      .select(
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .withColumn("reciprocity_e6",
        when(col("n_edges") > 0,
          expr("(2 * n_mutual * 1000000 + n_edges) div (2 * n_edges)")))
  }

  /** Degree distribution summary + discrete power-law exponent (the
    * continuous-approximation MLE of Clauset, Shalizi & Newman 2009,
    * SIAM Rev. eq. 3.7: α = 1 + n / Σ ln(d_i / (d_min − ½))) — the
    * one-row graph-shape diagnostic next to [[triangles]]: organic web
    * graphs fit α ≈ 2-3, link farms and generated mirror meshes bend
    * the tail.
    *
    * Determinism: degrees are exact integer counts; each ln lands on a
    * 1e-6 integer lattice per node (the zipfFit discipline), the sum is
    * an exact 64-bit integer sum in any partition order (|lattice ln| ≤
    * ~4·10⁷ ⇒ safe to ~10¹¹ nodes), and α, the mean degree and the
    * final lattice divisions are fixed IEEE trees over those integers.
    * Nodes below `dMin` are excluded from the fit (but counted in the
    * summary); a fit over zero qualifying nodes (or Σln = 0: every
    * qualifying degree = dMin = 1, where the MLE diverges) reports
    * NULL.
    *
    * Scale: one distinct + degree aggregate, one map-side-combined
    * global fold. Output: one row (n_nodes, n_edges, max_degree,
    * mean_degree_e4, n_fit, alpha_e6).
    */
  def degreePowerLaw(
      edges: DataFrame, srcCol: String, dstCol: String,
      dMin: Int = 2): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1 (got $dMin)")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("d"))
    val lnTerm = floor(
      log(col("d").cast("double") / lit(dMin.toDouble - 0.5)) *
        lit(1e6) + lit(0.5)).cast("long")
    deg.agg(
        count(lit(1)).as("n_nodes"),
        sum("d").as("deg_sum"), // = 2 · n_edges on the symmetric set
        max("d").as("max_degree"),
        sum(when(col("d") >= dMin, 1L).otherwise(0L)).as("n_fit"),
        sum(when(col("d") >= dMin, lnTerm).otherwise(0L)).as("ln_sum"))
      .select(col("n_nodes"),
        expr("deg_sum div 2").as("n_edges"),
        col("max_degree"),
        expr("(2 * deg_sum * 10000 + n_nodes) div (2 * n_nodes)")
          .as("mean_degree_e4"),
        col("n_fit"),
        when(col("n_fit") > 0 && col("ln_sum") > 0,
          floor((lit(1.0) +
            col("n_fit").cast("double") * lit(1e6) /
              col("ln_sum").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long")).as("alpha_e6"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, Phys.
    * Rev. E 2007) — community detection over the doc/host/source link
    * graph: each round every node adopts the most frequent label among
    * its neighbors. Communities = near-duplicate site families, mirror
    * clusters, topical hubs — the curation prior between per-page
    * signals (g1/g2/g3) and whole-corpus dedup.
    *
    * Deterministic by construction: the argmax is
    * `min(struct(−count, label))` — highest count, then SMALLEST label
    * in binary string order (no window, no hash-partition order
    * dependence), and the round count is FIXED (synchronous LPA can
    * oscillate on bipartite structures; a fixed-round snapshot is the
    * reproducible contract, same discipline as [[pageRank]]'s fixed
    * rounds). The edge list is symmetrized and parallel edges collapse
    * (each distinct neighbor votes once).
    *
    * Scale: one shuffle-hash join of the once-checkpointed edge list
    * with the node-sized label table per round + two hash aggregates;
    * labels localCheckpoint every third round (the [[pageRank]]
    * lineage discipline). Label values are node names — bounded by the
    * longest node name, no growth over rounds.
    *
    * Output: (node, label), one row per node.
    */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50] (got $iterations)")
    val und = edges.select(
        col(srcCol).cast("string").as("a"),
        col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val e = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    // Driver fast path (the propagate discipline): labels are node
    // names and the per-round vote is (max count, min label) with ties
    // broken in UTF8String BINARY order — utf8Less mirrors Spark's
    // string comparison so the tie-break is bit-identical, spec-pinned.
    val eRowsOpt = Guards.driverRows(e, Guards.DriverCapRows)
    if (eRowsOpt.isDefined) {
      val eRows = eRowsOpt.get
      val m = eRows.length
      val names = eRows.map(_.getString(0)).distinct.toArray
      val idx = names.zipWithIndex.toMap
      val bytes = names.map(_.getBytes("UTF-8"))
      val adj = Array.fill(names.length)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      var x = 0
      while (x < m) {
        adj(idx(eRows(x).getString(0))) += idx(eRows(x).getString(1))
        x += 1
      }
      var lbl = Array.tabulate(names.length)(identity)
      for (_ <- 1 to iterations) {
        val next = new Array[Int](names.length)
        var i = 0
        while (i < names.length) {
          val counts = scala.collection.mutable.Map.empty[Int, Long]
          adj(i).foreach(j => counts(lbl(j)) = counts.getOrElse(lbl(j), 0L) + 1L)
          var best = -1; var bestC = -1L
          counts.foreach { case (l, c) =>
            if (c > bestC || (c == bestC && utf8Less(bytes(l), bytes(best))))
              { best = l; bestC = c }
          }
          next(i) = best
          i += 1
        }
        lbl = next
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return names.indices.map(i => (names(i), names(lbl(i)))).toDF()
        .toDF("node", "label")
    }
    var lbl = e.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (r <- 1 to iterations) {
      val nb = e.join(lbl, col("b") === col("node"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy("a")
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("a").as("node"), col("m.lbl").as("newl"))
      // every node has >= 1 neighbor by construction (it came from the
      // symmetric edge list), but the left join + coalesce keeps the
      // invariant local instead of load-bearing
      lbl = lbl.join(nb, Seq("node"), "left")
        .select(col("node"), coalesce(col("newl"), col("lbl")).as("lbl"))
      if (r % 3 == 0 || r == iterations) lbl = lbl.localCheckpoint()
    }
    lbl.select(col("node"), col("lbl").as("label"))
  }

  /** Bipartite co-occurrence projection: from (key, item) incidence —
    * users × event types, documents × domains, baskets × products —
    * emit every item pair sharing at least one key, weighted by the
    * DISTINCT shared-key count. The graph-construction step feeding the
    * rest of this family (co-citation/co-click graphs are what
    * [[pageRank]]/[[triangles]] then run on).
    *
    * Each key contributes its item set's unordered pairs once (the
    * incidence is deduplicated first), so the fan-out is Σ_k c_k² /2 —
    * quadratic in the PER-KEY item count, never in the corpus. That
    * term is the known failure mode (one hub key with 10⁶ items emits
    * 5·10¹¹ pairs), so keys past `maxItemsPerKey` fail LOUDLY instead
    * of silently melting the shuffle — the operator's envelope, like
    * the decimal guards of the eval family. Pairs order (a < b) by
    * UTF8 binary comparison.
    *
    * Scale: one distinct, one key-sized count join-back (AQE
    * broadcasts it), one key-keyed equi self-join + pair count — never
    * a cross join. Output: (item_a, item_b, n_keys).
    */
  def cooccurrence(
      df: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int = 10000): DataFrame = {
    require(maxItemsPerKey >= 2,
      s"maxItemsPerKey must be >= 2 (got $maxItemsPerKey)")
    def checked(c: String, what: String) =
      when(col(c).isNull,
        raise_error(lit(s"cooccurrence: null $what")))
        .otherwise(col(c).cast("string"))
    val ki = df.select(checked(keyCol, "key").as("k"),
        checked(itemCol, "item").as("item"))
      .distinct()
    val sized = ki
      .join(ki.groupBy("k").agg(count(lit(1)).as("__kc")), "k")
      .select(
        when(col("__kc") > maxItemsPerKey,
          raise_error(concat(
            lit(s"cooccurrence: key exceeds maxItemsPerKey=" +
              s"$maxItemsPerKey items: "), col("k"))))
          .otherwise(col("k")).as("k"),
        col("item"))
    sized.as("x").join(ki.as("y"),
        col("x.k") === col("y.k") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("n_keys"))
  }

  /** Co-occurrence lift — [[cooccurrence]]'s pair counts normalized by
    * the independence baseline: lift(a,b) = P(a,b)/(P(a)·P(b)) =
    * n_ab·N / (n_a·n_b) over distinct keys (the market-basket
    * association measure; its log is PMI). Raw pair counts rank
    * ubiquitous items first; lift surfaces pairs that co-occur MORE
    * than their popularity predicts — the association signal a
    * domain/topic co-browse or co-citation analysis actually wants.
    *
    * Exact end-to-end: n_ab, n_a, n_b, N are distinct-key integer
    * counts and lift rides the half-up 1e-6 lattice of their exact
    * decimal(38,0) rational — no float, no ln (a caller wanting PMI
    * takes ln(lift) knowingly; the exact rational is the portable
    * artifact). Delegates candidate generation (and the loud
    * maxItemsPerKey hub raise) to [[cooccurrence]] — one authored
    * pair-generation path.
    *
    * Scale: the [[cooccurrence]] cost shape plus one item-count
    * aggregate, two item-keyed joins of the PAIR table against the
    * item-sized count table (AQE broadcasts it) and a broadcast
    * one-row total. Output: (item_a, item_b, n_keys, n_a, n_b,
    * lift_e6).
    */
  def cooccurrenceLift(
      df: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int = 10000): DataFrame = {
    val pairs = cooccurrence(df, keyCol, itemCol, maxItemsPerKey)
    val ki = df.select(
        when(col(keyCol).isNull,
          raise_error(lit("cooccurrenceLift: null key")))
          .otherwise(col(keyCol).cast("string")).as("k"),
        when(col(itemCol).isNull,
          raise_error(lit("cooccurrenceLift: null item")))
          .otherwise(col(itemCol).cast("string")).as("item"))
      .distinct()
      .localCheckpoint() // feeds item counts and the key total
    val ic = ki.groupBy("item").agg(count(lit(1)).as("n_item"))
    val tot = ki.select("k").distinct().agg(count(lit(1)).as("n_total"))
    pairs
      .join(ic.select(col("item").as("item_a"), col("n_item").as("n_a")),
        Seq("item_a"))
      .join(ic.select(col("item").as("item_b"), col("n_item").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(tot))
      .select(col("item_a"), col("item_b"), col("n_keys"),
        col("n_a"), col("n_b"),
        expr("(2 * CAST(n_keys AS DECIMAL(38,0)) * n_total * 1000000 + " +
          "CAST(n_a AS DECIMAL(38,0)) * n_b) div " +
          "(2 * CAST(n_a AS DECIMAL(38,0)) * n_b)").as("lift_e6"))
  }

  /** Adamic–Adar link-prediction scores (Adamic & Adar 2003): for every
    * node pair sharing ≥ 1 common neighbor, Σ_z 1/ln(deg z) over the
    * common neighbors z — the classic "friends-of-friends, weighted
    * against hubby intermediaries" signal behind crawl-frontier
    * ranking, citation-graph completion and related-domain suggestion
    * (a shared 3-degree neighbor says far more than a shared
    * million-degree one, which is the whole point over raw
    * common-neighbor counts).
    *
    * Determinism contract: each intermediate contributes the INTEGER
    * floor(10⁶ / ln(deg z)) (one ln and one divide on a fixed IEEE
    * tree per NODE, not per pair), and per-pair scores are exact
    * integer sums of those — order-free in any engine; no float ever
    * accumulates.
    *
    * Skew/df-cap contract (the d2 maxDf posture): intermediates with
    * deg > `maxDeg` are dropped from the wedge index — a hub's
    * contribution 1/ln(deg) is already asymptotically negligible, and
    * the cap is what bounds wedge fan-out at Σ min(deg, maxDeg)²
    * instead of a celebrity hub's deg² (the quadratic blowup this
    * operator cannot otherwise avoid). Scores are exact for every
    * pair whose common neighbors all have deg ≤ maxDeg; a capped hub
    * can only lower a score. deg-1 nodes generate no wedge by
    * construction.
    *
    * Input normalization as [[triangles]] (nulls drop, self-loops
    * drop, parallel edges collapse, symmetric). Scale: degree table ÷
    * node-sized (AQE broadcasts it), wedge self-join keyed on the
    * intermediate with the cap as the volume bound, one
    * map-side-combined pair aggregate, one edge-flag left join.
    * Output: (node_a, node_b, n_common, aa_e6, status
    * 'edge'/'candidate') with node_a < node_b.
    */
  def adamicAdar(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Int = 64): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2 (got $maxDeg)")
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // feeds degree, the wedge index and the flag
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    val mid = und
      .join(deg.filter(col("deg") >= 2 && col("deg") <= maxDeg), Seq("a"))
      .select(col("a").as("z"), col("b").as("n"),
        floor(lit(1e6) / log(col("deg").cast("double")))
          .cast("long").as("c6"))
    val pairs = mid.as("x").join(mid.as("y"),
        col("x.z") === col("y.z") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("node_a"), col("y.n").as("node_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("x.c6")).as("aa_e6"))
    pairs
      .join(und.select(col("a").as("node_a"), col("b").as("node_b"),
        lit(1).as("__e")), Seq("node_a", "node_b"), "left")
      .select(col("node_a"), col("node_b"), col("n_common"), col("aa_e6"),
        when(col("__e").isNotNull, lit("edge"))
          .otherwise(lit("candidate")).as("status"))
  }

  /** Fixed-round k-core peeling (Seidman 1983): repeatedly remove every
    * node of degree < k, simultaneously, up to `rounds` times — the
    * density filter of the link-analysis family (the k-core is where
    * communities and link farms live; tendrils and chains peel away).
    * The round cap is the [[pageRank]] truncation contract: a graph
    * still peeling at round `rounds` reports that round's survivor set,
    * deterministically. Rounds past the FIXED POINT are skipped — the
    * survivor set is monotone, so a round that removes no node proves
    * all later rounds are no-ops; the early exit is output-identical
    * (idempotent rounds) and deterministic, just cheaper.
    *
    * Exact by construction: each round is integer degree counts and a
    * set filter — no arithmetic to drift. Input normalization as
    * [[triangles]] (nulls drop, self-loops drop, parallel edges
    * collapse, symmetric).
    *
    * Scale: per round one map-side-combined degree aggregate + two
    * semi-joins of the surviving edge list against the node-sized
    * survivor set; edges only shrink. Survivors localCheckpoint every
    * third round (the [[pageRank]] lineage discipline). Sub-cap graphs
    * peel driver-side ([[propagate]]'s fast-path discipline),
    * bit-identical, spec-pinned. Output: (node, degree) — survivors
    * with their within-core degree.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50] (got $rounds)")
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint()
    val eRowsOpt = Guards.driverRows(und, Guards.DriverCapRows)
    if (eRowsOpt.isDefined) {
      val eRows = eRowsOpt.get
      val names = eRows.map(_.getString(0)).distinct.toArray
      val idx = names.zipWithIndex.toMap
      val m = eRows.length
      val ea = new Array[Int](m); val eb = new Array[Int](m)
      var x = 0
      while (x < m) {
        ea(x) = idx(eRows(x).getString(0))
        eb(x) = idx(eRows(x).getString(1))
        x += 1
      }
      val alive = Array.fill(names.length)(true)
      val deg = new Array[Long](names.length)
      // fixed-point exit: peeling is monotone (nodes only leave), so a
      // round that removes nobody makes every later round a no-op —
      // identical output, fewer passes
      var round = 1
      var changed = true
      while (round <= rounds && changed) {
        changed = false
        java.util.Arrays.fill(deg, 0L)
        x = 0
        while (x < m) {
          if (alive(ea(x)) && alive(eb(x))) deg(ea(x)) += 1
          x += 1
        }
        var i = 0
        while (i < names.length) {
          if (alive(i) && deg(i) < k) { alive(i) = false; changed = true }
          i += 1
        }
        round += 1
      }
      java.util.Arrays.fill(deg, 0L)
      x = 0
      while (x < m) {
        if (alive(ea(x)) && alive(eb(x))) deg(ea(x)) += 1
        x += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return names.indices
        .collect { case i if alive(i) && deg(i) > 0 => (names(i), deg(i)) }
        .toDF().toDF("node", "degree")
    }
    // Distributed peel with a fixed-point exit: the survivor set is
    // MONOTONE (nodes only ever leave), so survivor-count equality
    // between consecutive rounds proves set equality and every later
    // round is a no-op — identical output to the fixed-round contract
    // (idempotent rounds), strictly fewer jobs on a converged graph.
    // The survivor set is node-sized and localCheckpointed each round,
    // so (a) its count is a read of already-materialized partitions,
    // not a recompute, and (b) BOTH endpoint semi-joins consume the
    // same materialized table — AQE broadcasts it and the degree
    // aggregate runs exactly once per round, not once per join leg.
    var cur = und
    var prevSurvivors = -1L
    var r = 1
    var converged = false
    while (r <= rounds && !converged) {
      val keep = cur.groupBy("a").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a").as("node"))
        .localCheckpoint()
      val nSurvivors = keep.count()
      if (nSurvivors == prevSurvivors) converged = true
      else {
        prevSurvivors = nSurvivors
        cur = cur
          .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
        if (r % 3 == 0 || r == rounds) cur = cur.localCheckpoint()
      }
      r += 1
    }
    cur.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over edges (Newman 2002, Phys. Rev. Lett. 89, 208701): the
    * one-number answer to "do hubs link to hubs" next to [[triangles]]
    * and [[degreePowerLaw]]. Organic social graphs are assortative
    * (r > 0), the web and most infrastructure graphs disassortative
    * (r < 0); a crawl whose r flips sign between snapshots changed its
    * shape, not just its size.
    *
    * Computed over the ORDERED symmetric pair set (each undirected edge
    * contributes both (deg u, deg v) and (deg v, deg u)), which makes
    * the x and y marginals identical and the classic formula collapse
    * to r = (P·Σxy − (Σx)²) / (P·Σx² − (Σx)²) with P = 2·|edges|.
    * All sums are exact decimal(38,0) integer sums (order-free in any
    * engine); r is the single correctly-rounded IEEE divide of two
    * exact integers, emitted round-6 (the cohenKappa lattice class).
    * A regular graph (zero degree variance) has no defined r → NULL.
    * Input normalization as [[triangles]]: nulls drop, self-loops
    * drop, parallel edges collapse.
    *
    * Scale: one symmetric-distinct + degree aggregate, two node-keyed
    * joins of the edge list with the node-sized degree table (AQE
    * broadcasts it when it fits), one map-side-combined global fold —
    * never a quadratic term. Output: one row (n_nodes, n_edges,
    * assortativity).
    */
  def assortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint()
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val pairs = und
      .join(deg.select(col("node").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("dy")), "b")
    val s = pairs.agg(
      count(lit(1)).as("p"),
      sum(col("dx").cast(d38) * col("dy").cast(d38)).as("sxy"),
      sum(col("dx").cast(d38)).as("sx"),
      sum(col("dx").cast(d38) * col("dx").cast(d38)).as("sxx"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    nodes.crossJoin(s)
      .select(col("n_nodes"), expr("p div 2").as("n_edges"),
        when(col("p").cast(d38) * col("sxx") =!= col("sx") * col("sx"),
          round(
            (col("p").cast(d38) * col("sxy") - col("sx") * col("sx"))
              .cast("double") /
            (col("p").cast(d38) * col("sxx") - col("sx") * col("sx"))
              .cast("double"), 6))
          .as("assortativity"))
  }
  /** Newman–Girvan modularity (Newman & Girvan 2004) of a node
    * labeling over an undirected graph — THE quality score for a
    * community assignment ([[labelPropagation]]'s output, a host
    * grouping, a dedup clustering projected onto the link graph):
    * with m undirected edges, e_c intra-community edges and d_c the
    * community degree sum,
    *
    *   Q = Σ_c [ e_c/m − (d_c/2m)² ] = (4m·Σe_c − Σd_c²) / (4m²)
    *
    * EXACT: one integer rational in decimal(38,0) read out
    * half-away-from-zero on the 1e-6 lattice (Q is legitimately
    * negative for anti-community labelings). Edges symmetrize and
    * parallel edges collapse to one canonical (lo, hi) pair; self
    * loops drop (the standard simple-graph convention). A node with
    * no label raises loudly — an inner join would silently drop its
    * edges and misreport both m and Σe_c. Output: one row
    * (n_communities, m_edges, intra_edges, modularity_e6).
    *
    * Scale: one canonical-pair distinct, two node-keyed equi joins of
    * the edge list against the node-sized label table, community- and
    * one-row rollups — never per-community subgraphs.
    */
  def modularity(
      edges: DataFrame, labels: DataFrame,
      srcCol: String, dstCol: String,
      nodeCol: String, labelCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    val und = edges.select(
        col(srcCol).cast("string").as("a"),
        col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()
      .localCheckpoint() // feeds the label joins AND the degree rollup
    // one label per node is the caller contract (labelPropagation /
    // duplicateClusters emit exactly that); exact duplicate rows
    // collapse here so an upstream union can't fan the edge joins
    val lbl = labels.select(col(nodeCol).cast("string").as("node"),
      col(labelCol).cast("string").as("lbl")).distinct()
    def labeled(side: String) = und
      .join(lbl.withColumnRenamed("node", side), Seq(side), "left")
      .withColumn("lbl",
        when(col("lbl").isNull,
          raise_error(concat(lit("modularity: unlabeled node "),
            col(side))))
          .otherwise(col("lbl")))
    val both = labeled("lo").withColumnRenamed("lbl", "la")
      .join(lbl.withColumnRenamed("node", "hi")
        .withColumnRenamed("lbl", "lb"), Seq("hi"), "left")
      .withColumn("lb",
        when(col("lb").isNull,
          raise_error(concat(lit("modularity: unlabeled node "),
            col("hi")))).otherwise(col("lb")))
    val intra = both.agg(
      count(lit(1)).as("m_edges"),
      coalesce(sum(when(col("la") === col("lb"), 1L).otherwise(0L)),
        lit(0L)).as("intra_edges"))
      .select(
        when(col("m_edges") > 1000000000L,
          raise_error(lit("modularity: beyond the 1e9-edge " +
            "decimal(38) exactness envelope"))).otherwise(col("m_edges"))
          .as("m_edges"), col("intra_edges"))
    val degrees = und.select(col("lo").as("node"))
      .unionAll(und.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .join(lbl, Seq("node"), "left")
      .withColumn("lbl",
        when(col("lbl").isNull,
          raise_error(concat(lit("modularity: unlabeled node "),
            col("node")))).otherwise(col("lbl")))
    val comm = degrees.groupBy("lbl").agg(sum("deg").as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        coalesce(sum(dc(col("dc")) * dc(col("dc"))), dc(lit(0)))
          .as("sd2"))
    intra.crossJoin(broadcast(comm))
      .withColumn("qn",
        dc(lit(4)) * dc(col("m_edges")) * dc(col("intra_edges")) -
          col("sd2"))
      .withColumn("qd",
        dc(lit(4)) * dc(col("m_edges")) * dc(col("m_edges")))
      .select(col("n_communities"), col("m_edges"), col("intra_edges"),
        when(col("qd") === 0, lit(null).cast("long"))
          .otherwise(when(col("qn") >= 0,
            expr("(2 * qn * 1000000 + qd) div (2 * qd)"))
            .otherwise(-expr("(-2 * qn * 1000000 + qd) div (2 * qd)")))
          .as("modularity_e6"))
  }

  /** Global transitivity and average local clustering (Watts & Strogatz
    * 1998 / Newman 2003 §III.B — the two standard one-number
    * clustering reads, which genuinely differ on hub-heavy graphs):
    *
    *   C_global = 3·T / W       (closed wedges over all wedges)
    *   C_avg    = mean over deg≥2 nodes of 2·t_v / (d_v(d_v−1))
    *
    * The whole-graph companion to [[triangles]]'s per-node table — the
    * one number to TRACK between corpus snapshots (a co-occurrence
    * graph whose transitivity jumps grew a template cluster; one whose
    * C_avg collapses lost its community structure).
    *
    * EXACT: Σ_v t_v = 3T and W = Σ_v C(d_v, 2) are integer aggregates
    * of the triangles output, so transitivity_e6 = ⌈1e6·Σt_v/W⌋ is one
    * exact rational; avg_cc_e6 = ⌈Σ cc_e6 / n_{deg≥2}⌋ composes the
    * per-node 1e-6 lattice reads (lattice-defined, the w26
    * discipline). Wedge-free graphs (every component an edge or a
    * point) → NULL transitivity, verdict-free NULL avg. Output: one
    * row (n_nodes, n_wedges, n_triangles, transitivity_e6, avg_cc_e6).
    *
    * Scale: inherits [[triangles]]'s join plan, then ONE
    * map-side-combined rollup — nothing new shuffles.
    */
  def transitivity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def dc(c: Column) = c.cast(dec)
    triangles(edges, srcCol, dstCol)
      .agg(count(lit(1)).as("n_nodes"),
        sum(dc(col("deg")) * dc(col("deg") - 1)).as("w2"),
        coalesce(sum("triangles"), lit(0L)).as("t3"),
        sum(when(col("deg") >= 2, col("cc_e6"))).as("scc"),
        sum(when(col("deg") >= 2, 1L).otherwise(0L)).as("nd2"))
      .select(col("n_nodes"),
        expr("w2 div 2").as("n_wedges"),
        expr("t3 div 3").as("n_triangles"),
        when(col("w2") === 0, lit(null).cast("long"))
          .otherwise(expr("(2 * CAST(t3 AS DECIMAL(38,0)) * 2 * 1000000" +
            " + w2) div (2 * w2)")).as("transitivity_e6"),
        when(col("nd2") === 0, lit(null).cast("long"))
          .otherwise(expr("(2 * scc + nd2) div (2 * nd2)"))
          .as("avg_cc_e6"))
  }
}
