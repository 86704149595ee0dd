package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval join.
  *
  * Re-expression of the reference's two interval-intersection strategies —
  * J1's full row-explosion of every `[pos, end_pos]` band to one row per
  * position (`steps/toRange.scala:50-64`) and J2's hand-rolled
  * co-partitioned sort-merge over a custom `BinPartitioner`
  * (`steps/intersectSwap.scala:85-136`, `steps/binPartitioner.scala:6-28`)
  * — as a Catalyst-friendly *bin-key rewrite*:
  *
  *   1. each range is exploded to one row per fixed-width bin it covers
  *      (O(span / binWidth) rows, not O(span));
  *   2. points are tagged with their bin;
  *   3. equi-join on the bin key (hash/sort-merge, AQE-planned, skew-aware)
  *      with the residual range predicate applied on top.
  *
  * Shuffle volume is O(|points| + |ranges| * avgSpan/binWidth), and because
  * the join is a plain equi-join Catalyst keeps broadcast / SMJ / skew-split
  * choices. For dimension-sized range tables pass `broadcastRanges = true`
  * and the shuffle disappears entirely.
  */
object IntervalJoin {

  /** One row per `binWidth` bin that the closed span [lo, hi] touches:
    * the bin keys every join here equi-joins on. Spans wider than
    * `Guards.MaxBinsPerRow` bins raise, naming `site`.
    */
  private def binKeys(lo: Column, hi: Column, binWidth: Double, site: String): Column =
    explode(Guards.boundedSequence(
      floor(lo.cast("double") / binWidth).cast("long"),
      floor(hi.cast("double") / binWidth).cast("long"),
      Guards.MaxBinsPerRow, site))

  /** Join `points` to the `ranges` rows whose `[lo, hi)` (or `[lo, hi]` when
    * `hiInclusive`) interval contains `points(pointCol)`. Column names must
    * be disjoint between the two inputs (rename before calling).
    */
  def pointInRange(
      points: DataFrame,
      ranges: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String,
      binWidth: Double,
      extraEquiKeys: Seq[(String, String)] = Nil,
      hiInclusive: Boolean = false,
      joinType: String = "inner",
      broadcastRanges: Boolean = false): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")

    val pBin = "__graft_pbin"
    val rBin = "__graft_rbin"
    val p = points.withColumn(pBin, floor(col(pointCol) / binWidth).cast("long"))
    val r0 = ranges.withColumn(
      rBin,
      binKeys(col(loCol), col(hiCol), binWidth, "pointInRange range bins"))
    val r = if (broadcastRanges) broadcast(r0) else r0

    val residual: Column = {
      val base = col(pointCol) >= col(loCol)
      if (hiInclusive) base && col(pointCol) <= col(hiCol)
      else base && col(pointCol) < col(hiCol)
    }
    val equi = extraEquiKeys.foldLeft(p(pBin) === r(rBin)) {
      case (acc, (pk, rk)) => acc && p.col(pk) === r.col(rk)
    }
    p.join(r, equi && residual, joinType).drop(pBin).drop(rBin)
  }

  /** Nearest-feature join within a distance cap (`bedtools closest`
    * with a `-d` window): for every query interval, the single nearest
    * reference interval on the same chrom with
    * gap ≤ `maxDist` — gap 0 when they overlap (closed intervals),
    * otherwise the base distance between the facing ends. Queries with
    * no reference inside the cap emit NO row (the cap IS the contract;
    * an uncapped global nearest needs an as-of sweep whose per-chrom
    * window sorts a whole chromosome on one reducer — the j10 trap —
    * so the bounded form is what this engine ships).
    *
    * Winner per query is deterministic: lexicographic min of
    * (dist, ref start, ref end, ref id) via a struct-min aggregate —
    * no window anywhere. Candidate generation is the same bin-key
    * rewrite as [[pointInRange]] with the query's bins widened by
    * `maxDist`; a pair colliding in several bins is harmless because
    * the argmin collapses duplicates, so there is no distinct pass.
    * Shuffle volume: O(|Q|·(span+2·maxDist)/binWidth + |R|·span/
    * binWidth) bin rows + the query-keyed argmin — skew-neutral in
    * chrom (hot chromosomes spread across bins).
    *
    * Output: (q_id, r_id, dist), one row per matched query.
    */
  def nearestWithin(
      queries: DataFrame, refs: DataFrame,
      qChrom: String, qStartCol: String, qEndCol: String, qIdCol: String,
      rChrom: String, rStartCol: String, rEndCol: String, rIdCol: String,
      maxDist: Long, binWidth: Long = 1024L): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    require(binWidth > 0, s"binWidth must be positive (got $binWidth)")
    val q = queries.select(
      col(qChrom).cast("string").as("chrom"),
      col(qStartCol).cast("long").as("qs"),
      col(qEndCol).cast("long").as("qe"),
      col(qIdCol).cast("long").as("q_id"))
    val r = refs.select(
      col(rChrom).cast("string").as("chrom"),
      col(rStartCol).cast("long").as("rs"),
      col(rEndCol).cast("long").as("re"),
      col(rIdCol).cast("long").as("r_id"))
    val qb = q.withColumn("b", binKeys(col("qs") - maxDist, col("qe") + maxDist,
      binWidth.toDouble, "nearestWithin query bins"))
    val rb = r.withColumn("b",
      binKeys(col("rs"), col("re"), binWidth.toDouble, "nearestWithin ref bins"))
    qb.join(rb, Seq("chrom", "b"))
      .withColumn("dist", greatest(lit(0L),
        col("rs") - col("qe"), col("qs") - col("re")))
      .where(col("dist") <= maxDist)
      .groupBy("q_id")
      .agg(min(struct(col("dist"), col("rs"), col("re"), col("r_id")))
        .as("m"))
      .select(col("q_id"), col("m.r_id").as("r_id"),
        col("m.dist").as("dist"))
  }

  /** Reciprocal-overlap intersect — `bedtools intersect -f/-F` (both
    * flags together = `-r`): emit (a, b) interval pairs whose overlap
    * covers at least `minPctA`% of a AND `minPctB`% of b. THE
    * structural-variant / CNV comparison predicate: a 10-base touch
    * between two 100 kb calls is noise, a 50%-reciprocal overlap is
    * the same event.
    *
    * Shape: the j2/j11 bin-key rewrite — both sides explode to
    * (chrom, bin) keys, one plain equi-join (AQE/skew-planned, never a
    * theta join), the overlap length and both fraction tests as
    * residuals. Fractions compare by exact integer
    * cross-multiplication (ov·100 ≥ pct·len on closed-interval
    * lengths) — no division, no float. A pair spanning several shared
    * bins emits from exactly ONE of them — the bin containing the
    * overlap start, which both explode ranges cover — so the join is
    * exactly-once with no post-join distinct exchange.
    *
    * Input contract as [[IntervalDepth.depthHistogram]]; closed
    * intervals. Output: (a_id, b_id, ov_len, a_len, b_len).
    */
  def reciprocalOverlap(
      a: DataFrame, b: DataFrame,
      aChrom: String, aStartCol: String, aEndCol: String, aIdCol: String,
      bChrom: String, bStartCol: String, bEndCol: String, bIdCol: String,
      minPctA: Int, minPctB: Int, binWidth: Long = 1024L): DataFrame = {
    require(minPctA >= 1 && minPctA <= 100,
      s"minPctA must be in [1, 100] (got $minPctA)")
    require(minPctB >= 1 && minPctB <= 100,
      s"minPctB must be in [1, 100] (got $minPctB)")
    require(binWidth > 0, s"binWidth must be positive (got $binWidth)")
    val qa = a.select(
      col(aChrom).cast("string").as("chrom"),
      col(aStartCol).cast("long").as("as_"),
      col(aEndCol).cast("long").as("ae"),
      col(aIdCol).cast("long").as("a_id"))
    val qb = b.select(
      col(bChrom).cast("string").as("chrom"),
      col(bStartCol).cast("long").as("bs"),
      col(bEndCol).cast("long").as("be"),
      col(bIdCol).cast("long").as("b_id"))
    val ab = qa.withColumn("bin",
      binKeys(col("as_"), col("ae"), binWidth.toDouble, "reciprocalOverlap a bins"))
    val bb = qb.withColumn("bin",
      binKeys(col("bs"), col("be"), binWidth.toDouble, "reciprocalOverlap b bins"))
    val ov = least(col("ae"), col("be")) -
      greatest(col("as_"), col("bs")) + 1
    // owner-bin attribution: a pair overlapping k shared bins would emit
    // k copies from the bin join; the overlap START greatest(as_, bs)
    // lies inside BOTH intervals whenever ov >= 1, so its bin appears in
    // both explode ranges and exactly one bin owns the pair — no
    // post-join distinct exchange
    val ownerBin = col("bin") ===
      floor(greatest(col("as_"), col("bs")).cast("double") / binWidth)
        .cast("long")
    ab.join(bb, Seq("chrom", "bin"))
      .where(ov >= 1 && ownerBin &&
        ov * 100 >= lit(minPctA) * (col("ae") - col("as_") + 1) &&
        ov * 100 >= lit(minPctB) * (col("be") - col("bs") + 1))
      .select(col("a_id"), col("b_id"), ov.as("ov_len"),
        (col("ae") - col("as_") + 1).as("a_len"),
        (col("be") - col("bs") + 1).as("b_len"))
  }

  /** Interval-set similarity — `bedtools jaccard`: base-pair Jaccard
    * between two interval SETS (|A∩B| / |A∪B| over covered positions) —
    * THE one-number answer to "are these two peak/coverage/annotation
    * tracks the same signal", and in data-pipeline terms a span-level
    * dataset-overlap audit (e.g. two redaction passes, two extractor
    * versions).
    *
    * Both tracks ride ONE [[IntervalDepth.depthSegments]] sweep as
    * per-track delta columns — one range exchange, no merged-run
    * materialization, no bin join: a_bp / b_bp sum segment lengths at
    * positive per-track depth (each covered base counted once per side),
    * inter_bp at both-positive, and the union is |A| + |B| − |A∩B| by
    * inclusion-exclusion.
    *
    * Exact end-to-end: base-pair counts are integer sums; jaccard
    * lands on the 1e-6 lattice via round-half-up (2a + b) div 2b.
    * Closed intervals, the [[IntervalDepth.depthHistogram]] input
    * contract (violations raise in the sweep). Two empty sets have no
    * defined similarity → NULL.
    *
    * Output: one row (a_bp, b_bp, inter_bp, union_bp, jaccard_e6).
    */
  def intervalJaccard(
      a: DataFrame, b: DataFrame,
      aChrom: String, aStartCol: String, aEndCol: String,
      bChrom: String, bStartCol: String, bEndCol: String): DataFrame = {
    def bp(covered: Column) = coalesce(sum(when(covered, col("len"))), lit(0L))
    IntervalDepth.depthSegments(Seq(
        IntervalDepth.Track(a, aChrom, aStartCol, aEndCol),
        IntervalDepth.Track(b, bChrom, bStartCol, bEndCol)),
        numPartitions = 0, "intervalJaccard")
      .agg(bp(col("depth0") > 0).as("a_bp"), bp(col("depth1") > 0).as("b_bp"),
        bp(col("depth0") > 0 && col("depth1") > 0).as("inter_bp"))
      .select(col("a_bp"), col("b_bp"), col("inter_bp"),
        (col("a_bp") + col("b_bp") - col("inter_bp")).as("union_bp"))
      .withColumn("jaccard_e6",
        when(col("union_bp") > 0,
          expr("(2 * inter_bp * 1000000 + union_bp) div (2 * union_bp)")))
  }

  /** Interval clustering — `bedtools cluster -d maxGap`: assign every
    * interval the id of its gap-closed island (two intervals share a
    * cluster when they overlap or sit within `maxGap` bases; clusters
    * chain transitively). The grouping step before per-event merging
    * decisions that [[IntervalDepth.coalesce]]'s merged output alone
    * can't express — callers keep the ORIGINAL rows, labeled.
    *
    * Shape: the islands come from [[IntervalDepth.coalesce]]'s
    * distributed sweep (same `maxGap` semantics by construction — one
    * code path defines "same cluster"), and each original interval
    * joins to the single island containing its START via the
    * [[pointInRange]] bin-key equi-join (islands are disjoint and
    * cover every start, so the join is exactly-once by construction —
    * no distinct, no window over raw intervals anywhere). The cluster
    * id is `chrom:islandStart` — deterministic and stable across
    * partitionings.
    *
    * Input contract as [[IntervalDepth.depthHistogram]] (closed
    * intervals, violations raise in the sweep). Output: (id, chrom,
    * start, stop, cluster).
    */
  def clusterIntervals(
      df: DataFrame, chromCol: String, startCol: String, endCol: String,
      idCol: String, maxGap: Long = 0L, binWidth: Long = 1024L)
      : DataFrame = {
    require(maxGap >= 0, s"maxGap must be >= 0 (got $maxGap)")
    require(binWidth > 0, s"binWidth must be positive (got $binWidth)")
    val (chrom, start, stop) =
      IntervalDepth.checkedSpan(chromCol, startCol, endCol, "clusterIntervals")
    val q = df.select(col(idCol).cast("long").as("iv_id"),
      chrom.as("iv_chrom"), start.as("iv_start"), stop.as("iv_stop"))
    val runs = IntervalDepth.coalesce(df, chromCol, startCol, endCol,
        maxGap)
      .select(col("chrom").as("run_chrom"), col("start").as("run_start"),
        col("stop").as("run_stop"))
    pointInRange(q, runs, "iv_start", "run_start", "run_stop",
        binWidth.toDouble,
        extraEquiKeys = Seq("iv_chrom" -> "run_chrom"),
        hiInclusive = true)
      .select(col("iv_id").as("id"), col("iv_chrom").as("chrom"),
        col("iv_start").as("start"), col("iv_stop").as("stop"),
        concat(col("iv_chrom"), lit(":"),
          col("run_start").cast("string")).as("cluster"))
  }

  /** Interval subtraction — `bedtools subtract`: the portions of every
    * `a` interval not covered by ANY `b` interval. Callable-regions
    * minus blacklist in genomics; license-clean span extraction or
    * redaction-gap audits over text offsets.
    *
    * Shape: `b` first collapses to disjoint merged runs
    * ([[IntervalDepth.coalesce]] — the distributed sweep, no per-chrom
    * window), then the bin-key rewrite joins each `a` row to the runs it
    * overlaps (plain equi-join on (chrom, bin) + residual, AQE/
    * skew-planned). The complement is computed per `a` row by a fold
    * over its SORTED overlap set — an `aggregate` higher-order function
    * inside codegen, never a window: per-row state is the overlap array,
    * bounded by the merged runs inside ONE `a` span (merged runs are
    * disjoint, so ≤ span/2 and in practice tiny), not by corpus size.
    * An `a` row with no overlap survives the left bin-join as null
    * overlaps (collapsed by the same regroup) and emits itself whole.
    *
    * Input contract as [[IntervalDepth.depthHistogram]]: closed
    * intervals, `start <= end` (violations raise in the sweep), no null
    * chroms. Output: (id, chrom, start, stop) — the surviving
    * sub-intervals of `a`, zero rows for fully-covered `a` intervals.
    */
  def subtract(
      a: DataFrame, b: DataFrame,
      aChrom: String, aStartCol: String, aEndCol: String, aIdCol: String,
      bChrom: String, bStartCol: String, bEndCol: String,
      binWidth: Long = 1024L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive (got $binWidth)")
    // the same loud null-chrom / inverted-interval contract the sweep
    // enforces on b — a silent null here would drop the row from the
    // bin join and fabricate a full-coverage result
    val (chrom, start, stop) =
      IntervalDepth.checkedSpan(aChrom, aStartCol, aEndCol, "subtract")
    val q = a.select(col(aIdCol).cast("long").as("a_id"), chrom.as("chrom"),
      start.as("a_s"), stop.as("a_e"))
    val bm = IntervalDepth.coalesce(b, bChrom, bStartCol, bEndCol)
      .select(col("chrom").as("b_chrom"), col("start").as("b_s"),
        col("stop").as("b_e"))
    val qb = q.withColumn("bin",
      binKeys(col("a_s"), col("a_e"), binWidth.toDouble, "subtract a bins"))
    val rb = bm.withColumn("bin",
      binKeys(col("b_s"), col("b_e"), binWidth.toDouble, "subtract b bins"))
    val ov = qb.join(rb,
        qb("chrom") === rb("b_chrom") && qb("bin") === rb("bin") &&
          col("b_s") <= col("a_e") && col("b_e") >= col("a_s"),
        "left")
      .select(col("a_id"), qb("chrom"), col("a_s"), col("a_e"),
        // null o_s marks "this bin row matched nothing" — greatest()
        // would otherwise swallow the null b side and fabricate an
        // overlap equal to the a span
        when(col("b_s").isNotNull,
          struct(greatest(col("b_s"), col("a_s")).as("o_s"),
            least(col("b_e"), col("a_e")).as("o_e"))).as("o"))
    // collect_set: a pair colliding in several bins collapses here, and
    // the all-null rows of an unmatched a collapse to an empty set
    ov.groupBy("a_id", "chrom", "a_s", "a_e")
      .agg(sort_array(collect_set(col("o"))).as("ov"))
      .select(col("a_id").as("id"), col("chrom"),
        explode(expr(
          """aggregate(ov,
            |  struct(a_s AS cur,
            |    CAST(array() AS ARRAY<STRUCT<gs: BIGINT, ge: BIGINT>>)
            |      AS gaps),
            |  (acc, x) -> struct(
            |    greatest(acc.cur, x.o_e + 1L) AS cur,
            |    IF(x.o_s > acc.cur,
            |      array_append(acc.gaps,
            |        struct(acc.cur AS gs, x.o_s - 1L AS ge)),
            |      acc.gaps) AS gaps),
            |  acc -> IF(acc.cur <= a_e,
            |    array_append(acc.gaps, struct(acc.cur AS gs, a_e AS ge)),
            |    acc.gaps))""".stripMargin)).as("g"))
      .select(col("id"), col("chrom"),
        col("g.gs").as("start"), col("g.ge").as("stop"))
  }
}
