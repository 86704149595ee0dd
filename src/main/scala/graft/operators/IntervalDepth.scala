package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Coverage-depth histogram over an interval table — the genomics
  * `genomecov` question ("how many bases are covered at depth d?") the
  * reference's gVCF band/variant intersection logic circles around
  * (reference `gzToParquet`'s band tables are exactly such intervals);
  * the same operator profiles any span data: session overlap, ad
  * delivery, time-range load.
  *
  * Algorithm: the classic event sweep, made distributed.
  * Each interval [start, stop] emits (+1 at start, −1 at stop+1);
  * events collapse per (chrom, pos) into one delta row; the running
  * prefix sum of deltas in (chrom, pos) order IS the depth over the
  * segment [pos, next event pos). The histogram sums segment lengths
  * per depth.
  *
  * The prefix sum is where naive Spark dies at scale: a window
  * `PARTITION BY chrom ORDER BY pos` sorts every chromosome on ONE
  * reducer — human chr1 is a tenth of the genome. Instead this runs
  * the external-sort-rank discipline ([[Sampling.curriculumOrder]],
  * RecordLinkage's sorted run) generalized to prefix SUMS:
  * one `repartitionByRange` on (chrom, pos), per-(partition, chrom)
  * delta subtotals collected once (≤ partitions + chroms rows —
  * model-sized, the offset vector of an external scan), and a
  * per-partition streaming pass that adds the carried offset. Segment
  * ends come from the partition-local next row, or — only for the last
  * row of a partition mid-chromosome — from that chromosome's first
  * position in the next partition holding it, known on the driver from
  * the same collect. Every step is exact integer arithmetic; output is
  * engine-bit-identical.
  *
  * The sweep invariant makes chrom boundaries safe with no special
  * case: every interval closes inside its chromosome, so the running
  * depth returns to 0 at a chromosome's last event and the (depth > 0)
  * filter drops the unbounded tail segment.
  *
  * Input contract: `startCol <= endCol` per row (violations raise),
  * positions are integers, intervals are CLOSED ([start, stop]).
  * Output: (depth, n_bases), depth >= 1.
  */
object IntervalDepth {

  /** One interval track of a sweep: the columns of `df` holding the
    * chrom, start and (closed) end of each interval.
    */
  private[operators] final case class Track(
      df: DataFrame, chrom: String, start: String, end: String)

  /** `(chrom, start, end)` cast to string/long/long, raising — named by
    * `op` — on a null chrom or an interval with end < start. A null chrom
    * would collide with the sweep's "new chrom" sentinel (silently
    * skipping the carried offset) or drop out of a bin join; a silently
    * dropped inverted interval would undercount with no signal.
    */
  private[operators] def checkedSpan(chromCol: String, startCol: String,
      endCol: String, op: String): (Column, Column, Column) = {
    val (s, e) = (col(startCol).cast("long"), col(endCol).cast("long"))
    (when(col(chromCol).isNull, raise_error(lit(s"$op: null chrom")))
       .otherwise(col(chromCol).cast("string")),
     s,
     when(e < s, raise_error(concat(lit(s"$op: interval with end < "
         + "start at chrom "), col(chromCol).cast("string"))))
       .otherwise(e))
  }

  /** A range-partitioned event run and the model-sized driver state a
    * partition-local pass needs. `run` rows are (pid, chrom, pos, d0 ..
    * d<k-1>), one delta column per track, sorted on (chrom, pos) within
    * each partition. `carry((pid, chrom))` holds each track's depth
    * entering partition `pid` on `chrom`; `nextPos((pid, chrom))` is the
    * first event of `chrom` in the next partition that holds `chrom`,
    * absent where `chrom` ends inside `pid`.
    */
  private final case class Sweep(run: DataFrame,
      carry: Map[(Int, String), Array[Long]],
      nextPos: Map[(Int, String), Long])

  /** The shared sweep preamble: each track's validated intervals become
    * (+1 at start, −1 at stop + `closeShift`) events in that track's
    * delta column, collapsed to one row per (chrom, pos), range-
    * partitioned and sorted on (chrom, pos), plus the carry state of
    * [[Sweep]].
    */
  private def sweepRuns(tracks: Seq[Track], closeShift: Long,
      numPartitions: Int, op: String): Sweep = {
    val spark = tracks.head.df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ds = tracks.indices.map(k => s"d$k")
    val ev = tracks.zipWithIndex.flatMap { case (t, k) =>
      val (chrom, s, e) = checkedSpan(t.chrom, t.start, t.end, op)
      val iv = t.df.select(chrom.as("chrom"), s.as("s"), e.as("e"))
      def deltas(v: Long) =
        ds.indices.map(j => lit(if (j == k) v else 0L).as(ds(j)))
      Seq(iv.select(col("chrom") +: col("s").as("pos") +: deltas(1L): _*),
        iv.select(col("chrom") +: (col("e") + closeShift).as("pos") +:
          deltas(-1L): _*))
    }.reduce(_ unionAll _)
    // one delta row per event position — map-side partials collapse
    // duplicate positions before the exchange
    val sums = ds.map(d => sum(d).as(d))
    val run = ev.groupBy("chrom", "pos").agg(sums.head, sums.tail: _*)
      .repartitionByRange(parts, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos")
      .select(spark_partition_id().as("pid") +: col("chrom") +: col("pos") +:
        ds.map(col): _*)
      .localCheckpoint()
    // per-(partition, chrom) subtotals and first position: <= partitions
    // + chroms rows — the model-sized driver traffic of an external
    // scan's offset vector. KEY-CARDINALITY CONTRACT: this collect is
    // bounded because the carry key is a CHROMOSOME — genomes have tens
    // of contigs (a few thousand with scaffolds), so partitions × chroms
    // stays offset-vector-sized at any corpus scale. Reusing this sweep
    // for a NON-genomic track key (e.g. per-document or per-user
    // intervals, millions of keys) would make the driver maps
    // key-cardinality-sized — don't: re-key such data onto a bounded
    // partition key first, or use the bin-join operators (IntervalJoin)
    // whose state never leaves the executors.
    val partials = run.groupBy("pid", "chrom")
      .agg(min("pos").as("firstPos"), sums: _*).collect()
    val carry = scala.collection.mutable.Map.empty[(Int, String), Array[Long]]
    val nextPos = scala.collection.mutable.Map.empty[(Int, String), Long]
    // Range partitioning puts a chrom's events in consecutive non-empty
    // partitions, so the carry-in is the sum over the chrom's smaller
    // pids, and a partition ending mid-chrom continues at the chrom's
    // first position in the next pid that holds it. Keyed by chrom, this
    // never compares chroms on the driver, where JVM (UTF-16) string
    // order differs from Spark's UTF-8 byte order past the BMP.
    partials.groupBy(_.getString(1)).foreach { case (chrom, rows) =>
      val byPid = rows.sortBy(_.getInt(0))
      val acc = new Array[Long](tracks.size)
      byPid.indices.foreach { i =>
        val pid = byPid(i).getInt(0)
        carry((pid, chrom)) = acc.clone()
        acc.indices.foreach(k => acc(k) += byPid(i).getLong(3 + k))
        if (i + 1 < byPid.length)
          nextPos((pid, chrom)) = byPid(i + 1).getLong(2)
      }
    }
    Sweep(run, carry.toMap, nextPos.toMap)
  }

  /** The partition-local segment pass over a sweep with close events at
    * stop + 1: one row (chrom, depth0 .. depth<k-1>, len) per segment
    * [pos, next event pos) where some track's depth is positive. Depth
    * starts from the carry at each partition's first row of a chrom; a
    * partition's last row of a chrom ends at the chrom's next event
    * (partition-local, else [[Sweep]]`.nextPos`), or emits nothing when
    * the chrom ends there.
    */
  private[operators] def depthSegments(tracks: Seq[Track],
      numPartitions: Int, op: String): DataFrame = {
    val k = tracks.size
    val Sweep(run, carry, nextPos) =
      sweepRuns(tracks, closeShift = 1L, numPartitions, op)
    val schema = StructType(StructField("chrom", StringType) +:
      (0 until k).map(i => StructField(s"depth$i", LongType, false)) :+
      StructField("len", LongType, false))
    run.mapPartitions { (it: Iterator[Row]) =>
      val b = it.buffered
      var curChrom: String = null
      var depth: Array[Long] = null
      b.flatMap { r =>
        val (pid, chrom, pos) = (r.getInt(0), r.getString(1), r.getLong(2))
        if (chrom != curChrom) {
          curChrom = chrom
          depth = carry((pid, chrom)).clone()
        }
        var covered = false
        for (i <- 0 until k) {
          depth(i) += r.getLong(3 + i)
          covered ||= depth(i) > 0
        }
        val next =
          if (b.hasNext && b.head.getString(1) == chrom) Some(b.head.getLong(2))
          else nextPos.get((pid, chrom))
        next match {
          case Some(np) if covered =>
            Iterator.single(Row.fromSeq(chrom +: depth.toSeq :+ (np - pos)))
          case _ => Iterator.empty
        }
      }
    }(Encoders.row(schema))
  }

  def depthHistogram(
      intervals: DataFrame, chromCol: String, startCol: String,
      endCol: String, numPartitions: Int = 0): DataFrame =
    depthSegments(Seq(Track(intervals, chromCol, startCol, endCol)),
        numPartitions, "depthHistogram")
      .groupBy(col("depth0").as("depth")).agg(sum("len").as("n_bases"))

  /** Per-chrom coverage summary (the mosdepth report): covered bases,
    * breadth at each depth threshold (bases covered ≥ t×), and mean
    * depth over covered bases — the QC numbers a sequencing pipeline
    * gates on.
    *
    * The shared sweep's (chrom, depth, len) segments ([[depthSegments]]);
    * one hash aggregate per chrom then folds exact longs — Σlen,
    * Σ(depth·len), per-threshold conditional sums — and the mean lands
    * on the 1e-4 lattice via round-half-up INTEGER division (2a+b) div
    * 2b, no float path. Segment rows number O(2·intervals), aggregate
    * state is one row per chrom.
    *
    * Output: (chrom, covered_bases, breadth_ge_<t>…, mean_depth_e4).
    */
  def coverageSummary(
      intervals: DataFrame, chromCol: String, startCol: String,
      endCol: String, thresholds: Seq[Long], numPartitions: Int = 0)
      : DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ >= 1),
      s"thresholds must be >= 1 (got $thresholds)")
    val segs = depthSegments(
      Seq(Track(intervals, chromCol, startCol, endCol)), numPartitions,
      "coverageSummary")
    val aggs =
      Seq(sum(col("len")).as("covered_bases")) ++
      thresholds.map(t =>
        sum(when(col("depth0") >= t, col("len")).otherwise(lit(0L)))
          .as(s"breadth_ge_$t")) ++
      Seq(sum(col("depth0") * col("len")).as("__ds"))
    segs.groupBy("chrom").agg(aggs.head, aggs.tail: _*)
      .withColumn("mean_depth_e4",
        expr("(2 * __ds * 10000 + covered_bases) div (2 * covered_bases)"))
      .drop("__ds")
  }

  /** Interval coalescing — `bedtools merge`: collapse every chain of
    * overlapping-or-book-ended intervals (and, with `maxGap` > 0,
    * chains whose gaps are ≤ maxGap bases) into one merged interval per
    * chrom. The union-of-spans primitive: callable-region consolidation
    * in genomics, busy-period extraction over session/ad spans.
    *
    * Same distributed sweep as [[depthHistogram]] (close events shifted
    * by 1 + maxGap so a qualifying gap never lets the depth touch 0) —
    * but instead of segment lengths the partition-local pass emits RUN
    * BOUNDARIES: a 0→positive depth transition opens a merged interval
    * at `pos`, a positive→0 transition closes it at `pos − 1 − maxGap`
    * (undoing the shift, so the reported stop is the true max stop).
    * The sweep invariant (depth returns to 0 inside every chrom) means
    * starts and ends strictly alternate per chrom in position order, so
    * the k-th start pairs with the k-th end. That global k is assigned
    * WITHOUT any per-chrom window: boundaries stay range-partitioned
    * and sorted from the sweep, per-(partition, chrom, kind) boundary
    * counts are collected once (model-sized — boundary rows number
    * ≤ merged runs), and a second partition-local pass adds the carried
    * rank offset — the external-sort-rank discipline again. The final
    * (chrom, rank) regroup shuffles merged-run-sized rows only.
    *
    * Input contract as [[depthHistogram]]; closed intervals. Output:
    * (chrom, start, stop), one row per merged interval.
    */
  def coalesce(
      intervals: DataFrame, chromCol: String, startCol: String,
      endCol: String, maxGap: Long = 0L, numPartitions: Int = 0)
      : DataFrame = {
    require(maxGap >= 0, s"maxGap must be >= 0 (got $maxGap)")
    val spark = intervals.sparkSession
    import spark.implicits._
    val Sweep(run, carry, _) = sweepRuns(
      Seq(Track(intervals, chromCol, startCol, endCol)),
      closeShift = 1L + maxGap, numPartitions, "coalesce")
    // (pid, chrom, kind, pos): kind true = run start, false = run end.
    // Partition layout and intra-partition order survive mapPartitions,
    // so the rank pass below rides the same partitions — no new shuffle.
    val bounds = run.as[(Int, String, Long, Long)].mapPartitions { it =>
      var curChrom: String = null
      var depth = 0L
      it.flatMap { case (pid, chrom, pos, delta) =>
        if (chrom != curChrom) {
          curChrom = chrom
          depth = carry((pid, chrom))(0)
        }
        val prev = depth
        depth += delta
        if (prev == 0L && depth > 0L)
          Iterator((pid, chrom, true, pos))
        else if (prev > 0L && depth == 0L)
          Iterator((pid, chrom, false, pos - 1L - maxGap))
        else Iterator.empty[(Int, String, Boolean, Long)]
      }
    }.localCheckpoint()
    // carried rank offset per (pid, chrom, kind): boundaries in earlier
    // partitions — model-sized (<= partitions × chroms × 2 rows)
    val cnts = bounds.groupBy("_1", "_2", "_3").count()
      .as[(Int, String, Boolean, Long)].collect()
    val rankOff: Map[(Int, String, Boolean), Long] = {
      val m = scala.collection.mutable.Map.empty[(Int, String, Boolean), Long]
      cnts.groupBy(r => (r._2, r._3)).foreach { case ((chrom, kind), rows) =>
        var acc = 0L
        rows.sortBy(_._1).foreach { case (pid, _, _, c) =>
          m((pid, chrom, kind)) = acc; acc += c
        }
      }
      m.toMap
    }
    bounds.mapPartitions { it =>
      val local = scala.collection.mutable.Map.empty[(String, Boolean), Long]
      it.map { case (pid, chrom, kind, pos) =>
        val k = (chrom, kind)
        val r = local.getOrElse(k, rankOff.getOrElse((pid, chrom, kind), 0L))
        local(k) = r + 1
        (chrom, r, kind, pos)
      }
    }.toDF("chrom", "rank", "kind", "pos")
      .groupBy("chrom", "rank")
      .agg(
        max(when(col("kind"), col("pos"))).as("start"),
        max(when(!col("kind"), col("pos"))).as("stop"))
      .select("chrom", "start", "stop")
  }

  /** Fixed-width genome windows with per-window coverage (bedtools
    * makewindows + coverage): tile each chrom `[0, max stop]` into
    * `windowBp`-wide closed windows and report, per window, how many
    * raw intervals overlap it and how many bases are covered by ≥ 1
    * interval — the binned coverage track behind every genome-browser
    * heat row and capture-QC report.
    *
    * Shape: the window index IS the bin key (windows tile disjointly),
    * so each interval explodes to exactly the window indexes it
    * overlaps — `floor(start/W)..floor(stop/W)` — and the equi-join on
    * (chrom, i) is exactly-once by construction: no distinct, no
    * residual overlap predicate, no theta join. covered_bp reads the
    * [[coalesce]]d runs (double-counting overlapping intervals is the
    * bug this avoids), clipped per window with exact closed-interval
    * integer arithmetic. The window table is genome/W rows — broadcast
    * class; per-interval fan-out is span/W + 1 rows (the j2 bin
    * envelope).
    *
    * Input contract as [[depthHistogram]]: closed intervals, inverted
    * rows raise. Output: (chrom, w_start, w_end, n_intervals,
    * covered_bp) — every window emitted, zero-filled.
    */
  def genomeWindows(
      intervals: DataFrame, chromCol: String, startCol: String,
      endCol: String, windowBp: Long): DataFrame = {
    require(windowBp > 0, s"windowBp must be positive (got $windowBp)")
    val base = intervals.select(
        col(chromCol).cast("string").as("chrom"),
        // Genome coordinates are non-negative by contract; a negative
        // start would make the `div` bin indexes below truncate toward
        // zero instead of flooring (mis-binning) and a negative
        // chrom_end would emit a garbage [0, chrom_end] window — raise
        // loudly like the inverted-interval case instead.
        when(col(startCol).cast("long") < 0,
          raise_error(lit("genomeWindows: negative start (genome " +
            "coordinates are non-negative by contract)")))
          .otherwise(col(startCol).cast("long")).as("start"),
        when(col(endCol).cast("long") < col(startCol).cast("long"),
          raise_error(lit("genomeWindows: inverted interval")))
          .otherwise(col(endCol).cast("long")).as("stop"))
      .localCheckpoint() // feeds the extent agg, the raw join, coalesce
    val windows = base.groupBy("chrom").agg(max("stop").as("chrom_end"))
      .select(col("chrom"), col("chrom_end"),
        explode(Guards.boundedSequence(lit(0L),
          expr(s"chrom_end div ${windowBp}L"),
          Guards.MaxWindowsPerChrom, "genomeWindows tiling")).as("i"))
      .select(col("chrom"), col("i"),
        (col("i") * windowBp).as("w_start"),
        least(col("i") * windowBp + (windowBp - 1), col("chrom_end"))
          .as("w_end"))
      .localCheckpoint() // joined by both measure legs + the final fill
    def toBins(df: DataFrame): DataFrame =
      df.withColumn("i", explode(Guards.boundedSequence(
        expr(s"start div ${windowBp}L"), expr(s"stop div ${windowBp}L"),
        Guards.MaxBinsPerRow, "genomeWindows binning")))
    val nIv = toBins(base)
      .groupBy("chrom", "i").agg(count(lit(1)).as("n_intervals"))
    val runs = coalesce(base, "chrom", "start", "stop")
    val cov = toBins(runs).join(windows, Seq("chrom", "i"))
      .groupBy("chrom", "i")
      .agg(sum(least(col("w_end"), col("stop")) -
        greatest(col("w_start"), col("start")) + 1).as("covered_bp"))
    windows
      .join(nIv, Seq("chrom", "i"), "left")
      .join(cov, Seq("chrom", "i"), "left")
      .select(col("chrom"), col("w_start"), col("w_end"),
        orZero(col("n_intervals")).as("n_intervals"),
        orZero(col("covered_bp")).as("covered_bp"))
  }

  // functions.coalesce with a zero default, named to dodge this
  // object's own `coalesce` (the merge operator) shadowing it
  private def orZero(c: Column): Column =
    org.apache.spark.sql.functions.coalesce(c, lit(0L))

  /** Uncovered-region complement (bedtools complement): the regions of
    * each genome chrom `[1, size]` NOT covered by any interval —
    * capture-kit gap reporting, the inverse of [[coalesce]].
    *
    * Shape: intervals first collapse through [[coalesce]]'s
    * distributed sweep (the corpus-scale step — raw intervals never
    * reach a window), merged runs clip to the genome bounds, and a
    * zero-width SENTINEL at `size + 1` per chrom turns gap derivation
    * into one `lag` over the merged runs — the sentinel's gap is the
    * tail `[last_stop+1, size]`, and on an interval-less chrom the
    * sentinel alone yields the whole span `[1, size]`. The per-chrom
    * window runs over MERGED-RUN rows (orders smaller than the input;
    * the j12 envelope), and the genome table is dim-sized — broadcast.
    *
    * Input contract as [[depthHistogram]]; closed intervals, genome
    * spans `[1, size]`. Intervals outside their chrom's bounds clip;
    * intervals on chroms absent from `genome` drop (no defined span to
    * complement). Output: (chrom, start, stop).
    */
  def complement(
      intervals: DataFrame, chromCol: String, startCol: String,
      endCol: String, genome: DataFrame, gChromCol: String,
      gSizeCol: String): DataFrame = {
    val g = genome.select(col(gChromCol).cast("string").as("chrom"),
      col(gSizeCol).cast("long").as("gsize"))
    val clipped = coalesce(intervals, chromCol, startCol, endCol)
      .join(broadcast(g), Seq("chrom"))
      .select(col("chrom"),
        greatest(col("start"), lit(1L)).as("start"),
        least(col("stop"), col("gsize")).as("stop"))
      .filter(col("start") <= col("stop"))
    val withSentinel = clipped.unionByName(
      g.select(col("chrom"), (col("gsize") + 1).as("start"),
        (col("gsize") + 1).as("stop")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chrom").orderBy("start")
    withSentinel
      .withColumn("prevstop", lag("stop", 1).over(w))
      .select(col("chrom"), (orZero(col("prevstop")) + 1).as("start"),
        (col("start") - 1).as("stop"))
      .filter(col("start") <= col("stop"))
  }
}
