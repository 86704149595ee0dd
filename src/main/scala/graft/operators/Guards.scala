package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Loud-raise guards for data-derived `explode(sequence(lo, hi))`
  * spans.
  *
  * An unguarded densify/tiling explode builds a per-row array whose
  * length is an UNVALIDATED function of the data: one corrupt
  * timestamp (a ns-vs-µs unit mixup inflates a span 1000×) or one
  * corrupt interval `stop` makes a ~10⁸-element array construction
  * that dies as an opaque executor OOM mid-stage. The repo's
  * discipline everywhere else (`maxSourcesPerFp`, `maxItemsPerKey`,
  * `maxVocab`) is to FAIL LOUDLY with a named, actionable error the
  * moment the envelope is exceeded — this object extends that
  * discipline to every span-driven sequence build.
  *
  * The caps are generous envelopes, not tuning knobs: sane inputs
  * never come near them (a year of hourly buckets is 8,760; a human
  * chromosome at 100 bp windows is 2.5M; a real genomic interval
  * spans thousands of bins at most), so guarded plans produce
  * byte-identical output on sane data and the DuckDB oracle rows are
  * unaffected.
  *
  * PROBING a guard (the r12 chaos-probe lesson): when the guarded
  * subtree feeds the probe through a LEFT join, action the probe with
  * a VALUE aggregate over the guarded columns (`agg(sum(...))`), never
  * `count()` — Catalyst's join elimination can satisfy a count from
  * the preserved side alone and skip the guarded subtree entirely, so
  * the raise never evaluates and the probe reads as "guard missing".
  *
  * Also the one gate of the sub-cap driver twins: the session switch
  * [[DriverPathsKey]], the two row caps and the only size probe.
  */
object Guards {

  /** Ensure enough partitions to use the cluster for CPU-heavy per-row
    * work (tokenize/hash/fold) and explode fan-outs — the shared form of
    * the [[Dedup]]/[[Classifier]] spread discipline. A no-op at real
    * scale (many input splits already); it matters for small
    * single-row-group files, which the parquet reader cannot split, so
    * without it a corpus-CPU pipeline runs in ONE task regardless of
    * cluster size (measured: t37's whole skipgram fan-out in one task).
    * Only safe where downstream results are partitioning-invariant —
    * every caller here computes exact-lattice aggregates or
    * deterministically-keyed windows.
    */
  private[operators] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, p / 2)) df.repartition(p)
    else df
  }

  /** Strided parallel `for (i <- 0 until n)` for CPU-heavy loops inside
    * sub-cap driver fast paths (the d5 keying/verify class): plain
    * daemon threads over disjoint index strides, first failure
    * propagated. The body must only write state owned by its own index
    * (or a per-thread buffer) — same read-only-inputs contract as a
    * Spark task. Thread count is clamped to the session's
    * defaultParallelism so a driver loop never oversubscribes the
    * machine the executors share in local mode.
    */
  private[operators] def parallelIndexLoop(
      n: Int, parallelism: Int)(body: Int => Unit): Unit = {
    val nT = math.max(1, math.min(64, math.min(parallelism, n)))
    if (nT == 1) {
      var i = 0; while (i < n) { body(i); i += 1 }
    } else {
      val firstErr =
        new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val threads = (0 until nT).map { t =>
        val th = new Thread(() => {
          try { var i = t; while (i < n) { body(i); i += nT } }
          catch { case e: Throwable => firstErr.compareAndSet(null, e); () }
        })
        th.setDaemon(true); th.start(); th
      }
      threads.foreach(_.join())
      if (firstErr.get() != null) throw firstErr.get()
    }
  }

  /** Session switch for every sub-cap driver twin: an operator whose
    * input fits its cap may run a plain-Scala loop on the driver,
    * bit-identical to its distributed Catalyst chain (each twin is
    * spec-pinned against that chain). `false` forces the distributed
    * chain everywhere — the A/B and parity lever; it reaches the
    * session as `-Dspark.graft.driverPaths=false` too (a `spark.*`
    * system property lands in the SparkConf).
    */
  val DriverPathsKey = "spark.graft.driverPaths"

  /** Row cap of the graph, merge-loop, rating and linear-model twins:
    * the driver-side state is row- or node-sized arrays of longs.
    */
  val DriverCapRows: Int = 1 << 20

  /** Row cap of the vector twins (k-means/PQ, LSH, MMR): each row holds
    * a float vector, so the cap is a quarter of [[DriverCapRows]].
    */
  val DriverCapVectors: Int = 1 << 18

  def driverPaths(spark: SparkSession): Boolean =
    spark.conf.get(DriverPathsKey, "true").toBoolean

  /** The gate for a site that already holds the exact row count `n` of
    * the frame its twin would collect — no job.
    */
  def onDriver(spark: SparkSession, n: Long, cap: Int): Boolean =
    driverPaths(spark) && n <= cap

  /** The sub-cap probe: a counted `limit(cap + 1)` proves `ds` fits
    * before any row moves, so an over-cap input pays one count job that
    * returns a single long, never a cap-sized collect it then discards.
    * No job at all when the switch is off.
    */
  def fitsDriver(ds: Dataset[_], cap: Int): Boolean =
    driverPaths(ds.sparkSession) && ds.limit(cap + 1).count() <= cap

  /** [[fitsDriver]], then the rows. Probe a checkpointed (or otherwise
    * stable) frame: the count and the collect must see the same rows.
    */
  def driverRows(df: DataFrame, cap: Int): Option[Array[Row]] =
    if (fitsDriver(df, cap)) Some(df.collect()) else None

  /** Run `body` with the driver twins switched off, then restore the
    * switch's previous setting (or its default).
    */
  def distributedOnly[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(DriverPathsKey)
    spark.conf.set(DriverPathsKey, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(DriverPathsKey, v)
      case None => spark.conf.unset(DriverPathsKey)
    }
  }

  /** Default cap for calendar densifies (w22-class): 2²⁰ ≈ 1.05M
    * buckets ≈ 119 years of hourly buckets — any span beyond this is
    * a unit mixup, not a calendar.
    */
  val MaxDensifySpan: Long = 1L << 20

  /** Default cap for per-chrom window tiling (j20-class): 2²² ≈ 4.19M
    * windows — chr1 (249 Mbp) tiles under this down to 60 bp windows;
    * the per-chrom array is ≤ ~34 MB. Tile finer by splitting chroms
    * upstream.
    */
  val MaxWindowsPerChrom: Long = 1L << 22

  /** Default cap for per-interval bin fan-out (IntervalJoin/j20
    * toBins class): 2²⁰ bins — a real interval spans span/binWidth+1
    * bins (thousands); only a corrupt mega-interval (or a stop from a
    * different coordinate system) explodes past a million.
    */
  val MaxBinsPerRow: Long = 1L << 20

  /** `sequence(lo, hi)` that raises a named error instead of building
    * an over-cap array: the corrupt-input executor OOM becomes a loud
    * one-line diagnosis carrying the offending span. `lo`/`hi` are
    * cast to long (every guarded site is a long-typed bucket/bin/
    * window index). Cost: one comparison per row, fully codegen'd —
    * the sequence itself is untouched on the sane path.
    */
  def boundedSequence(
      lo: Column, hi: Column, maxLen: Long, site: String): Column = {
    require(maxLen > 0, s"maxLen must be positive (got $maxLen)")
    val l = lo.cast("long")
    val h = hi.cast("long")
    val span = h - l + lit(1L)
    sequence(l,
      when(span > maxLen,
        raise_error(concat(
          lit(s"$site: densified span of "), span.cast("string"),
          lit(s" elements exceeds the $maxLen-element cap — corrupt " +
            "input (timestamp unit mixup / mega-interval)? Clean or " +
            "clip the offending rows upstream."))).cast("long"))
        .otherwise(h))
  }
}
