package genbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Prints, as the last line of stdout, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics untraced
  * (`--trace 0`), the per-layer metrics traced (`--trace 1`).
  */
object Main {

  val Workloads: Map[String, CohortSpec] = Map(
    "cohort_wide" -> CohortSpec.Wide, "cohort_annotated" -> CohortSpec.Annotated)

  /** Session set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Untimed iterations before timing starts: the JIT is still compiling
    * the pipeline's hot paths for a few runs after the set-ups.
    */
  val Settle = 2

  /** Timed iterations at least, whatever `--seconds` says. The JIT is
    * still speeding the pipeline up over the first timed iterations, so
    * the median of a run is only comparable to another's when both take
    * it over the same iterations.
    */
  val MinSamples = 3

  final case class Metric(value: Double, unit: String, integral: Boolean = false)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val workload = opt("workload")
    val spec = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace takes 0 or 1, not $t")
    }
    val work = new File(opt("work"))
    CohortBench.deleteTree(work)
    work.mkdirs()

    val bench = new CohortBench(spec, seed, work)
    val (spark, rounds) = bench.setUp(SetUps)
    // untimed (but checked) iterations on the real cohort before the clock starts
    (1 to Settle).foreach(_ => bench.iterate(spark))
    Heap.startRecording()
    val steal0 = Steal.read()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val metrics =
      try {
        if (trace) traced(bench, spark, rounds, seconds, () => elapsed)
        else untraced(bench, spark, rounds, seconds, () => elapsed)
      } finally spark.stop()
    for (a <- steal0; b <- Steal.read())
      System.err.println(f"host steal while measuring: ${Steal.share(a, b) * 100}%.1f%% of CPU time")
    if (trace) metrics.foreach { case (k, m) => System.err.println(f"$k%-36s ${m.value}%14.6f ${m.unit}") }
    bench.failures.distinct.take(20).foreach(f => System.err.println(s"FAILED: $f"))
    println(json(bench.failed == 0, bench.attempted, bench.failed, metrics))
  }

  private def untraced(
      bench: CohortBench, spark: org.apache.spark.sql.SparkSession,
      rounds: Seq[(Double, Double)], seconds: Int, elapsed: () => Double): Seq[(String, Metric)] = {
    val times = ArrayBuffer.empty[Double]
    val stored = ArrayBuffer.empty[Double]
    // a new iteration starts only if it is expected to end in time, so that
    // the timed part lasts about `seconds` whatever the pipeline's speed
    var last = 0.0
    while (times.size < MinSamples || elapsed() + last < seconds) {
      val t0 = elapsed()
      times += bench.iterate(spark)
      stored += bench.storedBytesPerInputByte
      last = elapsed() - t0
    }
    System.err.println(s"pipeline_s samples (${times.size}): ${times.map(t => f"$t%.3f").mkString(" ")}")
    System.err.println(s"setup rounds: ${rounds.map { case (b, s) => f"$b%.3f/$s%.3f" }.mkString(" ")}")
    Seq(
      "setup_s" -> Metric(Stats.median(rounds.map(_._2)), "s"),
      "peak_heap_mb" -> Metric(Heap.peakMb, "MB"),
      "pipeline_s" -> Metric(Stats.median(times.toSeq), "s"),
      "stored_bytes_per_input_byte" -> Metric(Stats.median(stored.toSeq), "ratio"))
  }

  private def traced(
      bench: CohortBench, spark: org.apache.spark.sql.SparkSession,
      rounds: Seq[(Double, Double)], seconds: Int, elapsed: () => Double): Seq[(String, Metric)] = {
    val tracer = new Tracer(spark)
    val plain = ArrayBuffer.empty[Double]
    val iters = ArrayBuffer.empty[Seq[(String, Span, CallRecord)]]
    val stageBytes = ArrayBuffer.empty[Map[String, Long]]
    // traced and untraced iterations alternate, so both see the same drift
    var last = 0.0
    while (iters.size < 2 || elapsed() + last < seconds * 0.8) {
      val t0 = elapsed()
      plain += bench.iterate(spark)
      tracer.attach()
      try iters += bench.iterateTraced(tracer, iters.size)
      finally tracer.detach()
      stageBytes += CohortBench.Stages.map(st => st -> bench.stageBytes(st)).toMap
      last = elapsed() - t0
    }
    val rows = bench.stageRowCounts(spark)
    val linesPerS = bench.parserLinesPerSecond(seconds * 0.1)
    val (joinS, joinRows) = bench.intervalJoin(spark, 3)
    bench.attempted += 1
    if (joinRows != bench.expected.joinRows) {
      bench.failed += 1
      bench.failures += s"interval join: ${bench.expected.joinRows} rows expected, $joinRows found"
    }
    writeSpans(new File(bench.workDir, "spans.json"), iters.toSeq)

    def med(f: Seq[(String, Span, CallRecord)] => Double): Double = Stats.median(iters.toSeq.map(f))
    def stage(st: String)(f: (Span, CallRecord) => Double): Double =
      med(it => it.collect { case (`st`, s, r) => f(s, r) }.sum)
    def total(f: CallRecord => Double): Double = med(_.map(x => f(x._3)).sum)
    val tracedTotal = med(_.map(_._2.seconds).sum)
    val untracedTotal = Stats.median(plain.toSeq)

    val perStage = CohortBench.Stages.flatMap { st =>
      Seq(
        s"stage.${st}_s" -> Metric(stage(st)((s, _) => s.seconds), "s"),
        s"stage.$st.rows_out" -> Metric(rows(st).toDouble, "count", integral = true),
        s"stage.$st.bytes_out" -> Metric(Stats.median(stageBytes.toSeq.map(_(st).toDouble)), "bytes", integral = true),
        s"stage.$st.driver_self_s" -> Metric(stage(st)((_, r) => r.driverSelfS), "s"),
        s"stage.$st.executor_run_s" -> Metric(stage(st)((_, r) => r.executorRunMs / 1e3), "s"),
        s"stage.$st.catalyst_s" -> Metric(stage(st)((_, r) => r.catalystS), "s"),
        s"stage.$st.jobs" -> Metric(stage(st)((_, r) => r.jobs.toDouble), "count"),
        s"stage.$st.shuffle_write_bytes" -> Metric(stage(st)((_, r) => r.shuffleWriteBytes.toDouble), "bytes"),
        s"stage.$st.exchanges" -> Metric(stage(st)((_, r) => r.exchanges.toDouble), "count"))
    }
    val docs = rows("publish")
    Seq(
      "session.build_s" -> Metric(Stats.median(rounds.map(_._1)), "s"),
      "trace.pipeline_s" -> Metric(tracedTotal, "s"),
      "trace.untraced_pipeline_s" -> Metric(untracedTotal, "s"),
      "trace.overhead_s" -> Metric(tracedTotal - untracedTotal, "s"),
      "parser.lines_per_s" -> Metric(linesPerS, "lines/s"),
      "interval_join_s" -> Metric(joinS, "s"),
      "interval_join.rows_out" -> Metric(joinRows.toDouble, "count", integral = true),
      "interval_join.candidate_pairs" -> Metric(bench.expected.candidatePairs.toDouble, "count", integral = true),
      "interval_join.match_ratio" -> Metric(joinRows.toDouble / bench.expected.candidatePairs, "ratio"),
      "sink.bytes_per_doc" -> Metric(Stats.median(stageBytes.toSeq.map(_("publish").toDouble)) / docs, "bytes"),
      "spark.jobs" -> Metric(total(_.jobs.toDouble), "count"),
      "spark.tasks" -> Metric(total(_.tasks.toDouble), "count"),
      "spark.executor_run_s" -> Metric(total(_.executorRunMs / 1e3), "s"),
      "spark.gc_s" -> Metric(total(_.gcMs / 1e3), "s"),
      "spark.shuffle_write_bytes" -> Metric(total(_.shuffleWriteBytes.toDouble), "bytes"),
      "spark.spill_bytes" -> Metric(total(_.spillBytes.toDouble), "bytes"),
      "driver.self_s" -> Metric(total(_.driverSelfS), "s"),
      "catalyst.analysis_s" -> Metric(total(_.analysisNs / 1e9), "s"),
      "catalyst.optimization_s" -> Metric(total(_.optimizationMs / 1e3), "s"),
      "catalyst.planning_s" -> Metric(total(_.planningMs / 1e3), "s"),
      "plan.exchanges" -> Metric(total(_.exchanges.toDouble), "count")) ++ perStage
  }

  /** Every span of the traced iterations, as a JSON array. */
  private def writeSpans(f: File, iters: Seq[Seq[(String, Span, CallRecord)]]): Unit = {
    val items = iters.flatMap(_.map { case (st, s, r) =>
      s"""{"name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${r.jobs},"driver_self_s":${r.driverSelfS},"executor_run_s":${r.executorRunMs / 1e3}}"""
    })
    java.nio.file.Files.write(f.toPath, items.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      require(!m.value.isNaN && !m.value.isInfinite, s"$k is not a number: ${m.value}")
      val v = if (m.integral) m.value.toLong.toString else m.value.toString
      s""""$k": {"value": $v, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
