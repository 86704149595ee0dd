package genbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.vcf.{PipelineRunner, VcfParser, VcfPipeline}

/** One run of a cohort workload: generate the cohort, set up the session
  * several times, then run the pipeline in a closed loop (one client)
  * until the time is up, checking every iteration against the model.
  */
final class CohortBench(spec: CohortSpec, seed: Long, work: File) {
  import CohortBench._

  private val binWidth = PipelineRunner.Config(root = "").binWidth
  val workDir: File = work
  private val inputDir = new File(work, "input")
  private val outRoot = new File(work, "out")

  val cohort: Cohort = Cohort.generate(spec, seed)
  val paths: Seq[String] = cohort.write(inputDir)
  val expected: CohortExpectation = CohortModel.expect(cohort, binWidth)
  val inputBytes: Long = paths.map(p => new File(p).length).sum
  val probes: Seq[Int] = CohortModel.probeSites(expected, ProbeSites, seed)
  private val config = PipelineRunner.Config(root = outRoot.getPath, gvcfPaths = paths)

  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  /** Build the session and warm it up on a small cohort of the same shape,
    * `times` times; every build but the last is stopped. Returns the
    * session and the (build, build + warm-up) seconds of each round.
    */
  def setUp(times: Int): (SparkSession, Seq[(Double, Double)]) = {
    val warm = Cohort.generate(spec.copy(samples = math.min(spec.samples, 8), sites = spec.sites / 10), 7L)
    val warmPaths = warm.write(new File(work, "warm-input"))
    val warmCfg = PipelineRunner.Config(root = new File(work, "warm-out").getPath, gvcfPaths = warmPaths)
    var spark: SparkSession = null
    val rounds = (1 to times).map { _ =>
      if (spark != null) spark.stop()
      quiesce()
      val t0 = System.nanoTime()
      spark = BenchSession.build(work)
      val t1 = System.nanoTime()
      PipelineRunner.run(spark, warmCfg)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
    }
    (spark, rounds)
  }

  /** One untraced iteration: the full pipeline, timed; then the check. */
  def iterate(spark: SparkSession): Double = {
    clean()
    quiesce()
    val t0 = System.nanoTime()
    PipelineRunner.run(spark, config)
    val s = (System.nanoTime() - t0) / 1e9
    verify(spark)
    s
  }

  /** One traced iteration: `run` once per stage with a single-stage config. */
  def iterateTraced(tracer: Tracer, iter: Int): Seq[(String, Span, CallRecord)] = {
    clean()
    quiesce()
    val spans = Stages.map { st =>
      val (_, span, rec) = tracer.call(s"stage.$st", s"pipeline.$iter") {
        PipelineRunner.run(tracer.spark, config.copy(stages = Seq(st)))
      }
      (st, span, rec)
    }
    verify(tracer.spark)
    spans
  }

  def stageBytes(st: String): Long = dirBytes(new File(outRoot, Tables(st)))

  /** Bytes of every stage table plus the documents, per gVCF input byte. */
  def storedBytesPerInputByte: Double = Stages.map(stageBytes).sum.toDouble / inputBytes

  /** Compare every stage's row count and the probe sites' documents with
    * the model; a mismatch counts the iteration as failed.
    */
  def verify(spark: SparkSession): Unit = {
    attempted += 1
    val problems = check(spark)
    if (problems.nonEmpty) { failed += 1; failures ++= problems }
  }

  def check(spark: SparkSession, want: CohortExpectation = expected): Seq[String] = {
    val counts = stageRowCounts(spark)
    val rowProblems = want.stageRows.toSeq.sortBy(_._1).collect {
      case (st, rows) if counts(st) != rows => s"stage $st: $rows rows expected, ${counts(st)} found"
    }
    val got = spark.read.parquet(new File(outRoot, Tables("variants")).getPath)
      .filter(col("pos").isin(probes: _*))
      .select(col("pos"), size(col("samples")), col("freq"), size(col("effects")))
      .collect()
      .map(r => r.getInt(0) -> SiteExpectation(r.getInt(1), r.getFloat(2), r.getInt(3)))
      .toMap
    val siteProblems = probes.collect {
      case p if !got.get(p).contains(want.perSite(p)) =>
        s"site $p: ${want.perSite(p)} expected, ${got.get(p)} found"
    }
    rowProblems ++ siteProblems
  }

  /** Rows of each stage's output, read from the parquet footers; the
    * documents are counted as lines.
    */
  def stageRowCounts(spark: SparkSession): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Stages.map { st =>
      val files = dataFiles(new File(outRoot, Tables(st)))
      st -> (if (st == "publish") files.map(lineCount).sum
             else files.map(f => parquetRows(f, conf)).sum)
    }.toMap
  }

  /** `parseLine` over every line of the cohort on one driver thread. */
  def parserLinesPerSecond(budgetS: Double): Double = {
    val lines = cohort.samples.map(s => s.id -> cohort.lines(s).toArray)
    val n = lines.map(_._2.length).sum
    val rates = ArrayBuffer.empty[Double]
    val until = System.nanoTime() + (budgetS * 1e9).toLong
    var sink = 0L
    while (rates.size < 3 || (System.nanoTime() < until && rates.size < 15)) {
      val t0 = System.nanoTime()
      lines.foreach { case (id, ls) => ls.foreach(l => sink += VcfParser.parseLine(l, id, 1).size) }
      rates += n / ((System.nanoTime() - t0) / 1e9)
    }
    require(sink > 0, "the parser produced no rows")
    Stats.median(rates.toSeq)
  }

  /** The interval join the group stage runs, on the parsed table, timed
    * with every output row materialized. Returns (median s, rows).
    */
  def intervalJoin(spark: SparkSession, reps: Int): (Double, Long) = {
    val parsed = spark.read.parquet(new File(outRoot, Tables("parse")).getPath)
    def joined = VcfPipeline.intersect(
      parsed.filter(col("alt") =!= "<NON_REF>").select("chrom", "pos", "ref", "alt", "indel").distinct(),
      VcfPipeline.coverageRanges(parsed), binWidth)
    val times = (1 to reps).map { _ =>
      quiesce()
      val t0 = System.nanoTime()
      joined.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (Stats.median(times), joined.count())
  }

  def clean(): Unit = deleteTree(outRoot)
}

object CohortBench {
  val Stages: Seq[String] = Seq("parse", "group", "effects", "variants", "publish")

  /** The table each stage writes under the pipeline root. */
  val Tables: Map[String, String] = Map(
    "parse" -> "parsedSamples", "group" -> "samples", "effects" -> "effects",
    "variants" -> "variants", "publish" -> "documents")

  /** Called sites whose documents every iteration checks in full. */
  val ProbeSites = 24

  /** Collect garbage before a timed interval, so that one iteration's
    * garbage is not collected inside the next one's timing.
    */
  def quiesce(): Unit = { Heap.collect(); () }

  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(dataFiles)
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) Nil
    else Seq(dir)

  def dirBytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  private def lineCount(f: File): Long = {
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      var k = in.read(buf)
      while (k > 0) {
        var i = 0
        while (i < k) { if (buf(i) == '\n') n += 1; i += 1 }
        k = in.read(buf)
      }
      n
    } finally in.close()
  }

  private def parquetRows(f: File, conf: org.apache.hadoop.conf.Configuration): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), conf))
    try r.getRecordCount finally r.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
