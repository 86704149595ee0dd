package graft.vcf

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-driven stage dispatch (reference §3.1 `GenomicsLoader.main`:
  * HOCON `pipeline` step list, each stage read-parquet -> transform ->
  * write-parquet with the filesystem as the IR between stages).
  *
  * Differences from the reference, by design: no per-chromosome/band
  * driver loops (partition pruning + `partitionBy` cover it), no manual
  * path construction, stages declare their own inputs.
  */
object PipelineRunner {

  /** spark-submit entry point (reference `GenomicsLoader.main`,
    * `GenomicsLoader.scala:45-99`: flag-driven chrom/pipeline overrides +
    * a sample-sheet reader, `GenomicsLoader.scala:233-236`).
    *
    * {{{
    * spark-submit --class graft.vcf.PipelineRunner graft.jar \
    *   --root /data/tables --gvcf a.vcf.gz,b.vcf.gz \
    *   [--sheet samples.txt] [--chrom 1] [--bin-width 1e6] \
    *   [--stages parse,group,effects,variants,publish]
    * }}}
    *
    * The session comes from `getOrCreate` and is not stopped here: under
    * spark-submit the submitter owns the lifecycle (and shutdown hooks
    * close it); embedded callers keep their session.
    */
  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = graft.GraftSession.tune(
      SparkSession.builder().appName("graft-pipeline"),
      shufflePartitions = 32).getOrCreate()
    run(spark, cfg)
  }

  private[vcf] def parseArgs(args: Array[String]): Config = {
    require(args.length % 2 == 0, s"flags come in --key value pairs: ${args.mkString(" ")}")
    val kvs = args.grouped(2).collect { case Array(k, v) => k -> v }.toSeq
    val dups = kvs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"repeated flags would be silently dropped: ${dups.mkString(", ")}")
    val m = kvs.toMap
    val unknown = m.keySet -- Set("--root", "--gvcf", "--sheet", "--chrom",
      "--bin-width", "--stages")
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(", ")}")
    val fromSheet = m.get("--sheet").map(readSheet).getOrElse(Nil)
    val base = Config(
      root = m.getOrElse("--root", sys.error("--root <dir> is required")),
      gvcfPaths =
        m.get("--gvcf").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
          ++ fromSheet)
    base.copy(
      chrom = m.get("--chrom").map(_.toInt).getOrElse(base.chrom),
      binWidth = m.get("--bin-width").map(_.toDouble).getOrElse(base.binWidth),
      stages = m.get("--stages")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(base.stages))
  }

  /** Sample sheet: one gVCF path per line; blanks and `#` comments skipped
    * (reference sample-sheet semantics).
    */
  private[vcf] def readSheet(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  case class Config(
      root: String,
      gvcfPaths: Seq[String] = Nil,
      chrom: Int = 1,
      binWidth: Double = 1e6,
      stages: Seq[String] = Seq("parse", "group", "effects", "variants", "publish"))

  private def path(c: Config, table: String) = s"${c.root}/$table"

  /** Run the configured stages in order. Each stage is independently
    * restartable — state lives only in the stage tables.
    */
  def run(spark: SparkSession, c: Config): Unit = {
    if (c.stages.contains("parse")) {
      val parsed = VcfPipeline.qualityGate(
        VcfPipeline.ingest(spark, c.gvcfPaths, c.chrom))
      VcfPipeline.writePartitioned(parsed.toDF(), path(c, "parsedSamples"))
    }
    def parsed: DataFrame = spark.read.parquet(path(c, "parsedSamples"))

    if (c.stages.contains("group"))
      VcfPipeline.sampleGroups(parsed, c.binWidth)
        .write.mode("overwrite").parquet(path(c, "samples"))
    if (c.stages.contains("effects"))
      VcfPipeline.effectGroups(parsed)
        .write.mode("overwrite").parquet(path(c, "effects"))
    if (c.stages.contains("variants"))
      VcfPipeline.assemble(
          spark.read.parquet(path(c, "effects")), spark.read.parquet(path(c, "samples")))
        .write.mode("overwrite").parquet(path(c, "variants"))
    if (c.stages.contains("publish"))
      DocumentSink.writeJson(
        spark.read.parquet(path(c, "variants")), path(c, "documents"))
  }
}
