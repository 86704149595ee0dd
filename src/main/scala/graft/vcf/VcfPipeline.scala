package graft.vcf

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IntervalJoin

/** The reference's batch DAG (SURVEY.md §3.1) rebuilt Spark-first, one
  * function per step:
  *
  * {{{
  * step                                                       function
  * gvcf text ── typed line parser ──▶ variants                parseText (ingest, GvcfStream.parse)
  * variants ── quality gates ──▶ parsedSamples                qualityGate
  * parsedSamples ── <NON_REF> rows ──▶ coverage ranges        coverageRanges
  * variant sites × ranges ── IntervalJoin bin rewrite         intersect
  *   ──▶ synthesized ref-calls                                synthesizedRefCalls
  * calls ∪ synthesized ── groupBy site ──
  *   collect_list(map(...)) ──▶ samples                       sampleGroups
  * calls ── explode effects ── groupBy site ──
  *   collect + first ──▶ effects                              effectGroups
  * effects ⟕ samples ── freq ──▶ variants (nested docs)       assemble (freqColumn)
  * }}}
  *
  * Every stage is a DataFrame/Dataset plan (Catalyst-optimizable,
  * whole-stage codegen); the only typed lambda is the gVCF line parser
  * itself. The batch runner ([[PipelineRunner]]) and the streaming ingest
  * (`graft.streaming.GvcfStream`) call these same functions; SQL callers
  * reach the stages through `spark.sql` over a temp view of their output,
  * which compiles to the same Catalyst plan. Stages write/read partitioned
  * parquet by (chrom, band) when materialized — `partitionBy` replaces the
  * reference's hand-built `chrom=C/band=B` paths
  * (`steps/Parser.scala:199`).
  */
object VcfPipeline {

  val GqMin = 19 // quality gates per reference (`steps/toRange.scala:33-34`)
  val DpMin = 7

  /** S1/S2: read gVCF text (gzip handled by codec) and parse it with
    * [[parseText]] on one fixed chromosome.
    */
  def ingest(spark: SparkSession, paths: Seq[String], chrom: Int): Dataset[Variant] =
    parseText(spark.read.text(paths: _*), _ => chrom)

  /** Text lines (`value`, batch or streaming) → typed variants. The sample
    * id is the source file name up to its first `.`, via
    * `input_file_name()` (replacing the reference's filename /
    * `toDebugString` hacks); `chromOf` maps that file name to the
    * chromosome code. Header and malformed lines drop out in the parser.
    */
  def parseText(text: DataFrame, chromOf: String => Int): Dataset[Variant] = {
    val spark = text.sparkSession
    import spark.implicits._
    text.select(col("value"), input_file_name().as("file"))
      .as[(String, String)]
      .flatMap { case (line, file) =>
        val name = file.split("/").last
        VcfParser.parseLine(line, name.split("\\.").head, chromOf(name))
      }
  }

  /** Quality gates (P3) applied to every row — variant calls and
    * `<NON_REF>` coverage blocks alike: gq > 19 && dp > 7, and
    * multi-allelic split rows dropped, exactly as the reference gates
    * parsedSamples on write (`steps/Parser.scala:199`:
    * `multiallelic === false && dp > 7 && gq > 19`). Everything
    * downstream (sampleGroups / effectGroups / freq) sees only
    * bi-allelic, quality-passing rows, so cohort frequencies match.
    */
  def qualityGate(parsed: Dataset[Variant]): Dataset[Variant] =
    parsed.filter(
      col("sample.multiallelic") === false &&
        col("sample.gq") > GqMin && col("sample.dp") > DpMin)

  /** Coverage ranges: the `<NON_REF>`-only rows carry [pos, end_pos]
    * intervals per sample (reference `steps/toRange.scala`).
    */
  def coverageRanges(parsed: DataFrame): DataFrame =
    parsed.filter(col("alt") === "<NON_REF>" && col("end_pos") =!= 0)
      .select(
        col("chrom").as("r_chrom"), col("pos").as("r_start"),
        col("end_pos").as("r_end"), col("sample.sampleId").as("r_sample"),
        col("sample.dp").as("r_dp"), col("sample.gq").as("r_gq"))

  /** J2: distinct variant sites × coverage ranges — which samples have
    * reference coverage at each variant position. Bin-key rewrite, 1 Mbp
    * bins (SURVEY.md §7.3) instead of the reference's row-explosion /
    * hand-rolled merge join.
    */
  def intersect(sites: DataFrame, ranges: DataFrame, binWidth: Double = 1e6): DataFrame =
    IntervalJoin.pointInRange(
      sites, ranges,
      pointCol = "pos", loCol = "r_start", hiCol = "r_end",
      binWidth = binWidth,
      extraEquiKeys = Seq(("chrom", "r_chrom")),
      hiInclusive = true)

  /** Synthesized reference-call rows for covered samples at variant sites
    * (same 11-column shape the real calls collapse to). A sample that
    * already called the site never gets a synthesized 0/0 — in
    * well-formed gVCF, blocks and calls are disjoint per sample, but the
    * anti-join makes the stage robust to overlapping inputs.
    */
  def synthesizedRefCalls(parsed: DataFrame, binWidth: Double = 1e6): DataFrame = {
    val sites = parsed.filter(col("alt") =!= "<NON_REF>")
      .select("chrom", "pos", "ref", "alt", "indel").distinct()
    val own = parsed.filter(col("alt") =!= "<NON_REF>").select(
      col("chrom").as("o_chrom"), col("pos").as("o_pos"),
      col("sample.sampleId").as("o_sample"))
    val joined = intersect(sites, coverageRanges(parsed), binWidth)
      .join(own,
        col("chrom") === col("o_chrom") && col("pos") === col("o_pos") &&
          col("r_sample") === col("o_sample"),
        "left_anti")
    joined.select(
      col("chrom"), col("pos"), col("ref"), col("alt"), col("indel"),
      lit("0/0").as("gt"), col("r_dp").as("dp"), col("r_gq").as("gq"),
      lit("").as("pl"), lit("").as("ad"), lit(false).as("multiallelic"),
      col("r_sample").as("sampleId"), lit(true).as("diploid"))
  }

  private def callColumns(parsed: DataFrame): DataFrame =
    parsed.filter(col("alt") =!= "<NON_REF>").select(
      col("chrom"), col("pos"), col("ref"), col("alt"), col("indel"),
      col("sample.gt").as("gt"), col("sample.dp").as("dp"),
      col("sample.gq").as("gq"), col("sample.pl").as("pl"),
      col("sample.ad").as("ad"), col("sample.multiallelic").as("multiallelic"),
      col("sample.sampleId").as("sampleId"), col("sample.diploid").as("diploid"))

  /** A1: per-site genotype matrix → array of per-sample maps
    * (`collect_list(map(...))` replaces the brickhouse Hive UDAF).
    */
  def sampleGroups(parsed: DataFrame, binWidth: Double = 1e6): DataFrame = {
    val all = callColumns(parsed).unionByName(synthesizedRefCalls(parsed, binWidth))
    all.groupBy("chrom", "pos", "ref", "alt", "indel")
      .agg(collect_list(map(
        lit("sample"), col("sampleId"), lit("gt"), col("gt"),
        lit("dp"), col("dp").cast("string"), lit("gq"), col("gq").cast("string"),
        lit("ad"), col("ad"), lit("multi"), col("multiallelic").cast("string"),
        lit("diploid"), col("diploid").cast("string"))).as("samples"))
  }

  /** A2/A3: per-site effect array (exploded, deduped) + first-seen
    * predictions/populations.
    */
  def effectGroups(parsed: DataFrame): DataFrame =
    parsed.filter(col("alt") =!= "<NON_REF>")
      .select(
        col("chrom"), col("pos"), col("ref"), col("alt"),
        explode_outer(col("effects")).as("effect"),
        col("predictions"), col("populations"))
      .groupBy("chrom", "pos", "ref", "alt")
      .agg(
        array_distinct(collect_list(col("effect"))).as("effects"),
        first(col("predictions")).as("predictions"),
        first(col("populations")).as("populations"))

  /** U1: cohort allele frequency over the collected sample maps — sum of
    * alt-allele digits / (2 × samples), floor-truncated to float like the
    * reference's `freq` UDF (`steps/toVariant.scala:28-30`). Higher-order
    * functions, no UDF; SQL reaches the same expression as `cohort_freq`
    * (`graft.SqlFunctions`). A null or empty sample list has no frequency:
    * null.
    */
  def freqColumn(samples: Column): Column = {
    val altCount = aggregate(samples, lit(0),
      (acc, s) => acc +
        when(element_at(s, "gt") === "1/1", 2)
          .when(element_at(s, "gt") === "0/1", 1)
          .otherwise(0))
    when(size(samples) > 0,
      (floor(altCount.cast("double") / (size(samples) * 2) * 1e6) / 1e6).cast("float"))
  }

  /** J3 + U1: per-site effects ⟕ per-site samples, plus the cohort
    * frequency — the final nested per-variant document.
    */
  def assemble(effects: DataFrame, samples: DataFrame): DataFrame =
    effects.join(samples, Seq("chrom", "pos", "ref", "alt"), "left")
      .withColumn("freq", freqColumn(col("samples")))

  /** The whole grouping half of the DAG over parsed rows in one plan. */
  def variants(parsed: DataFrame, binWidth: Double = 1e6): DataFrame =
    assemble(effectGroups(parsed), sampleGroups(parsed, binWidth))

  /** Width of the genomic band that partitions stored variants. */
  val BandWidth = 30000000L

  /** The `band` partition value: the start position of the row's band. */
  def band(bandWidth: Long): Column =
    (col("pos") / bandWidth).cast("int") * bandWidth.toInt

  /** S4: partitioned parquet sink — genomic band as a first-class derived
    * column, `partitionBy` instead of hand-built paths (U5: the custom
    * `BinPartitioner` becomes `repartitionByRange` on the derived key, so
    * rows land clustered and each partition directory gets few files).
    */
  def writePartitioned(df: DataFrame, dest: String, bandWidth: Long = BandWidth): Unit =
    df.withColumn("band", band(bandWidth))
      .repartitionByRange(col("chrom"), col("band"), col("pos"))
      .write.mode("overwrite").partitionBy("chrom", "band").parquet(dest)
}
