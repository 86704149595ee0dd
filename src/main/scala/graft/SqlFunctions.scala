package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

import graft.vcf.{VcfFunctions, VcfPipeline}

/** SQL-surface registration (§3.2 parity: the reference drives several
  * stages through HiveQL strings — our engine exposes the same operations
  * to `spark.sql` callers). Pure functions register as UDFs; the native
  * functions of [[GraftExtensions]] and the cohort frequency register as
  * their native / Column expressions.
  */
object SqlFunctions {

  def register(spark: SparkSession): Unit = {
    spark.udf.register("gq_band", (gq: Int) => VcfFunctions.gqBand(gq))
    spark.udf.register("truncate_at",
      (x: Double, p: Int) => VcfFunctions.truncateAt(x, p))
    spark.udf.register("umd_label", (s: String) => VcfFunctions.umdLabel(s))
    spark.udf.register("chrom_to_int", (s: String) => VcfFunctions.chromToInt(s))
    spark.udf.register("ad_alt_fraction",
      (ad: String, gt: String) => VcfFunctions.adAltFraction(ad, gt))
    // U1: cohort allele frequency over collected per-sample maps — the
    // pipeline's own Column expression, so SQL and DataFrame callers agree
    ColumnBridge.registerExpression(spark, "cohort_freq", exprs => {
      require(exprs.length == 1, "cohort_freq(samples)")
      ColumnBridge.expression(spark,
        VcfPipeline.freqColumn(ColumnBridge.column(exprs(0))))
    })
    // U2: merge population maps, recoding empty values to "0"
    spark.udf.register("pop_normalize",
      (maps: Seq[Map[String, String]]) => VcfFunctions.popNormalize(maps))
    // native expressions — stay inside whole-stage codegen from SQL too;
    // the GraftExtensions list, so the embedded and cluster deployment
    // modes resolve the identical SQL names
    GraftExtensions.nativeFunctions.foreach { case (name, _, builder) =>
      ColumnBridge.registerExpression(spark, name, builder)
    }
  }
}
