package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.FloatDotProduct
import graft.vcf.{VcfFunctions, VcfPipeline}

/** SQL-surface registration (§3.2 parity: the reference drives several
  * stages through HiveQL strings — our engine exposes the same operations
  * to `spark.sql` callers). Pure functions register as UDFs; the vector
  * dot product and the cohort frequency register as their native / Column
  * expressions.
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
    // same surface as GraftExtensions so the embedded and cluster
    // deployment modes resolve the identical SQL names
    ColumnBridge.registerExpression(spark, "fvec_dot",
      exprs => FloatDotProduct(exprs(0), exprs(1)))
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = {
      require(e.foldable, s"$what must be a literal")
      e.eval(null) match {
        case i: Int  => i
        case l: Long => require(l.isValidInt, s"$what out of range: $l"); l.toInt
        case other   => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
      }
    }
    def boolLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Boolean = {
      require(e.foldable, s"$what must be a literal")
      e.eval(null) match {
        case b: Boolean => b
        case other => throw new IllegalArgumentException(
          s"$what must be a boolean literal, got $other")
      }
    }
    ColumnBridge.registerExpression(spark, "simhash64", exprs =>
      graft.functions.SimHash64Expr(exprs(0),
        if (exprs.length >= 2) boolLit(exprs(1), "portable") else false))
    ColumnBridge.registerExpression(spark, "shingle_keys", exprs => {
      require(exprs.length == 2 || exprs.length == 3,
        "shingle_keys(tokensArray, n[, portable])")
      val n = intLit(exprs(1), "n")
      require(n >= 1, "n must be >= 1")
      graft.functions.ShingleKeysExpr(exprs(0), n,
        if (exprs.length == 3) boolLit(exprs(2), "portable") else false)
    })
    ColumnBridge.registerExpression(spark, "gram_repetition", exprs => {
      require(exprs.length == 1, "gram_repetition(tokensArray)")
      graft.functions.GramRepetitionExpr(exprs(0))
    })
  }
}
