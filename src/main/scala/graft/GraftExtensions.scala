package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{FloatDotProduct, GramRepetitionExpr, ShingleKeysExpr, SignBandKeys, SimHash64Expr}
import graft.operators.Similarity

/** Session extension installing the engine's native expressions into the
  * function registry at session build time — the deployment path for
  * clusters the engine doesn't own:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * SELECT fvec_dot(a, b), sign_band_keys(v, 32, 8, 64, 42) FROM t
  * SELECT simhash64(split(text, ' ')), shingle_keys(split(text, ' '), 3),
  *        gram_repetition(split(text, ' ')) FROM docs
  * }}}
  *
  * (Per-session registration for embedded callers stays available via
  * `SqlFunctions.register`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.nativeFunctions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null) match {
      case i: Int  => i
      case l: Long => require(l.isValidInt, s"$what out of range: $l"); l.toInt
      case other   => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private def boolLit(e: Expression, what: String): Boolean = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$what must be a boolean literal, got $other")
    }
  }

  /** (SQL name, expression class, builder) of every native function —
    * injected by the extension and registered per session by
    * `SqlFunctions.register`, so both deployment modes resolve the same
    * names with the same argument checks.
    */
  val nativeFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("fvec_dot", classOf[FloatDotProduct], exprs => {
      require(exprs.length == 2, "fvec_dot(arrayFloat, arrayFloat)")
      FloatDotProduct(exprs(0), exprs(1))
    }),
    ("sign_band_keys", classOf[SignBandKeys], exprs => {
      require(exprs.length == 5,
        "sign_band_keys(vec, bands, planesPerBand, dim, seed)")
      val bands = intLit(exprs(1), "bands")
      val r = intLit(exprs(2), "planesPerBand")
      val dim = intLit(exprs(3), "dim")
      require(bands >= 1 && dim >= 1, "bands and dim must be >= 1")
      require(r >= 1 && r <= 64, "planesPerBand must be in [1, 64] (long key bits)")
      require(exprs(4).foldable, "seed must be a literal")
      val seed = exprs(4).eval(null) match {
        case i: Int  => i.toLong
        case l: Long => l
        case other   => throw new IllegalArgumentException(
          s"seed must be an integer literal, got $other")
      }
      SignBandKeys(exprs(0), Similarity.flatPlanes(bands, r, dim, seed),
        bands, r, dim)
    }),
    // The per-document sketch kernels (r7): SQL users get the same
    // zero-shuffle shingle/SimHash/repetition sketches the Scala
    // operators compute — e.g. the whole d1/d4-style dedup signature
    // pass is a SELECT.
    ("shingle_keys", classOf[ShingleKeysExpr], exprs => {
      require(exprs.length == 2 || exprs.length == 3,
        "shingle_keys(tokensArray, n[, portable])")
      val n = intLit(exprs(1), "n")
      require(n >= 1, "n must be >= 1")
      ShingleKeysExpr(exprs(0), n,
        if (exprs.length == 3) boolLit(exprs(2), "portable") else false)
    }),
    ("simhash64", classOf[SimHash64Expr], exprs => {
      require(exprs.length == 1 || exprs.length == 2,
        "simhash64(tokensArray[, portable])")
      SimHash64Expr(exprs(0),
        if (exprs.length == 2) boolLit(exprs(1), "portable") else false)
    }),
    ("gram_repetition", classOf[GramRepetitionExpr], exprs => {
      require(exprs.length == 1, "gram_repetition(tokensArray)")
      GramRepetitionExpr(exprs(0))
    }),
    // Spark ships Bloom-filter build/probe expressions for its runtime
    // join filters but does not register them as SQL functions; surface
    // them so SQL callers can run the Bloom-prefilter decontamination
    // shape (Decontamination.bloomDecontaminate) end to end in SQL.
    ("bloom_filter_agg", classOf[BloomFilterAggregate], exprs => {
      require(exprs.length == 3,
        "bloom_filter_agg(hashLong, estimatedItems, numBits)")
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
    }),
    ("might_contain", classOf[BloomFilterMightContain], exprs => {
      require(exprs.length == 2, "might_contain(bloomFilterBinary, hashLong)")
      BloomFilterMightContain(exprs(0), exprs(1))
    }))
}
