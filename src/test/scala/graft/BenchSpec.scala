package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench --only` selection over the registered query names; no Spark. */
class BenchSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys

  test("--only keeps listed prefixes and families, fails loudly on a typo") {
    assert(Bench.select(names, None).toSet == names.toSet)
    assert(Bench.select(names, Some(Set("d2"))) == Seq("d2_ngram_jaccard"))
    val dFamily = names.filter(_.takeWhile(!_.isDigit) == "d").toSet
    assert(dFamily.size > 20)
    assert(Bench.select(names, Some(Set("d"))).toSet == dFamily)
    val q3 = Bench.select(names, Some(Set("q3")))
    assert(q3 == Seq("q3_top_orders"), q3)
    assert(names.exists(_.startsWith("q3b_")))
    val typo = intercept[IllegalArgumentException] {
      Bench.select(names, Some(Set("d2", "zz9", "q99")))
    }
    assert(typo.getMessage.endsWith("no query matches q99, zz9"),
      typo.getMessage)
    intercept[IllegalArgumentException](Bench.select(names, Some(Set.empty)))
  }
}
