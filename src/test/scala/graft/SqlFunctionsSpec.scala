package graft

import org.scalatest.funsuite.AnyFunSuite

class SqlFunctionsSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; SqlFunctions.register(s); s }

  test("registered scalar functions answer from SQL") {
    val r = spark.sql(
      """SELECT gq_band(47) AS b, truncate_at(0.9999, 3) AS t,
        |  umd_label('Pathogenic') AS u, umd_label('Probably pathogenic') AS u2,
        |  chrom_to_int('X') AS x,
        |  ad_alt_fraction('25,2', '0/1') AS f,
        |  ad_alt_fraction('25,0,2', '0/2') AS f2""".stripMargin).collect().head
    assert(r.getAs[Int]("b") == 45)
    assert(r.getAs[Double]("t") == 0.999)
    assert(r.getAs[String]("u") == "D")
    assert(r.getAs[String]("u2") == "P")
    assert(r.getAs[Int]("x") == 24)
    assert(r.getAs[Double]("f") == 0.074)
    // GT 0/2 reads the second alt's depth: 2 / 27
    assert(r.getAs[Double]("f2") == 0.074)
  }

  test("cohort_freq over collected sample maps") {
    val r = spark.sql(
      """SELECT cohort_freq(array(map('gt','0/1'), map('gt','0/0'))) AS f"""
    ).collect().head
    assert(r.getAs[Float]("f") == 0.25f)
  }

  test("cohort_freq and freqColumn: null for null and empty sample lists") {
    import org.apache.spark.sql.functions.col
    val lists = spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(map('gt','1/1'), map('gt','0/1'))),
        |  (2, CAST(array() AS ARRAY<MAP<STRING, STRING>>)),
        |  (3, CAST(NULL AS ARRAY<MAP<STRING, STRING>>)) AS t(id, samples)""".stripMargin)
    def byId(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Float])).toMap
    val expected = Map(1 -> Some(0.75f), 2 -> None, 3 -> None)
    assert(byId(lists.select(col("id"),
      graft.vcf.VcfPipeline.freqColumn(col("samples")))) == expected)
    lists.createOrReplaceTempView("cohort_freq_lists")
    assert(byId(spark.sql(
      "SELECT id, cohort_freq(samples) FROM cohort_freq_lists")) == expected)
  }

  test("fvec_dot native expression callable from SQL") {
    val r = spark.sql(
      """SELECT fvec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(3.0 as float), cast(0.5 as float))) AS d""".stripMargin
    ).collect().head
    assert(r.getAs[Double]("d") == 4.0)
    // the extension's arity checks hold for per-session registration too
    val one = intercept[Exception] {
      spark.sql("SELECT fvec_dot(array(cast(1.0 as float)))").collect()
    }
    assert(one.getMessage.contains("fvec_dot(arrayFloat, arrayFloat)"),
      one.getMessage)
    val three = intercept[Exception] {
      spark.sql("SELECT simhash64(split('a b', ' '), true, true)").collect()
    }
    assert(three.getMessage.contains("simhash64(tokensArray[, portable])"),
      three.getMessage)
  }
}
