package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The span-guard contract: every data-derived `explode(sequence(...))`
  * raises a NAMED error on a corrupt over-cap span instead of building
  * a ~10⁸-element array and dying as an executor OOM — and is
  * byte-identical to the unguarded form on sane spans.
  */
class GuardsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertRaises(needle: String)(body: => Unit): Unit = {
    val e = intercept[Exception] { body }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ::: msgs(t.getCause)
    assert(msgs(e).exists(_.contains(needle)),
      s"expected an error mentioning '$needle', got: ${msgs(e)}")
  }

  test("boundedSequence: identical to plain sequence on sane spans") {
    val df = Seq((1L, 5L), (-3L, -1L), (7L, 7L)).toDF("lo", "hi")
    val got = df.select(Guards.boundedSequence(
        col("lo"), col("hi"), 100L, "t").as("s"))
      .as[Seq[Long]].collect().toSeq
    val want = df.select(sequence(col("lo"), col("hi")).as("s"))
      .as[Seq[Long]].collect().toSeq
    assert(got == want)
  }

  test("boundedSequence: over-cap span raises with the site name") {
    val df = Seq((0L, 10L)).toDF("lo", "hi")
    assertRaises("mySite: densified span of 11") {
      df.select(Guards.boundedSequence(
        col("lo"), col("hi"), 10L, "mySite").as("s")).collect()
    }
  }

  test("w22 densify: a unit-mixup bucket span raises, not OOMs") {
    // two buckets 2^21 apart for one type — the densify would build a
    // >2M-element array per the corrupt span; the guard names the site
    val counts = Seq(("click", 0L, 3L), ("click", 1L << 21, 2L))
      .toDF("event_type", "bucket", "x")
    assertRaises("autocorrelationFromCounts densify") {
      EventAnalytics.autocorrelationFromCounts(counts, maxLag = 2)
        .collect()
    }
  }

  test("genomeWindows: over-cap tiling raises (corrupt chrom_end)") {
    // windowBp=1 over a 5 Mb stop → 5M windows > MaxWindowsPerChrom
    val iv = Seq(("c1", 0L, 5000000L)).toDF("chrom", "start", "stop")
    assertRaises("genomeWindows tiling") {
      IntervalDepth.genomeWindows(iv, "chrom", "start", "stop", 1L)
        .collect()
    }
  }

  test("genomeWindows: over-cap per-interval binning raises") {
    // 2M windows is under the 2^22 tiling cap but the mega-interval's
    // own bin fan-out (2M bins on one row) exceeds MaxBinsPerRow
    val iv = Seq(("c1", 0L, 2000000L)).toDF("chrom", "start", "stop")
    assertRaises("genomeWindows binning") {
      IntervalDepth.genomeWindows(iv, "chrom", "start", "stop", 1L)
        .collect()
    }
  }

  test("genomeWindows: negative start raises (div-truncation mis-bin)") {
    val iv = Seq(("c1", -5L, 10L)).toDF("chrom", "start", "stop")
    assertRaises("genomeWindows: negative start") {
      IntervalDepth.genomeWindows(iv, "chrom", "start", "stop", 100L)
        .collect()
    }
  }

  test("pointInRange: a corrupt mega-range raises instead of exploding") {
    val points = Seq((5L, 1L)).toDF("p", "pid")
    val ranges = Seq((0L, 1L << 31, 1L)).toDF("lo", "hi", "rid")
    assertRaises("pointInRange range bins") {
      IntervalJoin.pointInRange(
        points, ranges, "p", "lo", "hi", binWidth = 1024L).collect()
    }
  }

  test("guarded interval ops unchanged on sane data (sanity pin)") {
    // a tiny hand case through genomeWindows, post-guard
    val iv = Seq(("c1", 0L, 9L), ("c1", 5L, 14L))
      .toDF("chrom", "start", "stop")
    val got = IntervalDepth.genomeWindows(iv, "chrom", "start", "stop", 10L)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // windows [0,9] and [10,14]: w0 sees both intervals, all 10 bases
    // covered; w1 sees one interval, 5 bases covered
    assert(got == Set(("c1", 0L, 9L, 2L, 10L), ("c1", 10L, 14L, 1L, 5L)))
  }

  test("driverRows: the rows at cap, None over cap or with the switch off") {
    val df = Seq(1L, 2L, 3L).toDF("x")
    assert(Guards.driverRows(df, 3).map(_.map(_.getLong(0)).toSeq.sorted)
      .contains(Seq(1L, 2L, 3L)))
    assert(Guards.driverRows(df, 2).isEmpty)
    assert(TestSpark.distributed(Guards.driverRows(df, 3)).isEmpty)
    assert(spark.conf.getOption(Guards.DriverPathsKey).isEmpty)
    assert(Guards.driverPaths(spark))
  }
}
