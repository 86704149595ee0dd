package genbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class GenbenchSpec extends AnyFunSuite {

  // inside the build's target directory, like everything else the tests write
  private def tmp(prefix: String): File =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target", "test-work")), prefix).toFile

  private def bytes(paths: Seq[String]): Seq[Seq[Byte]] =
    paths.map(p => Files.readAllBytes(new File(p).toPath).toSeq)

  test("the same seed writes byte-identical gVCFs; another seed writes different ones") {
    for (spec <- Seq(CohortSpec.Wide, CohortSpec.Annotated)) {
      val small = spec.copy(samples = math.min(spec.samples, 6), sites = 300)
      val a = bytes(Cohort.generate(small, 5).write(tmp("a")))
      val b = bytes(Cohort.generate(small, 5).write(tmp("b")))
      val c = bytes(Cohort.generate(small, 6).write(tmp("c")))
      assert(a == b)
      assert(a != c)
    }
  }

  test("on tiny cohorts the model's expected counts equal what the pipeline writes") {
    val work = tmp("genbench")
    val spark = BenchSession.build(work)
    try {
      for ((spec, i) <- Seq(CohortSpec.Wide, CohortSpec.Annotated).zipWithIndex) {
        val tiny = spec.copy(samples = math.min(spec.samples, 5), sites = 120)
        val bench = new CohortBench(tiny, 3, new File(work, s"w$i"))
        bench.iterate(spark)
        assert(bench.failures.isEmpty, bench.failures.mkString("\n"))
        assert(bench.attempted == 1 && bench.failed == 0)
        assert(bench.stageRowCounts(spark) == bench.expected.stageRows)
        assert(bench.intervalJoin(spark, 1)._2 == bench.expected.joinRows)

        // a corrupted expected count or site document is reported as a failure
        val e = bench.expected
        val wrongRows = e.copy(parsedRows = e.parsedRows + 1)
        assert(bench.check(spark, wrongRows).exists(_.startsWith("stage parse")))
        val (pos, site) = e.perSite.head
        val wrongSite = e.copy(perSite = e.perSite.updated(pos, site.copy(samples = site.samples + 1)))
        assert(bench.check(spark, wrongSite).nonEmpty == bench.probes.contains(pos))
        val wrongProbe = e.copy(perSite = e.perSite.map { case (p, s) => p -> s.copy(freq = s.freq + 0.5f) })
        assert(bench.check(spark, wrongProbe).count(_.startsWith("site")) == bench.probes.size)
      }
    } finally spark.stop()
  }
}
