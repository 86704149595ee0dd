package graft.vcf

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PipelineRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("config-driven stage dispatch runs the full DAG through parquet IR") {
    val root = Files.createTempDirectory("pipeline").toFile
    val g1 = new java.io.File(root, "S1.chr1.vcf")
    Files.write(g1.toPath,
      ("#h\n" +
        Seq("1", "150", "rs1", "G", "A,<NON_REF>", ".", ".", "DP=20",
          "GT:AD:DP:GQ:PL", "0/1:12,8:20:45:99,0,88").mkString("\t") + "\n" +
        Seq("1", "100", ".", "A", "<NON_REF>", ".", ".", "END=300",
          "GT:DP:GQ:MIN_DP:PL", "0/0:30:60:22:0,60,900").mkString("\t") + "\n").getBytes)

    val cfg = PipelineRunner.Config(
      root = new java.io.File(root, "tables").getPath,
      gvcfPaths = Seq(g1.getPath))
    PipelineRunner.run(spark, cfg)

    // every stage table materialized; restartable from any point
    assert(spark.read.parquet(s"${cfg.root}/parsedSamples").count() == 2)
    assert(spark.read.parquet(s"${cfg.root}/samples").count() == 1)
    assert(spark.read.parquet(s"${cfg.root}/variants").count() == 1)
    val doc = spark.read.json(s"${cfg.root}/documents").collect().head
    assert(doc.getAs[Long]("pos") == 150)

    // re-running only a downstream stage reuses the parquet IR
    PipelineRunner.run(spark, cfg.copy(stages = Seq("variants", "publish")))
    assert(spark.read.json(s"${cfg.root}/documents").count() == 1)

    assert(DocumentSink.indexMapping().contains("\"number_of_shards\": 8"))
  }

  test("main is spark-submittable: flags + sample sheet drive the DAG end-to-end") {
    val root = Files.createTempDirectory("pipeline-cli").toFile
    val g1 = new java.io.File(root, "S9.chr1.vcf")
    Files.write(g1.toPath,
      ("#h\n" +
        Seq("1", "77", "rs9", "C", "T,<NON_REF>", ".", ".", "DP=22",
          "GT:AD:DP:GQ:PL", "0/1:10,12:22:50:99,0,80").mkString("\t") + "\n").getBytes)
    val sheet = new java.io.File(root, "samples.txt")
    Files.write(sheet.toPath, s"# cohort sheet\n${g1.getPath}\n\n".getBytes)

    val tables = new java.io.File(root, "tables").getPath
    // TestSpark's session is picked up by main's getOrCreate
    val _ = spark
    PipelineRunner.main(Array(
      "--root", tables, "--sheet", sheet.getPath,
      "--chrom", "1", "--bin-width", "1000",
      "--stages", "parse,group,effects,variants,publish"))
    assert(spark.read.parquet(s"$tables/variants").count() == 1)
    assert(spark.read.json(s"$tables/documents").collect().head.getAs[Long]("pos") == 77)

    // flag parsing errors are loud
    intercept[IllegalArgumentException] {
      PipelineRunner.parseArgs(Array("--root", tables, "--bogus", "x"))
    }
    // repeated flags would silently drop a cohort file -> loud error
    intercept[IllegalArgumentException] {
      PipelineRunner.parseArgs(Array(
        "--root", tables, "--gvcf", "a.vcf", "--gvcf", "b.vcf"))
    }
    // --chrom takes the reference's chromosome names
    assert(PipelineRunner.parseArgs(Array("--root", tables, "--chrom", "X")).chrom == 24)
    assert(PipelineRunner.parseArgs(Array("--root", tables, "--chrom", "chr7")).chrom == 7)
    // a misspelled stage fails by name instead of being skipped
    val bad = intercept[IllegalArgumentException] {
      PipelineRunner.main(Array("--root", tables, "--stages", "parse,grup"))
    }
    assert(bad.getMessage.contains("grup"), bad.getMessage)
  }
}
