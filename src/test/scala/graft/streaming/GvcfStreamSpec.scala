package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.TestSpark
import graft.vcf.{Variant, VcfPipeline}

class GvcfStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming ingest parses arriving gVCF files into partitioned parquet") {
    val root = Files.createTempDirectory("gvcfstream").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath

    Files.write(new java.io.File(in, "S9.chr2.vcf").toPath,
      ("#header\n" +
        Seq("2", "1234", ".", "A", "G,<NON_REF>", ".", ".", "DP=30",
          "GT:AD:DP:GQ:PL", "0/1:10,20:30:88:99,0,12").mkString("\t") + "\n" +
        Seq("2", "31000001", ".", "C", "<NON_REF>", ".", ".", "END=31000400",
          "GT:DP:GQ:MIN_DP:PL", "0/0:25:60:20:0,60,900").mkString("\t") + "\n").getBytes)

    val q = GvcfStream.run(spark, in.getPath, out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    val byPos = back.collect().map(r => r.getAs[Int]("pos") -> r).toMap
    assert(byPos(1234).getAs[Int]("chrom") == 2)
    assert(byPos(1234).getAs[Int]("band") == 0)
    // 31 Mbp -> the second band, named by its start as the batch writer does
    assert(byPos(31000001).getAs[Int]("band") == 30000000)
    val s = byPos(1234).getStruct(byPos(1234).fieldIndex("sample"))
    assert(s.getAs[String]("sampleId") == "S9")
    assert(s.getAs[String]("gt") == "0/1")
  }

  test("assertLayout refuses band directories that are not band starts") {
    val out = Files.createTempDirectory("gvcflayout").toFile
    val band = new java.io.File(out, "chrom=2/band=30000000/batch=0"); band.mkdirs()
    GvcfStream.assertLayout(spark, out.getPath) // band-start layout: accepted
    new java.io.File(out, "chrom=2/band=1/batch=0").mkdirs()
    val e = intercept[IllegalArgumentException](GvcfStream.assertLayout(spark, out.getPath))
    assert(e.getMessage.contains("band=1"))
    assert(e.getMessage.contains("not a multiple of 30000000"))
  }

  test("batch ingest and the stream parse one gVCF file to the same variants") {
    import spark.implicits._
    val in = Files.createTempDirectory("gvcfparity").toFile
    val file = new java.io.File(in, "S1.chr1.vcf")
    Files.write(file.toPath,
      ("##fileformat=VCFv4.2\n#CHROM\tPOS\n" + Seq(
        Seq("1", "100", "rs7", "A", "G,<NON_REF>", ".", ".",
          "DP=30;ANN=G|missense_variant|MODERATE|GENE1|ENSG1|transcript|TR1|protein_coding|1/2|c.1A>G|p.K1E|1|1|1|x",
          "GT:AD:DP:GQ:PL", "0/1:10,20:30:88:99,0,12"),
        Seq("1", "200", ".", "C", "A,T,<NON_REF>", ".", ".", "DP=18",
          "GT:AD:DP:GQ:PL", "1/2:2,8,8:18:60:99,0,88"),
        Seq("1", "300", ".", "T", "<NON_REF>", ".", ".", "END=900",
          "GT:DP:GQ:MIN_DP:PL", "0/0:25:60:20:0,60,900"),
        Seq("1", "1000", ".", "GA", "G,<NON_REF>", ".", ".", "DP=9",
          "GT:DP:GQ", "1:9:30")
      ).map(_.mkString("\t")).mkString("\n") + "\n").getBytes)

    val batch = VcfPipeline.ingest(spark, Seq(file.getPath), chrom = 1).collect().toSeq

    val sink = s"gvcf_parity_${System.nanoTime()}"
    val q = GvcfStream.parse(spark, in.getPath).writeStream
      .format("memory").queryName(sink)
      .option("checkpointLocation",
        Files.createTempDirectory("gvcfparity-ckpt").toFile.getPath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table(sink).as[Variant].collect().toSeq

    def multiset(vs: Seq[Variant]) = vs.groupBy(identity).view.mapValues(_.size).toMap
    assert(batch.size == 5) // 1 + 2 (1/2 split) + block + haploid indel
    assert(batch.map(_.sample.sampleId).toSet == Set("S1"))
    assert(multiset(streamed) == multiset(batch))
  }
}
