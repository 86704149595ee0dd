package graft.vcf

import org.scalatest.funsuite.AnyFunSuite

class VcfParserSpec extends AnyFunSuite {

  private val annInfo =
    "DP=30;CADD13_PHRED=22.7;CLNSIG=5|4;CLNACC=RCV000001;" +
      "dbNSFP_SIFT_score=0.021,0.44;dbNSFP_SIFT_pred=D,T;" +
      "dbNSFP_Polyphen2_HVAR_score=0.98,0.12;dbNSFP_Polyphen2_HVAR_pred=D|B;" +
      "dbNSFP_MutationTaster_pred=A;dbNSFP_1000Gp1_AF=0.012345;ExAC_AF=0.34567;" +
      "ANN=A|missense_variant|MODERATE|BRCA2|ENSG1|transcript|ENST1|protein_coding|3/10|c.1A>G|p.K1E|1|1|1|x"

  test("snv line with annotations parses to one variant") {
    val line = Seq("13", "32900001", "rs81002", "G", "A,<NON_REF>", "321.7", ".",
      annInfo, "GT:AD:DP:GQ:PL", "0/1:12,8:20:45:99,0,88").mkString("\t")
    val out = VcfParser.parseLine(line, "S1", 13)
    assert(out.length == 1)
    val v = out.head
    assert(v.pos == 32900001 && v.ref == "G" && v.alt == "A" && !v.indel)
    assert(v.end_pos == 32900001)
    assert(v.sample.gt == "0/1" && v.sample.dp == 20 && v.sample.gq == 45)
    assert(v.sample.sampleId == "S1" && v.sample.diploid)
    assert(v.effects.map(_.gene_name) == Seq("BRCA2"))
    assert(v.predictions.sift_pred == "D")
    assert(v.predictions.sift_score == 0.021)
    assert(v.predictions.polyphen2_hvar_pred == "D")
    assert(v.predictions.polyphen2_hvar_score == 0.98)
    assert(v.predictions.clinvar == "9")
    assert(v.predictions.cadd_phred == 22.7)
    assert(v.predictions.rs == "rs81002")
    assert(v.populations.gp1_af == 0.01234) // truncated at 5
    assert(v.populations.exac == 0.34567)
  }

  test("multiallelic 1/2 double-emits without annotations") {
    val line = Seq("1", "1000", ".", "C", "A,T,<NON_REF>", ".", ".",
      "DP=18;" + annInfo, "GT:AD:DP:GQ:PL", "1/2:2,8,8:18:60:99,0,88").mkString("\t")
    val out = VcfParser.parseLine(line, "S1", 1)
    assert(out.map(_.alt) == Seq("A", "T"))
    assert(out.forall(_.sample.gt == "0/1"))
    assert(out.forall(_.sample.multiallelic))
    // annotations only attach to genotype-number-1, non-multiallelic rows
    assert(out.forall(_.effects.isEmpty))
    assert(out.forall(_.predictions == VcfParser.emptyPredictions))
  }

  test("<NON_REF> coverage block keeps END and 0/0") {
    val line = Seq("1", "5000", ".", "T", "<NON_REF>", ".", ".",
      "END=5200", "GT:DP:GQ:MIN_DP:PL", "0/0:30:60:22:0,60,900").mkString("\t")
    val out = VcfParser.parseLine(line, "S2", 1)
    assert(out.length == 1)
    val v = out.head
    assert(v.alt == "<NON_REF>" && v.pos == 5000 && v.end_pos == 5200)
    assert(v.sample.gt == "0/0" && v.sample.dp == 22) // MIN_DP quirk
  }

  test("legacy EFF annotations attach when ANN is absent") {
    val line = Seq("5", "42", ".", "A", "G,<NON_REF>", ".", ".",
      "DP=22;EFF=missense_variant(MODERATE|MISSENSE|aCa/aGa|T2R|90|GENE9|protein_coding|CODING|TR9|2)",
      "GT:AD:DP:GQ:PL", "0/1:10,12:22:66:99,0,44").mkString("\t")
    val out = VcfParser.parseLine(line, "S5", 5)
    assert(out.length == 1)
    assert(out.head.effects.map(_.transcript_id) == Seq("TR9"))
    assert(out.head.effects.head.gene_name == "GENE9")
    // both present: ANN wins and EFF is ignored
    val both = line.replace("DP=22;",
      "DP=22;ANN=G|stop_gained|HIGH|GENE7|ENSG7|transcript|TR7|protein_coding|1/2|c.1A>G|p.K1*|1|1|1|x;")
    val fromAnn = VcfParser.parseLine(both, "S5", 5)
    assert(fromAnn.length == 1)
    assert(fromAnn.head.effects.map(_.transcript_id) == Seq("TR7"))
    assert(fromAnn.head.effects.head.gene_name == "GENE7")
  }

  test("header and malformed lines yield nothing") {
    assert(VcfParser.parseLine("#CHROM\tPOS", "S", 1).isEmpty)
    assert(VcfParser.parseLine("1\t2\t3", "S", 1).isEmpty)
    assert(VcfParser.parseLine("", "S", 1).isEmpty)
  }

  test("indel flag from ref/alt lengths") {
    val line = Seq("2", "77", ".", "GA", "G,<NON_REF>", ".", ".", "DP=9",
      "GT:DP:GQ", "1/1:9:30").mkString("\t")
    val out = VcfParser.parseLine(line, "S", 2)
    assert(out.head.indel)
  }
}
