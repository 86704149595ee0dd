package graft.vcf

import org.scalatest.funsuite.AnyFunSuite

import VcfFunctions._

class VcfFunctionsSpec extends AnyFunSuite {

  test("truncateAt floors, never rounds") {
    assert(truncateAt(0.9999, 3) == 0.999)
    assert(truncateAt(0.1239, 3) == 0.123)
    assert(truncateAt(1.0, 3) == 1.0)
    assert(truncateAt(0.12345, 4) == 0.1234)
  }

  test("removeDot handles sentinel and truncates") {
    assert(removeDot(".", 3) == 0.0)
    assert(removeDot("", 3) == 0.0)
    assert(removeDot("0.5678", 3) == 0.567)
  }

  test("gqBand bucket edges") {
    assert(gqBand(0) == 0)
    assert(gqBand(19) == 0)
    assert(gqBand(20) == 20)
    assert(gqBand(24) == 20)
    assert(gqBand(25) == 25)
    assert(gqBand(69) == 50)
    assert(gqBand(70) == 70)
    assert(gqBand(99) == 99)
    assert(gqBand(150) == 99)
  }

  test("infoToMap parses k=v;k2=v2 with flag entries") {
    val m = infoToMap("DP=30;END=12345;DB;ANN=x|y")
    assert(m("DP") == "30")
    assert(m("END") == "12345")
    assert(m("DB") == "")
    assert(m("ANN") == "x|y")
  }

  test("formatFields zips FORMAT with sample values") {
    val (gt, dp, gq, pl, ad) = formatFields("GT:AD:DP:GQ:PL", "0/1:12,8:20:45:99,0,88")
    assert(gt == "0/1" && dp == 20 && gq == 45 && pl == "99,0,88" && ad == "12,8")
  }

  test("formatFields MIN_DP layout quirks: dp from MIN_DP, gq banded") {
    val (_, dp, gq, _, _) = formatFields("GT:DP:GQ:MIN_DP:PL", "0/0:25:60:18:0,60,900")
    assert(dp == 18)
    assert(gq == 50) // gqBands(60) — reference stores banded GQ on coverage rows
    val (_, dp2, gq2, _, _) = formatFields("GT:AD:DP:GQ:PL", "0/1:12,8:20:60:99,0,88")
    assert(dp2 == 20 && gq2 == 60) // call rows keep raw GQ
  }

  test("formatFields tolerates missing keys and dots") {
    val (gt, dp, gq, _, _) = formatFields("GT:DP", "./1:.")
    assert(gt == "./1" && dp == 0 && gq == 0)
  }

  test("adAltFraction truncates at 3 decimals and indexes by alt digit") {
    assert(adAltFraction("25,2", "0/1") == truncateAt(2.0 / 27.0, 3))
    assert(adAltFraction("0,0", "0/1") == 0.0)
    assert(adAltFraction("", "0/1") == 0.0)
    assert(adAltFraction("10", "0/1") == 0.0)
    // 0/2 reads the SECOND alt's depth (reference ADsplit gt indexing)
    assert(adAltFraction("20,5,15", "0/2") == truncateAt(15.0 / 40.0, 3))
    assert(adAltFraction("20,5,15", "1/1") == truncateAt(5.0 / 40.0, 3))
    // alt digit beyond the AD list → 0.0 (reference would throw)
    assert(adAltFraction("20,5", "0/3") == 0.0)
  }

  test("endPos takes END only for <NON_REF> rows") {
    assert(endPos("<NON_REF>", infoToMap("DP=3;END=500"), 100) == 500)
    assert(endPos("A,<NON_REF>", infoToMap("END=500"), 100) == 500)
    assert(endPos("A", infoToMap("END=500"), 100) == 100)
    assert(endPos("<NON_REF>", infoToMap("DP=3"), 100) == 100)
  }

  test("diploidize promotes haploid calls") {
    assert(diploidize("0") == ("0/0", false))
    assert(diploidize("1") == ("1/1", false))
    assert(diploidize("0/1") == ("0/1", true))
  }

  test("splitMultiallelic: simple het and hom") {
    assert(splitMultiallelic("A,<NON_REF>", "0/1") ==
      Seq(AlleleSplit("A", "0/1", 1, false)))
    assert(splitMultiallelic("A,<NON_REF>", "1/1") ==
      Seq(AlleleSplit("A", "1/1", 1, false)))
  }

  test("splitMultiallelic: 1/2 double-emits both alts as 0/1") {
    val s = splitMultiallelic("A,C,<NON_REF>", "1/2")
    assert(s == Seq(
      AlleleSplit("A", "0/1", 1, true),
      AlleleSplit("C", "0/1", 2, true)))
  }

  test("splitMultiallelic: 0/2 selects the second alt") {
    assert(splitMultiallelic("A,C,<NON_REF>", "0/2") ==
      Seq(AlleleSplit("C", "0/1", 2, true)))
  }

  test("splitMultiallelic: 2/3, haploid promotion, ref call") {
    assert(splitMultiallelic("A,C,G", "2/3") == Seq(
      AlleleSplit("C", "0/1", 2, true), AlleleSplit("G", "0/1", 3, true)))
    assert(splitMultiallelic("A,<NON_REF>", "1") ==
      Seq(AlleleSplit("A", "1/1", 1, false)))
    assert(splitMultiallelic("<NON_REF>", "0/0") == Nil)
    assert(splitMultiallelic("A,<NON_REF>", "0/0") ==
      Seq(AlleleSplit("A", "0/0", 0, false)))
  }

  test("parseAnn dedups per transcript keeping highest impact") {
    val ann = Seq(
      "A|missense_variant|MODERATE|G1|g1|transcript|T1|protein_coding|2/5|c.1A>G|p.K1E|10|100|200|x",
      "A|stop_gained|HIGH|G1|g1|transcript|T1|protein_coding|2/5|c.1A>T|p.K1*|10|100|200|x",
      "A|intron_variant|MODIFIER|G1|g1|transcript|T2|protein_coding||c.2C>G||10|100|200|x"
    ).mkString(",")
    val out = parseAnn(ann, "A", 1)
    assert(out.length == 2)
    val t1 = out.find(_.transcript_id == "T1").get
    assert(t1.effect == "stop_gained" && t1.effect_impact == "HIGH")
    assert(out.find(_.transcript_id == "T2").get.effect_impact == "MODIFIER")
  }

  test("parseAnn reproduces reference field extraction") {
    // fields: 0=allele 1=effect 2=impact 3=gene 5=func_class 6=transcript
    // 7=biotype 8=exon 9=codon 10=aa_change 12=gene_coding 13=pos/len
    val ann = "A|missense_variant|MODERATE|G1|g1|FC|ENST00000123456789|pc|" +
      "2/5|c.1A>G|p.K1E|x|CODING|42/847|y"
    val out = parseAnn(ann, "A", 1)
    assert(out.length == 1)
    val fe = out.head
    assert(fe.transcript_id == "T00000123456789") // takeRight(15)
    assert(fe.amino_acid_length == "847") // denominator of pos/len
    assert(fe.gene_coding == "CODING") // field 12, not the biotype
    assert(fe.transcript_biotype == "pc")
    assert(fe.exon_rank == "2/5" && fe.codon_change == "c.1A>G")
    // like the reference, no allele filter — both entries parse, dedup wins
    val two = "A|missense_variant|MODERATE|G|g|t|T1|pc|1/1|c|p|1|2|3|x" +
      ",C|stop_gained|HIGH|G|g|t|T1|pc|1/1|c|p|1|2|3|x"
    assert(parseAnn(two, "A", 1).map(_.effect) == Seq("stop_gained"))
    // unknown impact ranks 0 → sorts before HIGH (reference getOrElse 0)
    val unk = "A|weird_variant|ODD|G|g|t|T1|pc|1/1|c|p|1|2|3|x" +
      ",C|stop_gained|HIGH|G|g|t|T1|pc|1/1|c|p|1|2|3|x"
    assert(parseAnn(unk, "A", 1).map(_.effect_impact) == Seq("ODD"))
  }

  test("predictor precedence rules") {
    assert(predByPrecedence("T,D,T", Seq("D", "T")) == "D")
    assert(predByPrecedence("T,T", Seq("D", "T")) == "T")
    assert(predByPrecedence("B|P", Seq("D", "P", "B")) == "P")
    assert(predByPrecedence("N,N", Seq("A", "D", "N")) == "N")
    assert(predByPrecedence("", Seq("D", "T")) == "")
  }

  test("min/max score truncation") {
    assert(minScore("0.9995,0.002", 3) == 0.002)
    assert(maxScore("0.111,0.9998", 3) == 0.999)
    assert(minScore(".", 3) == 0.0)
  }

  test("clinvarRules: reference truth table") {
    assert(clinvarRules("5|4|0") == "9")
    assert(clinvarRules("4|5") == "9")
    assert(clinvarRules("5|5") == "5")
    assert(clinvarRules("4|0") == "4")
    assert(clinvarRules("2|3") == "0") // multi-code without 5/4 → "0"
    assert(clinvarRules("2") == "") // single non-5/4 code → ""
    assert(clinvarRules("") == "")
    // multi-allele CLNSIG: only the first comma-delimited element counts
    assert(clinvarRules("5|4,2") == "9")
    assert(clinvarRules("2,5|4") == "")
  }

  test("rsIds parses dbSNP ids") {
    assert(rsIds("rs123;rs456") == Seq("rs123", "rs456"))
    assert(rsIds(".") == Nil)
    assert(rsIds("rs9422807") == Seq("rs9422807"))
  }

  test("chromToInt maps sex/mito chromosomes") {
    assert(chromToInt("1") == 1)
    assert(chromToInt("MT") == 23)
    assert(chromToInt("X") == 24)
    assert(chromToInt("Y") == 25)
    assert(chromToInt("chr7") == 7)
  }

  test("parseEff parses legacy EFF entries with transcript dedup") {
    val eff = "missense_variant(MODERATE|MISSENSE|gCa/gTa|A12V|100|G1|protein_coding|CODING|T1|3)" +
      ",stop_gained(HIGH|NONSENSE|Cag/Tag|Q13*|100|G1|protein_coding|CODING|T1|3)" +
      ",intron_variant(MODIFIER||||100|G1|protein_coding|CODING|T2|)"
    val out = parseEff(eff, 1)
    assert(out.length == 2)
    val t1 = out.find(_.transcript_id == "T1").get
    assert(t1.effect == "stop_gained" && t1.effect_impact == "HIGH")
    assert(t1.gene_name == "G1" && t1.amino_acid_change == "Q13*")
    assert(parseEff("", 1) == Nil)
    assert(parseEff("garbage", 1) == Nil)
  }

  test("popNormalize merges maps recoding empties to 0") {
    val out = popNormalize(Seq(
      Map("af" -> "", "ac" -> "5"), Map("an" -> "", "af" -> "0.1")))
    assert(out == Map("af" -> "0.1", "ac" -> "5", "an" -> "0"))
    assert(popNormalize(null) == Map.empty)
  }

  test("umdLabel: reference exact-string mapping, U for unknown") {
    assert(umdLabel("Probably pathogenic") == "P")
    assert(umdLabel("Polymorphism") == "B")
    assert(umdLabel("Pathogenic") == "D")
    assert(umdLabel("Probable polymorphism") == "U")
    assert(umdLabel("whatever") == "U")
    assert(umdLabel("") == "U")
  }
}
