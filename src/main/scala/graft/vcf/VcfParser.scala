package graft.vcf

import VcfFunctions._

/** gVCF line → typed [[Variant]] rows (reference P6 `sampleParser`,
  * `steps/Parser.scala:203-237`) — the row-explosion parser: one raw line
  * yields 0..N variants (multi-allelic split), with annotations attached
  * only to genotype-number-1, non-multiallelic rows (the reference's
  * subtle, test-covered rule — SURVEY.md §7.4).
  */
object VcfParser {

  /** Parse one tab-separated gVCF body line (columns as reference
    * `steps/gzToParquet.scala:14-23`). Returns Nil for header / malformed
    * lines: fewer than 10 columns, or a number (POS, END, DP, GQ, AD, a GT
    * allele, an annotation score) that does not parse — one bad line is
    * dropped rather than failing the whole ingest job. The INFO column is
    * split into a map once per line and shared by END, ANN/EFF,
    * predictions and populations.
    */
  def parseLine(line: String, sampleId: String, chrom: Int): Seq[Variant] = {
    if (line == null || line.isEmpty || line.startsWith("#")) return Nil
    val f = line.split("\t", -1)
    if (f.length < 10) Nil
    else try parseFields(f, sampleId, chrom)
    catch { case _: NumberFormatException => Nil }
  }

  private def parseFields(f: Array[String], sampleId: String, chrom: Int)
      : Seq[Variant] = {
    val pos = f(1).toInt
    val id = f(2)
    val ref = f(3)
    val alt = f(4)
    val info = infoToMap(f(7))
    val (gtRaw, dp, gq, pl, adRaw) = formatFields(f(8), f(9))
    val (gtDip, diploid) = diploidize(gtRaw)
    val end = endPos(alt, info, pos)
    // Sample.ad carries the alt-fraction string, not the raw AD list —
    // reference `ADsplit(ad, gt)` at `steps/Parser.scala:227-228`, indexed
    // by the genotype's alt digit ("" stays "" on coverage blocks).
    val ad = if (adRaw.isEmpty) "" else adAltFraction(adRaw, gtDip).toString

    // Pure reference-coverage block: keep as an interval row (the input to
    // the J2 intersection), never multi-allele split.
    if (alt == "<NON_REF>") {
      return Seq(Variant(
        chrom = chrom, pos = pos, end_pos = end, ref = ref,
        alt = "<NON_REF>", indel = false,
        sample = SampleCall(gtDip, dp, gq, pl, ad, multiallelic = false,
          sampleId = sampleId, diploid = diploid),
        effects = Nil, predictions = emptyPredictions,
        populations = emptyPopulations))
    }

    splitMultiallelic(alt, gtDip).map { s =>
      val indel = ref.length != 1 || s.alt.length != 1
      val attachAnnotations = s.genoTypeNumber == 1 && !s.multiallelic
      // ANN preferred; legacy EFF= accepted when ANN is absent (the
      // reference handled both annotation generations)
      def value(key: String) = info.get(key).filter(_.nonEmpty)
      val effects =
        if (attachAnnotations)
          value("ANN") match {
            case Some(ann) => parseAnn(ann, s.alt, s.genoTypeNumber)
            case None => value("EFF").map(parseEff(_, s.genoTypeNumber)).getOrElse(Nil)
          }
        else Nil
      val predictions =
        if (attachAnnotations) parsePredictions(info, id) else emptyPredictions
      val populations =
        if (attachAnnotations) parsePopulations(info) else emptyPopulations
      Variant(
        chrom = chrom, pos = pos, end_pos = end, ref = ref, alt = s.alt,
        indel = indel,
        sample = SampleCall(s.gt, dp, gq, pl, ad, s.multiallelic, sampleId, diploid),
        effects = effects, predictions = predictions, populations = populations)
    }
  }

  val emptyPredictions: Predictions =
    Predictions("", 0.0, "", 0.0, "", "", "", "", 0.0, "", "", "")
  val emptyPopulations: Populations =
    Populations(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)

  /** dbNSFP / ClinVar / CADD pulls from the parsed INFO map with
    * per-predictor rules: min SIFT score + D>T letter, max Polyphen +
    * D>P>B, MutationTaster A>D>N, clinvar 5&4→9 (reference
    * `Parser.scala:87-183`).
    */
  def parsePredictions(info: Map[String, String], id: String): Predictions = {
    def g(k: String) = info.getOrElse(k, "")
    Predictions(
      sift_pred = predByPrecedence(g("dbNSFP_SIFT_pred"), Seq("D", "T")),
      sift_score = minScore(g("dbNSFP_SIFT_score"), 3),
      polyphen2_hvar_pred =
        predByPrecedence(g("dbNSFP_Polyphen2_HVAR_pred"), Seq("D", "P", "B")),
      polyphen2_hvar_score = maxScore(g("dbNSFP_Polyphen2_HVAR_score"), 3),
      mutation_taster_pred =
        predByPrecedence(g("dbNSFP_MutationTaster_pred"), Seq("A", "D", "N")),
      phylop46way_placental = g("dbNSFP_phyloP46way_placental"),
      gerp_rs = g("dbNSFP_GERP___RS"),
      siphy_29way_pi = g("dbNSFP_SiPhy_29way_pi"),
      cadd_phred = maxScore(g("CADD13_PHRED"), 3),
      clinvar = clinvarRules(g("CLNSIG")),
      clnacc = g("CLNACC"),
      rs = rsIds(id).mkString(";"))
  }

  /** Population allele frequencies from the parsed INFO map,
    * floor-truncated at 5 decimals (decimal-avoidance parity — SURVEY.md
    * §1.3).
    */
  def parsePopulations(info: Map[String, String]): Populations = {
    def d(k: String) = removeDot(info.getOrElse(k, ""), 5)
    Populations(
      esp6500_aa = d("dbNSFP_ESP6500_AA_AF"),
      esp6500_ea = d("dbNSFP_ESP6500_EA_AF"),
      gp1_afr_af = d("dbNSFP_1000Gp1_AFR_AF"),
      gp1_asn_af = d("dbNSFP_1000Gp1_ASN_AF"),
      gp1_eur_af = d("dbNSFP_1000Gp1_EUR_AF"),
      gp1_af = d("dbNSFP_1000Gp1_AF"),
      exac = d("ExAC_AF"))
  }
}
