package graft.vcf

/** Pure parse/scoring functions re-implementing the reference's scalar
  * semantics (SURVEY.md §2.7) from scratch. Each is a plain Scala function
  * usable inside typed `Dataset` transformations; the oracle-visible
  * numeric quirks (floor-truncation rather than rounding, predictor
  * precedence rules) are preserved exactly.
  */
object VcfFunctions {

  /** Floor-truncate to p decimals — NOT rounding. The reference avoids
    * BigDecimal and truncates (`steps/Parser.scala:81-85`); truncation is
    * oracle-visible so we keep it.
    */
  def truncateAt(x: Double, p: Int): Double = {
    val s = math.pow(10, p)
    math.floor(x * s) / s
  }

  /** "." / "" → 0.0, else floor-truncated value (`steps/Parser.scala:74-80`). */
  def removeDot(s: String, p: Int): Double =
    if (s == null || s.isEmpty || s == ".") 0.0
    else truncateAt(s.toDouble, p)

  /** GQ banding — bucket edges per reference `steps/toSample.scala:15-30`. */
  private val GqEdges = Vector(20, 25, 30, 35, 40, 45, 50, 70, 90, 99)
  def gqBand(gq: Int): Int = {
    var band = 0
    var i = 0
    while (i < GqEdges.length && gq >= GqEdges(i)) { band = GqEdges(i); i += 1 }
    band
  }

  /** `"k=v;k2=v2"` INFO text → Map (reference `steps/toSample.scala:11-13`).
    * Flag-style entries (no '=') map to "".
    */
  def infoToMap(info: String): Map[String, String] =
    if (info == null || info.isEmpty) Map.empty
    else info.split(";").iterator.map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> "" else kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

  /** FORMAT/sample column pair → (gt, dp, gq, pl, ad).
    *
    * Generic zip of the FORMAT keys with the sample values instead of the
    * reference's five hard-coded layouts (`steps/toSample.scala:32-45`).
    * Quirks preserved from the `GT:DP:GQ:MIN_DP:PL` layout (coverage
    * blocks): MIN_DP supplies dp, and GQ is stored *banded*
    * (`gqBands(GQ)`, reference formatCase case 1) — on MIN_DP rows only.
    */
  def formatFields(format: String, sample: String): (String, Int, Int, String, String) = {
    val keys = format.split(":")
    val vals = sample.split(":")
    val m = keys.iterator.zip(vals.iterator).toMap
    def num(k: String): Int =
      m.get(k).filter(v => v.nonEmpty && v != ".").map(_.toInt).getOrElse(0)
    val minDp = m.contains("MIN_DP")
    val dp = if (minDp) num("MIN_DP") else num("DP")
    val gq = if (minDp) gqBand(num("GQ")) else num("GQ")
    (m.getOrElse("GT", "./."), dp, gq, m.getOrElse("PL", ""), m.getOrElse("AD", ""))
  }

  /** Allelic-depth "ref,alt,..." → alt fraction truncated at 3 decimals
    * (reference `steps/toSample.scala:51-59`). The AD array is indexed by
    * the genotype's alt digit (`adArray(gt.split("/")(1))`), so a `0/2`
    * call reads the *second* alt's depth, not blindly `parts(1)`.
    */
  def adAltFraction(ad: String, gt: String = "0/1"): Double = {
    if (ad == null || ad.isEmpty) return 0.0
    val parts = ad.split(",").filter(_.nonEmpty).map(_.toDouble)
    if (parts.length < 2) return 0.0
    val digits = if (gt == null) Array.empty[String] else gt.split("[/|]")
    val idx = if (digits.length < 2) 1
      else digits(1) match {
        case d if d.nonEmpty && d.forall(_.isDigit) => d.toInt
        case _ => 1
      }
    if (idx >= parts.length) return 0.0
    val total = parts.sum
    if (total == 0.0) 0.0 else truncateAt(parts(idx) / total, 3)
  }

  /** `<NON_REF>` coverage rows take END from the [[infoToMap]] map, else
    * the point position (reference `steps/toSample.scala:61-66`).
    */
  def endPos(alt: String, info: Map[String, String], pos: Int): Int =
    if (alt.endsWith("<NON_REF>")) info.get("END").map(_.toInt).getOrElse(pos)
    else pos

  /** Haploid genotype promotion: "0"→"0/0", "1"→"1/1", diploid flag false
    * for promoted calls (reference `steps/Parser.scala:238-248`).
    */
  def diploidize(gt: String): (String, Boolean) = gt match {
    case "0" => ("0/0", false)
    case "1" => ("1/1", false)
    case g   => (g, true)
  }

  /** One emitted allele from a (possibly multi-allelic) genotype. */
  case class AlleleSplit(alt: String, gt: String, genoTypeNumber: Int, multiallelic: Boolean)

  /** Split a multi-allelic ALT by the genotype (reference
    * `steps/Parser.scala:252-270`): one row per distinct non-zero allele in
    * the GT; `1/2`-style calls double-emit, each normalized to `0/1`;
    * homozygous non-ref normalizes to `1/1`; the `<NON_REF>` sentinel is
    * dropped from the alt list.
    */
  def splitMultiallelic(alt: String, gtRaw: String): Seq[AlleleSplit] = {
    val (gt, _) = diploidize(gtRaw)
    val alts = alt.split(",").filter(_ != "<NON_REF>")
    if (alts.isEmpty) return Nil
    val digits = gt.split("[/|]").filter(d => d.nonEmpty && d != ".").map(_.toInt)
    if (digits.isEmpty) return Nil
    val multi = alts.length > 1
    val nonZero = digits.filter(_ > 0).distinct
    if (nonZero.isEmpty) {
      // 0/0 reference call — keep a single row pointing at the first alt
      Seq(AlleleSplit(alts(0), "0/0", 0, multi))
    } else {
      nonZero.toIndexedSeq.flatMap { a =>
        if (a > alts.length) None
        else {
          val norm =
            if (digits.count(_ == a) == 2) "1/1"
            else "0/1" // het with ref, or het-alt pair (1/2) — each side emits 0/1
          Some(AlleleSplit(alts(a - 1), norm, a, multi))
        }
      }
    }
  }

  /** dbSNP rs ids from the ID column (reference `steps/Parser.scala:287-298`). */
  def rsIds(id: String): Seq[String] =
    if (id == null || id.isEmpty || id == ".") Nil
    else id.split(";").filter(_.startsWith("rs")).toSeq

  /** chrom code: numeric as-is, MT→23, X→24, Y→25 (reference
    * `steps/gzToParquet.scala:24-31`).
    */
  def chromToInt(c: String): Int = c.stripPrefix("chr") match {
    case "MT" | "M" => 23
    case "X"        => 24
    case "Y"        => 25
    case n          => n.toInt
  }

  /** UMD pathogenicity label → single letter, matching the reference's
    * exact-string mapping (`steps/UMD.scala:29-37`): "Probably
    * pathogenic"→P, "Polymorphism"→B, "Pathogenic"→D, "Probable
    * polymorphism"→U. Sole deliberate divergence: unknown labels default
    * to "U" instead of throwing (the reference's match is non-exhaustive).
    */
  def umdLabel(label: String): String = label match {
    case "Probably pathogenic"  => "P"
    case "Polymorphism"         => "B"
    case "Pathogenic"           => "D"
    case "Probable polymorphism" => "U"
    case _                      => "U"
  }

  // ---- snpEff ANN / EFF parsing ------------------------------------------

  private[vcf] val ImpactRank =
    Map("HIGH" -> 1, "MODERATE" -> 2, "LOW" -> 3, "MODIFIER" -> 4)

  /** Parse `ANN=` entries (pipe-delimited, 15+ fields, comma-separated
    * alternatives), reproducing the reference's field extraction exactly
    * (`steps/Parser.scala:299-327`, 1-based `getOrEmpty`): `gene_coding`
    * from field 12 (not the biotype field), `transcript_id` truncated to
    * its last 15 chars, `amino_acid_length` as the denominator of the
    * `pos/len` pair in field 13 (else ""), missing fields → "". Entries
    * are then `distinct`-deduped and reduced per transcript keeping the
    * entry the reference's ascending `points` sort puts first — unknown
    * impacts rank 0, i.e. *before* HIGH, exactly as the reference's
    * `getOrElse(_, 0)` does. Like the reference, no allele filtering:
    * annotations attach only to non-multiallelic genotype-1 rows upstream,
    * where every ANN entry describes the single alt.
    */
  def parseAnn(annValue: String, alt: String, genoTypeNumber: Int): Seq[FunctionalEffect] = {
    if (annValue == null || annValue.isEmpty) return Nil
    val entries = annValue.split(",").iterator.map { e =>
      // split preserving trailing empties: ANN fields are positional
      val f = e.split("\\|", -1)
      def g(i: Int): String = if (i < f.length) f(i) else ""
      val aaLen = g(13).split("/")
      FunctionalEffect(
        effect = g(1), effect_impact = g(2), functional_class = g(5),
        codon_change = g(9), amino_acid_change = g(10),
        amino_acid_length = if (aaLen.length == 2) aaLen(1) else "",
        gene_name = g(3), transcript_biotype = g(7), gene_coding = g(12),
        transcript_id = g(6).takeRight(15), exon_rank = g(8),
        geno_type_number = genoTypeNumber)
    }.toSeq.distinct
    entries.groupBy(_.transcript_id).valuesIterator.map { group =>
      group.minBy(fe => ImpactRank.getOrElse(fe.effect_impact, 0))
    }.toSeq.sortBy(fe => (ImpactRank.getOrElse(fe.effect_impact, 0), fe.transcript_id))
  }

  /** Parse legacy snpEff `EFF=effect(impact|functional_class|codon|aa|
    * aa_len|gene|biotype|coding|transcript|exon[|genotype])` entries
    * (reference `steps/toEffects.scala:71-115`; pre-ANN annotation
    * format). Same dedup-by-transcript/highest-impact rule as ANN.
    */
  def parseEff(effValue: String, genoTypeNumber: Int): Seq[FunctionalEffect] = {
    if (effValue == null || effValue.isEmpty) return Nil
    val entries = effValue.split(",").iterator.flatMap { e =>
      val p = e.indexOf('(')
      if (p < 0 || !e.endsWith(")")) None
      else {
        val effect = e.substring(0, p)
        val f = e.substring(p + 1, e.length - 1).split("\\|", -1)
        if (f.length < 10) None
        else Some(FunctionalEffect(
          effect = effect, effect_impact = f(0), functional_class = f(1),
          codon_change = f(2), amino_acid_change = f(3), amino_acid_length = f(4),
          gene_name = f(5), transcript_biotype = f(6), gene_coding = f(7),
          transcript_id = f(8), exon_rank = f(9),
          geno_type_number = genoTypeNumber))
      }
    }.toSeq
    entries.groupBy(_.transcript_id).valuesIterator.map { group =>
      group.minBy(fe => ImpactRank.getOrElse(fe.effect_impact, 5))
    }.toSeq.sortBy(fe => (ImpactRank.getOrElse(fe.effect_impact, 5), fe.transcript_id))
  }

  /** U2 `pop`: merge an array of population maps into one, recoding empty
    * values to "0" (reference `steps/toElastic.scala:11`).
    */
  def popNormalize(maps: Seq[Map[String, String]]): Map[String, String] =
    if (maps == null) Map.empty
    else maps.foldLeft(Map.empty[String, String]) { (acc, m) =>
      acc ++ m.map { case (k, v) => k -> (if (v == null || v.isEmpty) "0" else v) }
    }

  // ---- dbNSFP / ClinVar predictor rules ----------------------------------

  /** Of a comma/`|`-separated score list keep min (SIFT: lower = more
    * damaging) truncated at 3 decimals; reference `Parser.scala:159-164`.
    */
  def minScore(raw: String, p: Int = 3): Double = {
    val vs = splitScores(raw)
    if (vs.isEmpty) 0.0 else truncateAt(vs.min, p)
  }

  /** Max of a score list truncated (Polyphen/CADD: higher = worse). */
  def maxScore(raw: String, p: Int = 3): Double = {
    val vs = splitScores(raw)
    if (vs.isEmpty) 0.0 else truncateAt(vs.max, p)
  }

  private def splitScores(raw: String): Seq[Double] =
    if (raw == null || raw.isEmpty) Nil
    else raw.split("[,|]").toSeq.filter(s => s.nonEmpty && s != ".").map(_.toDouble)

  /** Prediction-letter precedence: first letter (in `order`) present in the
    * raw list wins. SIFT: D>T; Polyphen: D>P>B; MutationTaster: A>D>N
    * (reference `Parser.scala:87-116`).
    */
  def predByPrecedence(raw: String, order: Seq[String]): String = {
    if (raw == null || raw.isEmpty) return ""
    val present = raw.split("[,|]").filter(_.nonEmpty).toSet
    order.find(present.contains).getOrElse("")
  }

  /** ClinVar CLNSIG encoding, the reference's exact truth table
    * (`Parser.scala:107-116`): pathogenic (5) + likely-pathogenic (4)
    * together → "9"; 5 alone → "5"; 4 alone → "4"; any other multi-code
    * list → "0"; a single non-5/4 code → "".
    */
  def clinvarRules(clnsig: String): String = {
    if (clnsig == null || clnsig.isEmpty) return ""
    // The reference evaluates only the first comma-delimited allele's value
    // (getter splits on ',', getOrEmpty takes the head) before the '|' split:
    // "5|4,2" → "5|4" → "9".
    val codes = clnsig.split(",")(0).split("\\|")
    if (codes.contains("5") && codes.contains("4")) "9"
    else if (codes.contains("5")) "5"
    else if (codes.contains("4")) "4"
    else if (codes.length > 1) "0"
    else ""
  }
}
