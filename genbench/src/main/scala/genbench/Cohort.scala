package genbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Shape of a generated gVCF cohort. */
final case class CohortSpec(
    samples: Int,
    sites: Int,
    spanBp: Int,
    /** Chance that a sample calls a site (otherwise it is covered by a
      * reference block, or sits in a block that fails the quality gate).
      */
    callRate: Double,
    /** Share of sites whose ALT lists two alleles. */
    multiAllelicRate: Double,
    /** Mean length of a `<NON_REF>` block; 0 means one block over the whole span. */
    blockBp: Int,
    /** snpEff ANN + dbNSFP/CADD/ExAC/ClinVar INFO on every call. */
    annotated: Boolean,
    /** Chance that a call or block fails the gq > 19 / dp > 7 gate. */
    lowQualityRate: Double)

object CohortSpec {

  /** Many samples sharing most sites, coverage cut into short blocks: the
    * interval join and the per-site grouping shuffle carry the work.
    */
  val Wide = CohortSpec(samples = 32, sites = 3000, spanBp = 40000000, callRate = 0.3,
    multiAllelicRate = 0.0, blockBp = 40000, annotated = false, lowQualityRate = 0.05)

  /** Few samples, every call heavily annotated, one block per sample: parsing,
    * effect regrouping and the nested-document sink carry the work.
    */
  val Annotated = CohortSpec(samples = 4, sites = 4000, spanBp = 40000000, callRate = 0.8,
    multiAllelicRate = 0.2, blockBp = 0, annotated = true, lowQualityRate = 0.05)
}

/** One gVCF call as written: `alts` excludes the `<NON_REF>` sentinel. */
final case class Call(pos: Int, ref: String, alts: Seq[String], gt: String, passes: Boolean, info: String)

/** One `<NON_REF>` reference block [lo, hi] as written. */
final case class Block(lo: Int, hi: Int, passes: Boolean)

final case class SampleData(id: String, calls: Seq[Call], blocks: Seq[Block])

/** A generated cohort: the plain-Scala record of every line written, from
  * which [[CohortModel]] derives what each pipeline stage must produce.
  */
final case class Cohort(spec: CohortSpec, samples: Seq[SampleData]) {

  /** The gVCF body lines of one sample, in position order. */
  def lines(s: SampleData): Iterator[String] = {
    val calls = s.calls.iterator.map(c => c.pos -> Cohort.callLine(c))
    val blocks = s.blocks.iterator.map(b => b.lo -> Cohort.blockLine(b))
    (calls ++ blocks).toSeq.sortBy(_._1).iterator.map(_._2)
  }

  /** Write one `<sample>.chr1.vcf` per sample into `dir`; returns the paths. */
  def write(dir: File): Seq[String] = {
    dir.mkdirs()
    samples.map { s =>
      val f = new File(dir, s"${s.id}.chr1.vcf")
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
      try {
        w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t")
        w.write(s.id); w.write('\n')
        lines(s).foreach { l => w.write(l); w.write('\n') }
      } finally w.close()
      f.getPath
    }
  }
}

object Cohort {
  private val Bases = Vector("A", "C", "G", "T")

  private def pad(n: Int, width: Int): String = {
    val s = n.toString
    "0" * (width - s.length) + s
  }

  def callLine(c: Call): String = {
    val (dp, gq) = if (c.passes) (30, 80) else (5, 12)
    val id = if (c.info.isEmpty) "." else s"rs${c.pos}"
    s"1\t${c.pos}\t$id\t${c.ref}\t${(c.alts :+ "<NON_REF>").mkString(",")}\t50.0\t.\t" +
      s"${if (c.info.isEmpty) "DP=" + dp else c.info}\tGT:AD:DP:GQ:PL\t" +
      s"${c.gt}:12,18:$dp:$gq:99,0,120"
  }

  def blockLine(b: Block): String = {
    val (minDp, gq) = if (b.passes) (20, 60) else (4, 10)
    s"1\t${b.lo}\t.\tA\t<NON_REF>\t.\t.\tEND=${b.hi}\tGT:DP:GQ:MIN_DP:PL\t" +
      s"0/0:${minDp + 5}:$gq:$minDp:0,60,900"
  }

  /** Generate a cohort. The same (spec, seed) always yields the same cohort. */
  def generate(spec: CohortSpec, seed: Long): Cohort = {
    val rnd = new scala.util.Random(seed)
    val step = spec.spanBp / spec.sites
    // one site every `step` bp, jittered inside its slot; distinct and sorted
    val positions = (0 until spec.sites).map(i => 1000 + i * step + rnd.nextInt(step / 2))
    case class Site(pos: Int, ref: String, alts: Seq[String], info: String)
    val sites = positions.map { p =>
      val r = rnd.nextInt(4)
      val ref = Bases(r)
      val alt1 = Bases((r + 1 + rnd.nextInt(3)) % 4)
      val alts =
        if (rnd.nextDouble() < spec.multiAllelicRate) Seq(alt1, Bases((Bases.indexOf(alt1) + 1) % 4) match {
          case a if a == ref => a + "T"
          case a => a
        })
        else if (rnd.nextInt(50) == 0) Seq(ref + "T") // an insertion now and then
        else Seq(alt1)
      Site(p, ref, alts, if (spec.annotated) annotation(rnd, p, alts.head) else "")
    }
    val samples = (0 until spec.samples).map { si =>
      val id = "S" + pad(si, 3)
      // per site: called (gt), or not called
      val calls = sites.flatMap { st =>
        if (rnd.nextDouble() >= spec.callRate) None
        else {
          val gt =
            if (st.alts.size > 1) Seq("1/2", "0/2", "0/1")(rnd.nextInt(3))
            else if (rnd.nextBoolean()) "0/1" else "1/1"
          Some(Call(st.pos, st.ref, st.alts, gt,
            passes = rnd.nextDouble() >= spec.lowQualityRate, info = st.info))
        }
      }
      val blocks =
        if (spec.blockBp == 0) Seq(Block(1, spec.spanBp + 1000, passes = true))
        else fragmentedBlocks(rnd, spec, calls.map(_.pos))
      SampleData(id, calls, blocks)
    }
    Cohort(spec, samples)
  }

  /** Short blocks tiling the span except the sample's own call positions. */
  private def fragmentedBlocks(rnd: scala.util.Random, spec: CohortSpec, callPos: Seq[Int]): Seq[Block] = {
    val out = Seq.newBuilder[Block]
    val end = spec.spanBp + 1000
    var lo = 1
    val cuts = callPos.iterator.buffered
    while (lo <= end) {
      val len = spec.blockBp / 2 + rnd.nextInt(spec.blockBp)
      var hi = math.min(end, lo + len - 1)
      // a block stops just before the next call of this sample
      while (cuts.hasNext && cuts.head < lo) cuts.next()
      val next = if (cuts.hasNext) cuts.head else Int.MaxValue
      if (next <= hi) hi = next - 1
      if (hi >= lo) out += Block(lo, hi, passes = rnd.nextDouble() >= spec.lowQualityRate)
      lo = if (next == hi + 1) next + 1 else hi + 1
    }
    out.result()
  }

  /** snpEff ANN with 5 to 20 transcripts, plus the dbNSFP / CADD / ExAC /
    * ClinVar keys the parser reads.
    */
  private def annotation(rnd: scala.util.Random, pos: Int, alt: String): String = {
    val effects = Vector("missense_variant", "synonymous_variant", "stop_gained",
      "splice_region_variant", "intron_variant", "5_prime_UTR_variant")
    val impacts = Vector("MODERATE", "LOW", "HIGH", "LOW", "MODIFIER", "MODIFIER")
    val n = 5 + rnd.nextInt(16)
    val gene = s"GENE${pos % 9973}"
    val ann = (0 until n).map { t =>
      val e = rnd.nextInt(effects.size)
      Seq(alt, effects(e), impacts(e), gene, s"ENSG${pos}", "transcript",
        "ENST" + pad(pos, 9) + pad(t, 2), "protein_coding", s"${1 + t % 9}/12", s"c.${100 + t}A>G",
        s"p.Lys${30 + t}Glu", s"${200 + t}/2000", s"${100 + t}/1500", s"${34 + t}/500", "",
        "").mkString("|")
    }.mkString(",")
    // decimals built from integers: the text must not depend on the locale
    def dec(scale: Int, max: Int = 1) = java.math.BigDecimal.valueOf(
      rnd.nextInt(max * math.pow(10, scale).toInt), scale).toPlainString
    def f3() = dec(3)
    Seq(s"DP=${20 + rnd.nextInt(40)}", s"ANN=$ann",
      s"dbNSFP_SIFT_pred=${Seq("D", "T")(rnd.nextInt(2))},T",
      s"dbNSFP_SIFT_score=${f3()},${f3()}",
      s"dbNSFP_Polyphen2_HVAR_pred=${Seq("D", "P", "B")(rnd.nextInt(3))},B",
      s"dbNSFP_Polyphen2_HVAR_score=${f3()},${f3()}",
      s"dbNSFP_MutationTaster_pred=${Seq("A", "D", "N")(rnd.nextInt(3))}",
      s"dbNSFP_phyloP46way_placental=${f3()}", s"dbNSFP_GERP___RS=${f3()}",
      s"dbNSFP_SiPhy_29way_pi=${f3()}:${f3()}:${f3()}:${f3()}",
      s"CADD13_PHRED=${dec(2, 40)}", s"CLNSIG=${Seq("5|4", "5", "4", "2|3", "2")(rnd.nextInt(5))}",
      s"CLNACC=RCV${pos % 100000}", s"ExAC_AF=${dec(5)}",
      s"dbNSFP_ESP6500_AA_AF=${dec(6)}", s"dbNSFP_ESP6500_EA_AF=${dec(6)}",
      s"dbNSFP_1000Gp1_AFR_AF=${dec(6)}", s"dbNSFP_1000Gp1_ASN_AF=${dec(6)}",
      s"dbNSFP_1000Gp1_EUR_AF=${dec(6)}", s"dbNSFP_1000Gp1_AF=${dec(6)}"
    ).mkString(";")
  }
}
