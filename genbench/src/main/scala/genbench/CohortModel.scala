package genbench

/** What a site must look like in the `variants` table. */
final case class SiteExpectation(samples: Int, freq: Float, effects: Int)

/** Expected output of every pipeline stage, derived in plain Scala from the
  * lines the generator wrote. It shares no code with the pipeline: the
  * quality gate (gq > 19, dp > 7, multi-allelic rows dropped), the
  * reference-block coverage rule and the cohort frequency are restated here
  * from the gVCF semantics.
  */
final case class CohortExpectation(
    parsedRows: Long,
    sites: Long,
    joinRows: Long,
    candidatePairs: Long,
    perSite: Map[Int, SiteExpectation]) {

  /** Rows each stage table must hold, keyed by stage name. Every later
    * stage holds one row per called site.
    */
  def stageRows: Map[String, Long] = Map(
    "parse" -> parsedRows, "group" -> sites, "effects" -> sites,
    "variants" -> sites, "publish" -> sites)
}

object CohortModel {

  def expect(c: Cohort, binWidth: Double): CohortExpectation = {
    // rows that survive the gate: bi-allelic passing calls, passing blocks
    val kept = c.samples.map { s =>
      s.id -> s.calls.filter(k => k.passes && k.alts.size == 1)
    }.toMap
    val blocks = c.samples.map(s => s.id -> s.blocks.filter(_.passes)).toMap
    val parsedRows = kept.values.map(_.size.toLong).sum + blocks.values.map(_.size.toLong).sum

    // called sites: one (ref, alt) per position by construction
    val callers: Map[Int, Seq[(String, Call)]] =
      kept.toSeq.flatMap { case (id, ks) => ks.map(k => k.pos -> (id -> k)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sitePos = callers.keys.toVector.sorted

    // the interval join at `binWidth`: blocks sorted by start per sample
    def bin(x: Int): Long = math.floor(x / binWidth).toLong
    val allBlocks = blocks.toSeq.flatMap { case (id, bs) => bs.map(id -> _) }
    val blocksByBin: Map[Long, Seq[(String, Block)]] =
      allBlocks.flatMap { case (id, b) => (bin(b.lo) to bin(b.hi)).map(_ -> (id -> b)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var joinRows = 0L
    var candidates = 0L
    val perSite = sitePos.map { p =>
      val inBin = blocksByBin.getOrElse(bin(p), Nil)
      candidates += inBin.size
      val covering = inBin.filter { case (_, b) => b.lo <= p && p <= b.hi }
      joinRows += covering.size
      val calledBy = callers(p)
      val calledIds = calledBy.map(_._1).toSet
      // a covering block adds a 0/0 entry for a sample with no kept call here
      val refOnly = covering.map(_._1).distinct.count(id => !calledIds(id))
      val n = calledBy.size + refOnly
      val altAlleles = calledBy.map { case (_, k) => if (k.gt == "1/1") 2 else 1 }.sum
      val freq = (math.floor(altAlleles.toDouble / (n * 2) * 1e6) / 1e6).toFloat
      p -> SiteExpectation(n, freq, transcripts(calledBy.head._2.info))
    }.toMap
    CohortExpectation(parsedRows, sitePos.size.toLong, joinRows, candidates, perSite)
  }

  /** Number of distinct transcripts in the snpEff ANN of an INFO field. */
  private def transcripts(info: String): Int =
    info.split(";").find(_.startsWith("ANN=")).fold(0) { ann =>
      ann.stripPrefix("ANN=").split(",").map(_.split("\\|", -1)(6)).distinct.length
    }

  /** A seeded choice of `n` called sites whose documents each run checks. */
  def probeSites(e: CohortExpectation, n: Int, seed: Long): Seq[Int] =
    new scala.util.Random(seed).shuffle(e.perSite.keys.toVector.sorted).take(n).sorted
}
