package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Classifier, Decontamination, Dedup, EventAnalytics, Graph, Guards, IntervalDepth, Pca, Profiling, Sampling, Similarity, TextAnalytics}

/** Scaling probe for the dedup/text AND vector families: synthesizes
  * corpora at 1×, 4× and 16× the bench document count (deterministic
  * hash-generated text over a ~20k-word vocabulary with a light
  * power-law skew and a 1% planted near-dup rate — realistic shingle
  * document frequencies, unlike replicating the bench corpus, which
  * multiplies every df by the replication factor and manufactures
  * quadratic candidate growth — plus a matching embedding table with
  * the same planted-dup rate), then times each operator at each scale.
  * A scale-safe operator should grow ~linearly in rows; the printed
  * exponent is log(t)/log(n) slope between successive scales.
  *
  * `runMain graft.tools.ScaleProbe [maxScaleDocs] [opPrefixFilter]` —
  * the optional second arg is a comma-separated list of op-name
  * prefixes (e.g. `d2,d3,d6,g1`) to probe just one family at a larger
  * scale. Results recorded in SCALE.md ("Measured scaling" section).
  */
object ScaleProbe {

  /** Row count of the scale currently being probed — set by the main
    * loop so op closures can synthesize derived inputs without running
    * a count job inside their timed region.
    */
  @volatile private var probeN: Long = 0L

  /** Deterministic synthetic corpus: ~200 tokens/doc; 1% of docs are a
    * near-copy of their predecessor (same generated body + a marker
    * suffix). Pure column expressions — generated distributed, never on
    * the driver.
    */
  def synth(spark: SparkSession, n: Long): DataFrame = {
    spark.range(n)
      .select(col("id").as("doc_id"),
        when(col("id") % 100 === 0 && col("id") > 0, col("id") - 1)
          .otherwise(col("id")).as("seed"),
        (col("id") % 100 === 0 && col("id") > 0).as("isdup"))
      .select(col("doc_id"), concat(
        expr("""concat_ws(' ', transform(
            sequence(1, 180 + int(pmod(xxhash64(seed, 7L), 40))),
            i -> concat('w', int(20000 *
              pow(pmod(xxhash64(seed, i), 100000) / 100000.0d, 2.0d)))))"""),
        when(col("isdup"), lit(" nearly duplicated tail marker"))
          .otherwise(lit(""))).as("text"))
  }

  /** [[synth]] with a Heaps-law vocabulary: V = 10·√T for T total
    * tokens (~200·n), instead of the fixed ~20k vocab — the growth a
    * real corpus shows. At the 20k-doc base scale the two corpora have
    * the SAME vocabulary size (10·√4M = 20k), so a fixed-vocab vs
    * Heaps probe pair isolates exactly one variable: whether an
    * operator's superlinear reading is pair-space densification (an
    * artifact of freezing the vocabulary while growing the corpus) or
    * a plan defect.
    */
  /** Driver-written synthetic 3-sample gVCF cohort for the
    * vcf_pipeline probe — the CohortGoldenScaleSpec line shapes (~2/3
    * of sites called per sample via the splitmix64 state, alt ≠ ref by
    * construction, one whole-span coverage block each), `n` sites at a
    * 100 bp stride. Untimed input synthesis; returns the file paths.
    */
  def synthCohort(n: Long, dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val bases = Vector("A", "C", "G", "T")
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    (0 until 3).map { s =>
      val f = new java.io.File(d, s"S$s.chr1.vcf")
      val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
      try {
        w.write("#header\n")
        var i = 0L
        while (i < n) {
          val st = (mix(s * 1000003L + i) & Long.MaxValue) % 3
          if (st < 2) {
            val p = 100L * i + 7
            val ri = (mix(i).toInt & 0x7FFFFFFF) % 4
            val ai =
              (ri + 1 + (mix(i * 31L + 11).toInt & 0x7FFFFFFF) % 3) % 4
            val gt = if (st == 0) "0/1" else "1/1"
            w.write(s"1\t$p\t.\t${bases(ri)}\t${bases(ai)},<NON_REF>\t" +
              s".\t.\tDP=30\tGT:AD:DP:GQ:PL\t$gt:10,20:30:80:99,0,12\n")
          }
          i += 1
        }
        w.write(s"1\t1\t.\tA\t<NON_REF>\t.\t.\tEND=${100L * n + 7}\t" +
          "GT:DP:GQ:MIN_DP:PL\t0/0:25:60:20:0,60,900\n")
      } finally w.close()
      f.getPath
    }
  }

  def synthHeaps(spark: SparkSession, n: Long): DataFrame = {
    val vocab = math.max(1000L, (10.0 * math.sqrt(200.0 * n)).toLong)
    spark.range(n)
      .select(col("id").as("doc_id"),
        expr(s"""concat_ws(' ', transform(
            sequence(1, 180 + int(pmod(xxhash64(id, 7L), 40))),
            i -> concat('w', int($vocab *
              pow(pmod(xxhash64(id, i), 100000) / 100000.0d, 2.0d)))))""")
          .as("text"))
  }

  /** Deterministic synthetic embeddings (dim 64, components in [-1, 1)
    * from a seeded hash; 1% planted near-dups with the d5-corpus shape:
    * first two components zeroed).
    */
  def synthEmb(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id").as("vec_id"),
        when(col("id") % 100 === 0 && col("id") > 0, col("id") - 1)
          .otherwise(col("id")).as("seed"),
        (col("id") % 100 === 0 && col("id") > 0).as("isdup"))
      .select(col("vec_id"),
        expr("""transform(sequence(1, 64), i -> CAST(
            pmod(xxhash64(seed, i), 2000) / 1000.0d - 1.0d AS FLOAT))""")
          .as("base"), col("isdup"))
      .select(col("vec_id"),
        when(col("isdup"),
          expr("concat(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
            "slice(base, 3, 62))"))
          .otherwise(col("base")).as("embedding"))

  /** One event per doc row: user_id spreads ids over n/50 users (~50
    * events each at every scale), ts hash-spreads over 30 days of nanos,
    * event_type draws funnel steps + noise types from a hash. Pure
    * column expressions over a doc_id-only projection.
    */
  def synthEvents(d: DataFrame, rows: Long): DataFrame = {
    val n = math.max(50L, rows)
    d.select(
      pmod(xxhash64(col("doc_id"), lit(11L)), lit(n / 50)).as("user_id"),
      pmod(xxhash64(col("doc_id"), lit(12L)),
        lit(30L * 86400 * 1000 * 1000 * 1000)).as("ts"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("error"),
          lit("signup")),
        (pmod(xxhash64(col("doc_id"), lit(13L)), lit(5L)) + 1).cast("int"))
        .as("event_type"))
  }

  def main(args: Array[String]): Unit = {
    val maxDocs = args.headOption.map(_.toLong).getOrElse(80000L)
    val opFilter: String => Boolean = args.lift(1) match {
      case Some(px) =>
        val ps = px.split(",").map(_.trim).filter(_.nonEmpty)
        name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = GraftSession.tune(
        SparkSession.builder().master("local[32]").appName("scale-probe"),
        shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the e11/e12 candidate-corruption grid (SparkEntry.evalPairGrid's
    // shape over the synthetic corpus)
    def evalGrid(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= "").as("w"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("k"),
        slice(col("w"), 1, 12).as("r12"), col("w"))
      .select((col("doc_id") * 4 + col("k")).as("pair_id"),
        array_join(col("r12"), " ").as("ref"),
        array_join(
          when(col("k") === 0, col("r12"))
            .when(col("k") === 1, slice(col("w"), 1, 8))
            .when(col("k") === 2,
              concat(col("r12"), slice(col("w"), 1, 4)))
            .otherwise(reverse(col("r12"))), " ").as("cand"))

    // Chaos-probe harness (r11 VERDICT #6): run `body` on an input
    // with planted corruption and REQUIRE the named guard to fire —
    // the PROBE time is the time-to-raise (it must be seconds, not a
    // long partial run ending in an opaque OOM). Wrong error or no
    // error both fail the probe loudly. The raise text is searched
    // down the whole cause chain (Spark wraps user raises in
    // SparkException layers).
    def expectRaise(op: String, needle: String)(body: => Long): Long = {
      val fired =
        try { body; false }
        catch { case t: Throwable =>
          val chain = Iterator.iterate(t)(_.getCause)
            .takeWhile(_ != null).take(12)
            .flatMap(c => Option(c.getMessage)).mkString(" | ")
          if (!chain.contains(needle))
            throw new IllegalStateException(
              s"$op: raised the WRONG error (wanted '$needle'): $chain")
          true
        }
      if (!fired) throw new IllegalStateException(
        s"$op: guard did NOT fire on corrupt input")
      1L
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      // ---- chaos probes: the guard FAILURE path at scale — ~1%
      // corrupt rows planted in a probeN-sized input must raise the
      // named error fast. One op per guard class: calendar densify
      // span, interval bin fan-out, scan-side null raise, non-finite
      // cosine.
      "chaos_densify" -> { d =>
        // 1% of timestamps jump to ~190 epoch-years (the ns-vs-µs
        // class of mixup): the hourly densify span becomes ~1.67M
        // buckets, over Guards.MaxDensifySpan
        val ev = synthEvents(d, probeN)
          .select(col("event_type"),
            when(pmod(xxhash64(col("ts"), lit(3L)), lit(100)) === 0,
              lit(6000000000000000000L)).otherwise(col("ts")).as("ts"))
        expectRaise("chaos_densify", "densified span") {
          EventAnalytics.autocorrelation(ev, "ts", "event_type").count()
        }
      },
      "chaos_bins" -> { d =>
        // 1% of intervals get a stop 3e9 past their start (a foreign
        // coordinate system): 3M bins at binWidth 1000, over
        // Guards.MaxBinsPerRow
        val ranges = d.select(col("doc_id").as("rid"),
          (col("doc_id") * 100).as("lo"),
          when(pmod(col("doc_id"), lit(100)) === 7,
            col("doc_id") * 100 + 3000000000L)
            .otherwise(col("doc_id") * 100 + 150).as("hi"))
        val points = d.select((col("doc_id") * 100 + 25).as("p"))
        expectRaise("chaos_bins", "range bins") {
          graft.operators.IntervalJoin.pointInRange(
            points, ranges, "p", "lo", "hi",
            binWidth = 1000.0).count()
        }
      },
      "chaos_null_ts" -> { d =>
        val ev = synthEvents(d, probeN)
          .select(col("user_id"),
            when(pmod(xxhash64(col("ts"), lit(5L)), lit(100)) === 0,
              lit(null).cast("long")).otherwise(col("ts")).as("ts"))
        expectRaise("chaos_null_ts", "null timestamp") {
          EventAnalytics.growthAccounting(ev, "user_id", "ts").count()
        }
      },
      "chaos_cosine" -> { d =>
        // 1% of vectors carry a NaN component — the v20 guard must
        // raise, not clamp the NaN cosine into the middle bin
        val emb = d.select(col("doc_id").as("vec_id"),
          transform(sequence(lit(1), lit(8)), i =>
            when(pmod(col("doc_id"), lit(100)) === 3 && i === 1,
              lit(Float.NaN))
              .otherwise(pmod(xxhash64(col("doc_id"), i), lit(1000))
                .cast("double") / 1000.0d + 0.01d)
              .cast("float")).as("embedding"))
        expectRaise("chaos_cosine", "non-finite") {
          // sum the VALUES, not count(): Catalyst eliminates the final
          // left join under count() (right side unique per bin) and
          // the guarded subtree would never evaluate
          Similarity.cosineHistogram(emb, "vec_id", "embedding")
            .agg(sum("n_pairs")).collect()
          1L
        }
      },
      // The ORIGINAL reference DAG as ONE lineage (r11 VERDICT #3):
      // ingest → parse/qualityGate → group → effects → variants →
      // publish via PipelineRunner.run — the pipeline a reference user
      // actually runs — on a synthetic 3-sample cohort of probeN sites
      // (driver-written UNTIMED in the per-scale setup, the synthHeaps
      // discipline). Sites stride 100 bp, so band/bin counts GROW with
      // scale (the partitioned-sink + interval-join shapes at width).
      "vcf_pipeline" -> { _ =>
        val root = s"/tmp/scaleprobe/vcfroot_$probeN"
        graft.vcf.PipelineRunner.run(spark,
          graft.vcf.PipelineRunner.Config(
            root = root,
            gvcfPaths = (0 until 3).map(s =>
              s"/tmp/scaleprobe/cohort_$probeN/S$s.chr1.vcf")))
        spark.read.parquet(s"$root/variants").count()
      },
      "d1_exact" -> (d => Dedup.exactGroups(d, "doc_id", "text").count()),
      "d2_jaccard" -> (d =>
        Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.6)
          .count()),
      "d3_minhash_lsh" -> (d =>
        Dedup.minHashLshPairs(d, "doc_id", "text").count()),
      "d4_simhash" -> (d =>
        Dedup.simHashNearPairs(d, "doc_id", "text", maxDist = 3).count()),
      "d6_clusters" -> (d => Dedup.duplicateClusters(
        Dedup.minHashLshPairs(d, "doc_id", "text").select("id_a", "id_b"))
          .count()),
      "t7_tfidf" -> (d =>
        TextAnalytics.tfIdfTopTerms(d, "doc_id", "text").count()),
      "t10_logprob" -> (d =>
        TextAnalytics.unigramLogProb(d, "doc_id", "text").count()),
      "t24_ccnet" -> (d =>
        TextAnalytics.perplexityBuckets(d, "doc_id", "text").count()),
      // four syntactic variants per doc, colliding mod n/10 — group
      // count grows with the corpus (fixed groups would concentrate
      // keys; scaling them is the d5-band/g1-host knob discipline)
      "d17_url_dedup" -> { d =>
        val grp = math.max(probeN / 10, 50L)
        Dedup.urlDedup(
          d.select(col("doc_id"),
            concat(
              when(pmod(col("doc_id"), lit(4)) === 0, "https://www.site")
                .when(pmod(col("doc_id"), lit(4)) === 1, "HTTPS://Site")
                .otherwise("https://site"),
              pmod(col("doc_id"), lit(grp)).cast("string"),
              lit(".Example.com"),
              when(pmod(col("doc_id"), lit(2)) === 0, ":443").otherwise(""),
              lit("/p/"), pmod(col("doc_id"), lit(7)).cast("string"),
              when(pmod(col("doc_id"), lit(3)) === 0, "#f").otherwise(""))
              .as("url"),
            length(col("text")).as("n_chars")),
          "doc_id", "url", "n_chars").count()
      },
      // 20 chroms regardless of n — the worst case for the carry logic
      // (every chrom spans many partitions at scale); spans tighten with
      // n so depth grows and segments stay dense
      "j10_depth" -> { d =>
        val span = math.max(1000L, probeN / 10)
        val st = pmod(col("doc_id") * 37, lit(span))
        IntervalDepth.depthHistogram(
          d.select(
            concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
              .as("chrom"),
            st.as("start"),
            (st + 50 + pmod(col("doc_id"), lit(200))).as("stop")),
          "chrom", "start", "stop").count()
      },
      // spans scale with n so density (and candidate volume per query)
      // stays constant — the knob discipline; q side is 1/7 of the corpus
      "j11_nearest" -> { d =>
        val span = math.max(4000L, probeN)
        val st = pmod(col("doc_id") * 37, lit(span))
        val iv = d.select(
          col("doc_id"),
          concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
            .as("chrom"),
          st.as("start"),
          (st + 50 + pmod(col("doc_id"), lit(200))).as("stop"))
        graft.operators.IntervalJoin.nearestWithin(
          iv.filter(col("doc_id") % 7 === 0),
          iv.filter(col("doc_id") % 7 =!= 0),
          "chrom", "start", "stop", "doc_id",
          "chrom", "start", "stop", "doc_id",
          maxDist = 100L, binWidth = 256L).count()
      },
      // complement over j12's synthesis against a genome that scales
      // with the position space; gap rows track merged runs ~linearly
      "j15_complement" -> { d =>
        val span = math.max(1000L, probeN / 10)
        val st = pmod(col("doc_id") * 37, lit(span))
        val iv = d.select(
          concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
            .as("chrom"),
          st.as("start"),
          (st + 5 + pmod(col("doc_id"), lit(20))).as("stop"))
        IntervalDepth.complement(iv, "chrom", "start", "stop",
          iv.select("chrom").distinct()
            .withColumn("gsize", lit(span + 100)),
          "chrom", "gsize").count()
      },
      // the j11 constant-density synthesis; pair volume bounded by the
      // bin discipline, fractions are scan-side residuals
      "j16_reciprocal" -> { d =>
        val span = math.max(4000L, probeN)
        val st = pmod(col("doc_id") * 37, lit(span))
        val iv = d.select(
          col("doc_id"),
          concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
            .as("chrom"),
          st.as("start"),
          (st + 50 + pmod(col("doc_id"), lit(200))).as("stop"))
        graft.operators.IntervalJoin.reciprocalOverlap(
          iv.filter(col("doc_id") % 7 === 0),
          iv.filter(col("doc_id") % 7 =!= 0),
          "chrom", "start", "stop", "doc_id",
          "chrom", "start", "stop", "doc_id",
          minPctA = 50, minPctB = 50, binWidth = 256L).count()
      },
      // the j10 synthesis; one sweep + a per-chrom aggregate
      "j17_coverage" -> { d =>
        val span = math.max(1000L, probeN / 10)
        val st = pmod(col("doc_id") * 37, lit(span))
        IntervalDepth.coverageSummary(
          d.select(
            concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
              .as("chrom"),
            st.as("start"),
            (st + 50 + pmod(col("doc_id"), lit(200))).as("stop")),
          "chrom", "start", "stop", thresholds = Seq(2L, 5L)).count()
      },
      // same interval synthesis as j10; merged-run count grows with n
      // (spans tighten as the position space scales with the corpus)
      "j12_merge" -> { d =>
        val span = math.max(1000L, probeN / 10)
        val st = pmod(col("doc_id") * 37, lit(span))
        IntervalDepth.coalesce(
          d.select(
            concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
              .as("chrom"),
            st.as("start"),
            (st + 5 + pmod(col("doc_id"), lit(20))).as("stop")),
          "chrom", "start", "stop").count()
      },
      // j11's constant-density synthesis (position space ∝ n), so the
      // 1/7 blacklist keeps ~10% coverage at every scale and output
      // rows track the a side ~linearly (a shrinking space saturates
      // coverage and zeroes the output — measured, not guessed)
      "j13_subtract" -> { d =>
        val span = math.max(4000L, probeN)
        val st = pmod(col("doc_id") * 37, lit(span))
        val iv = d.select(
          col("doc_id"),
          concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
            .as("chrom"),
          st.as("start"),
          (st + 5 + pmod(col("doc_id"), lit(20))).as("stop"))
        graft.operators.IntervalJoin.subtract(
          iv.filter(col("doc_id") % 7 =!= 0),
          iv.filter(col("doc_id") % 7 === 0),
          "chrom", "start", "stop", "doc_id",
          "chrom", "start", "stop", binWidth = 256L).count()
      },
      "s8_curriculum" -> (d =>
        Sampling.curriculumOrder(
          d.select(col("doc_id"), length(col("text")).as("n")),
          "doc_id", "n").count()),
      "t17_bigram" -> (d =>
        TextAnalytics.bigramLogProb(d, "doc_id", "text").count()),
      "t15_bm25" -> (d =>
        TextAnalytics.bm25(d, "doc_id", "text",
          Seq("w100", "w2000", "w15000")).count()),
      "d10_segments" -> (d =>
        Dedup.segmentDedup(d, "doc_id", "text").count()),
      // 20 synthetic domains; planted nav/footer lines so boilerplate
      // df keys are genuinely hot (worst case for the join-back)
      "d18_boilerplate" -> { d =>
        val page = concat(col("text"),
          lit("\nnav "), pmod(col("doc_id"), lit(3)).cast("string"),
          lit("\n(c) domain "),
          pmod(col("doc_id"), lit(20)).cast("string"))
        Dedup.boilerplateLines(
          d.select(col("doc_id"),
            pmod(col("doc_id"), lit(20)).cast("string").as("domain"),
            page.as("text")),
          "doc_id", "text", "domain").count()
      },
      "d14_containment" -> (d =>
        Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.9)
          .count()),
      "c6_token_budget" -> (d =>
        Sampling.tokenBudgetSelect(
          TextAnalytics.qualityScore(d, "doc_id", "text"),
          "id", "quality", "n_tokens", budget = 1000000L).count()),
      // benchmark side grows with the corpus here (worst case for the
      // filter build; real eval suites are fixed-size), so this bounds
      // BOTH the build and probe sides of the bloom path
      "d15_bloom" -> (d => Decontamination.bloomDecontaminate(
        d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0), "doc_id", "text", n = 3).count()),
      // host count grows ∝ n/100 — a fixed host set at 1M docs would
      // turn the per-round src join into a 7-key skew shuffle; scaling
      // the blocking key with the corpus is the same knob discipline as
      // d5's bands and d8's nlist
      "g1_pagerank" -> { d =>
        // probeN, not d.count() (the same no-count-in-timed-region rule)
        val nh = math.max(7L, probeN / 100)
        val g = d.select(
          concat(lit("doc:"), col("doc_id")).as("dn"),
          concat(lit("host:"),
            pmod(xxhash64(col("doc_id"), lit(1L)), lit(nh))).as("h"),
          concat(lit("src:"),
            pmod(xxhash64(col("doc_id"), lit(2L)), lit(20L))).as("s"))
        val edges = Seq(("dn", "h"), ("h", "dn"), ("dn", "s"), ("s", "dn"))
          .map { case (a, b) => g.select(col(a).as("src"), col(b).as("dst")) }
          .reduce(_ unionByName _)
        Graph.pageRank(edges, "src", "dst").count()
      },
      // synthetic event stream off the doc ids (column-pruned scan):
      // ~50 events/user, hash-spread timestamps over 30 days, funnel
      // types + noise — user count grows ∝ n so per-user state is flat.
      // probeN is the loop's known row count: deriving it with d.count()
      // here would charge an unrelated corpus-count job to the timing.
      "w6_funnel" -> { d =>
        EventAnalytics.funnelSteps(synthEvents(d, probeN), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase")).count()
      },
      "w7_retention" -> { d =>
        EventAnalytics.retentionCohorts(synthEvents(d, probeN), "user_id", "ts")
          .count()
      },
      // same two-host star synthesis as the query; nh grows with n (the
      // g1 knob discipline) so per-round join keys never concentrate
      "g4_label_prop" -> { d =>
        val nh = math.max(7L, probeN / 100)
        val g = d.select(
          concat(lit("doc:"), col("doc_id")).as("dn"),
          concat(lit("host:"),
            pmod(xxhash64(col("doc_id"), lit(1L)), lit(nh))).as("h1"),
          concat(lit("host:"),
            pmod(xxhash64(col("doc_id"), lit(2L)), lit(nh))).as("h2"))
        val edges = g.select(col("dn").as("src"), col("h1").as("dst"))
          .unionByName(g.select(col("dn").as("src"), col("h2").as("dst")))
        Graph.labelPropagation(edges, "src", "dst", iterations = 4).count()
      },
      "g3_hits" -> { d =>
        // probeN, not d.count(): a count here would charge an unrelated
        // corpus-count job to the timed region (see the synthEvents note)
        val nh = math.max(7L, probeN / 100)
        val g = d.select(
          concat(lit("doc:"), col("doc_id")).as("dn"),
          concat(lit("host:"),
            pmod(xxhash64(col("doc_id"), lit(1L)), lit(nh))).as("h"))
        val edges = Seq(("dn", "h"), ("h", "dn"))
          .map { case (a, b) => g.select(col(a).as("src"), col(b).as("dst")) }
          .reduce(_ unionByName _)
        Graph.hits(edges, "src", "dst", iterations = 6, grid = 10).count()
      },
      "w10_paths" -> { d =>
        EventAnalytics.sessionPaths(synthEvents(d, probeN), "user_id", "ts",
          "ts", "event_type", gap = 1800L * 1000 * 1000 * 1000).count()
      },
      // registry of md5 display names + 10% planted suffix typos — the
      // l1 shape; one range shuffle + rank-bucket join, expect ~linear
      "l1_linkage" -> { d =>
        val base = d.select(col("doc_id").as("id"),
          substring(md5(col("doc_id").cast("string")), 1, 12).as("nm"))
        val dirty = base.filter(col("id") % 10 === 0)
          .select((col("id") + 100000000L).as("id"),
            concat(col("nm"), lit("x")).as("nm"))
        graft.operators.RecordLinkage.linkByName(
          base.unionByName(dirty), "id", "nm", "nm",
          window = 4, maxDist = 2).count()
      },
      // token fan-out grows with the corpus; the sketch aggregate must
      // stay flat-per-row (d*w-bounded shuffle) — expect ~linear
      "t21_cms" -> { d =>
        val toks = d.select(explode(split(col("text"), " ")).as("token"))
        val sk = graft.operators.Sketches.countMinSketch(toks, "token")
        graft.operators.Sketches.cmsEstimate(sk, toks, "token").count()
      },
      // corpus-sized shingle stream through ONE window pass — the
      // novelty share must scale with the shingle count, never the
      // pair count (no self-join exists in the plan)
      "t27_novelty" -> (d =>
        TextAnalytics.ngramNovelty(d, "doc_id", "text", n = 3).count()),
      // token counts scale with the corpus; the fit itself is a
      // policy-bounded top-1000 — expect the count stage to dominate
      "t28_zipf" -> (d =>
        TextAnalytics.zipfFit(d, "text", topK = 1000).count()),
      "w11_transitions" -> { d =>
        EventAnalytics.transitionMatrix(synthEvents(d, probeN),
          "user_id", "ts", "ts", "event_type").count()
      },
      // bucket count is calendar-bounded (30 days × 5 types) at every
      // scale — the count stage should dominate, the window stay flat
      "w12_anomaly" -> { d =>
        EventAnalytics.rateAnomaly(synthEvents(d, probeN),
          "ts", "event_type").count()
      },
      // users ∝ n (synthEvents: ~50 events/user), so the per-user join
      // volume and each conversion's window stay flat — expect ~linear
      "w14_multitouch" -> { d =>
        EventAnalytics.multiTouchAttribution(synthEvents(d, probeN),
          "user_id", "ts", "ts", "event_type",
          convType = "purchase", touchTypes = Seq("view", "click", "signup"),
          lookback = lit(7L * 86400L * 1000000000L)).count()
      },
      // benchmark side grows ∝ n/10 with the corpus (worst case for
      // the broadcast build; real eval suites are fixed-size)
      "c11_contam_report" -> { d =>
        val c = d.withColumn("slice",
          pmod(col("doc_id"), lit(50L)).cast("string"))
        Decontamination.contaminationReport(
          c.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", "slice",
          c.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          n = 4).count()
      },
      // scan-side projection + explode; output rows ∝ sentences
      "t30_sentences" -> (d =>
        TextAnalytics.sentenceSplit(d, "doc_id", "text").count()),
      // pure scan-side replace/length chains; zero shuffle
      "t31_mojibake" -> (d =>
        TextAnalytics.mojibakeStats(d, "doc_id", "text").count()),
      "t32_normalize" -> (d =>
        TextAnalytics.normalizeText(d, "doc_id", "text").count()),
      // the d10 shape on sentence boundaries (synthetic docs have no
      // terminators, so each doc is one "sentence" — the worst case for
      // the canonical aggregate: every exact-dup doc collides whole)
      "d19_sentence_dedup" -> (d =>
        Dedup.sentenceDedup(d, "doc_id", "text").count()),
      // page template around each doc (title/style/script/nav links) —
      // a pure scan-side regex projection; expect flat-to-linear with
      // zero shuffle in the plan
      "t29_html" -> { d =>
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>p{color:#333}</style>" +
            "<script>var x=1;</script></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"), lit("</p>"),
          expr("repeat('<a href=\"/n\">next</a>', " +
            "int(1 + pmod(doc_id, 3)))"),
          lit("</body></html>"))
        TextAnalytics.htmlExtract(
          d.select(col("doc_id"), html.as("html")), "doc_id", "html")
          .count()
      },
      // one map-side-combined struct-extreme aggregate; prompts ∝ n/50
      "h3_pref_pairs" -> { d =>
        graft.operators.Retrieval.preferencePairs(
          d.select(pmod(col("doc_id"), lit(math.max(probeN / 50, 2L)))
              .as("prompt_id"),
            col("doc_id").as("resp_id"),
            length(col("text")).cast("long").as("score")),
          "prompt_id", "resp_id", "score", minMarginE6 = 5L).count()
      },
      // answer-length-bounded token join; expect ~linear in question
      // count
      "e8_qa_f1" -> { d =>
        val w = split(col("text"), " ")
        val ref = concat_ws(" ", slice(w, 1, 6))
        val pred = when(pmod(col("doc_id"), lit(4)) === 0, ref)
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat_ws(" ", slice(w, 1, 4)))
          .otherwise(lit("totally different answer text"))
        graft.operators.Retrieval.qaTokenF1(
          d.select(col("doc_id").as("q_id"), pred.as("answer")),
          d.select(col("doc_id").as("q_id"), ref.as("answer"))).count()
      },
      "ml1_classifier" -> { d =>
        val feats = TextAnalytics.qualityScore(d, "doc_id", "text")
          .select(col("id"),
            (col("quality") >= lit(0.49)).cast("double").as("y"),
            col("stop_ratio").as("x1"), col("uniq_ratio").as("x2"),
            (col("n_tokens").cast("double") / lit(100.0)).as("x3"))
        val m = Classifier.trainSoftsign(
          feats, Seq("x1", "x2", "x3"), "y", rounds = 8)
        Classifier.score(feats, Seq("x1", "x2", "x3"), m).count()
      },
      // round-8 additions: scan-side profiles + the gram-join evals
      "t35_code_quality" -> { d =>
        TextAnalytics.codeQuality(
          d.select(col("doc_id"),
            replace(replace(col("text"), lit(" w1 "), lit("\n// ")),
              lit(" w2 "), lit("\n")).as("text")),
          "doc_id", "text").count()
      },
      "t36_fim" -> (d =>
        TextAnalytics.fimSplit(d, "doc_id", "text").count()),
      // t37 on the Heaps-law corpus ([[synthHeaps]], vocab ∝ √tokens):
      // distinct (center, context) keys now grow ~linearly with the
      // corpus, so a near-1.0 exponent here PROVES the fixed-vocab
      // probe's superlinear reading is pair-space densification, not a
      // plan defect (the fan-out is exactly 2·window rows/token in both)
      "t37h_skipgrams_heaps" -> (_ =>
        TextAnalytics.skipgramPairs(
          spark.read.parquet(s"/tmp/scaleprobe/docs_heaps_$probeN"),
          "text", window = 2, minCount = 3L).count()),
      "t37_skipgrams" -> (d =>
        TextAnalytics.skipgramPairs(d, "text", window = 2,
          minCount = 3L).count()),
      "e11_bleu" -> { d =>
        val p = evalGrid(d)
        graft.operators.Retrieval.bleu(p, "pair_id", "cand", "ref")
          .count()
      },
      // round-10 additions
      "e20_chrf" -> { d =>
        graft.operators.Retrieval.chrF(
          evalGrid(d), "pair_id", "cand", "ref").count()
      },
      "e21_mannwhitney" -> { d =>
        Classifier.mannWhitney(
          d.select(
            when(pmod(col("doc_id"), lit(2)) === 0, lit("a"))
              .otherwise(lit("b")).as("g"),
            (pmod(length(col("text")), lit(97)) +
              when(pmod(col("doc_id"), lit(2)) === 0, 0).otherwise(3))
              .cast("double").as("x")),
          "g", "x").count()
      },
      "t38_backoff" -> { d =>
        TextAnalytics.stupidBackoffLogProb(
          d.filter(pmod(col("doc_id"), lit(2)) === 0), d,
          "doc_id", "text").count()
      },
      // t38 on the Heaps-law corpus (the t37 artifact-isolation pair:
      // a frozen vocabulary densifies the n-gram count tables as the
      // corpus grows; Heaps growth keeps type/token ratios realistic)
      "t38h_backoff_heaps" -> { _ =>
        val d = spark.read.parquet(s"/tmp/scaleprobe/docs_heaps_$probeN")
        TextAnalytics.stupidBackoffLogProb(
          d.filter(pmod(col("doc_id"), lit(2)) === 0), d,
          "doc_id", "text").count()
      },
      "w22_autocorr" -> { d =>
        // hourly buckets over a span that scales with n (calendar-
        // bounded densify is the contract); ~n events across n/50 hours
        val h = 3600L * 1000 * 1000 * 1000
        EventAnalytics.autocorrelation(
          d.select((pmod(col("doc_id"), lit(math.max(probeN / 50, 10L)))
              * h + 1L).as("ts"),
            concat(lit("t"), pmod(col("doc_id"), lit(5)).cast("string"))
              .as("event_type")),
          "ts", "event_type", maxLag = 6).count()
      },
      "j20_windows" -> { d =>
        val span = math.max(1000L, probeN / 10)
        val st = pmod(col("doc_id") * 37, lit(span))
        IntervalDepth.genomeWindows(
          d.select(
            concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
              .as("chrom"),
            st.as("start"),
            (st + 5 + pmod(col("doc_id"), lit(20))).as("stop")),
          "chrom", "start", "stop", windowBp = 256L).count()
      },
      "w23_seasonal" -> { d =>
        val h = 3600L * 1000 * 1000 * 1000
        EventAnalytics.seasonalAnomaly(
          d.select((pmod(col("doc_id"), lit(math.max(probeN / 50, 10L)))
              * h + 1L).as("ts"),
            concat(lit("t"), pmod(col("doc_id"), lit(5)).cast("string"))
              .as("event_type")),
          "ts", "event_type").count()
      },
      "w21_gini" -> { d =>
        EventAnalytics.activityGini(
          d.select(pmod(xxhash64(col("doc_id")), lit(math.max(probeN / 20, 10L)))
            .as("u")), "u").count()
      },
      "d20_source_overlap" -> { d =>
        // sources scale with n (the d17 group-knob discipline); every
        // 3rd doc mirrored so the pair join has real overlap
        val grp = math.max(probeN / 500, 10L)
        val tagged = d.select(col("text"),
          concat(lit("s"), pmod(col("doc_id"), lit(grp)).cast("string"))
            .as("source"))
        Dedup.crossSourceOverlap(
          tagged.unionAll(
            d.filter(pmod(col("doc_id"), lit(3)) === 0)
              .select(col("text"),
                concat(lit("m"),
                  pmod(col("doc_id"), lit(grp)).cast("string"))
                  .as("source"))),
          "text", "source").count()
      },
      "s13_resample" -> { d =>
        Sampling.systematicResample(
          d.select(col("doc_id"),
            pmod(length(col("text")), lit(19)).cast("long").as("w")),
          "doc_id", "w", m = probeN / 4, shardSize = 1024L).count()
      },
      // round-9 additions
      "e15_edit_sim" -> { d =>
        graft.operators.Retrieval.editSimilarity(
          evalGrid(d), "pair_id", "cand", "ref").count()
      },
      "e16_spearman" -> { d =>
        Classifier.spearman(
          d.select(length(col("text")).cast("double").as("x"),
            (length(col("text")) + pmod(col("doc_id"), lit(7)) - lit(3))
              .cast("double").as("y")),
          "x", "y").count()
      },
      "e17_mcnemar" -> { d =>
        Classifier.mcnemar(
          d.select(
            pmod(length(col("text")) + pmod(col("doc_id"), lit(5)), lit(2))
              .as("pa"),
            pmod(length(col("text")) + pmod(col("doc_id"), lit(3)), lit(2))
              .as("pb"),
            pmod(length(col("text")), lit(2)).as("y")),
          "pa", "pb", "y").count()
      },
      "c18_ks_drift" -> { d =>
        graft.operators.Profiling.ksDrift(
          d.filter(pmod(col("doc_id"), lit(2)) === 0)
            .select(length(col("text")).as("v")),
          d.filter(pmod(col("doc_id"), lit(2)) === 1)
            .select((length(col("text")) + lit(3)).as("v")),
          "v").count()
      },
      "s11_sqrt_mixing" -> { d =>
        // domains scale with n (the d17 group-count knob discipline)
        graft.operators.Sampling.sqrtMixingWeights(
          d.select(pmod(col("doc_id"), lit(math.max(probeN / 100, 10L)))
            .cast("string").as("domain")),
          "domain").count()
      },
      "w20_cusum" -> { d =>
        EventAnalytics.cusumChangepoints(
          synthEvents(d, probeN), "ts", "event_type", k = 30L, h = 100L)
          .count()
      },
      // the g5 chain+chord graph: edges 2n, degrees bounded — one
      // degree aggregate + two node joins + a global fold, all ∝ n
      "g7_assortativity" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Graph.assortativity(hop, "src", "dst").count()
      },
      "j19_cluster" -> { d =>
        val span = math.max(1000L, probeN / 10)
        val st = pmod(col("doc_id") * 37, lit(span))
        graft.operators.IntervalJoin.clusterIntervals(
          d.select(col("doc_id").as("iv"),
            concat(lit("c"), pmod(col("doc_id"), lit(20)).cast("string"))
              .as("chrom"),
            st.as("s"),
            (st + 50 + pmod(col("doc_id"), lit(200))).as("e")),
          "chrom", "s", "e", "iv", maxGap = 10L).count()
      },
      "e19_krippendorff" -> { d =>
        Classifier.krippendorffAlpha(
          d.filter(pmod(col("doc_id"), lit(29)) =!= 0)
            .select(expr("doc_id div 4").as("unit"),
              pmod(expr("doc_id div 4") +
                when(pmod(col("doc_id"), lit(7)) === 0, 1L).otherwise(0L),
                lit(3)).cast("string").as("v")),
          "unit", "v").count()
      },
      "e18_regression" -> { d =>
        val y = pmod(length(col("text")), lit(500)).cast("double") / lit(10.0)
        Classifier.regressionMetrics(
          d.select(y.as("y"),
            (y + (pmod(col("doc_id"), lit(21)).cast("double") - lit(10.0)) /
              lit(10.0)).as("p")),
          "y", "p").count()
      },
      "g9_cooccurrence" -> { d =>
        // items-per-key bounded (8) while keys scale with n — the
        // operator's documented envelope
        Graph.cooccurrence(
          d.select(expr("doc_id div 8").as("k"),
            concat(lit("t"), pmod(col("doc_id"), lit(8)).cast("string"))
              .as("item")),
          "k", "item").count()
      },
      // driver twins off: probe the DISTRIBUTED peel (the at-scale
      // path); the driver fast path is O(edges·rounds) trivially
      "g8_kcore" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Guards.distributedOnly(d.sparkSession) {
          Graph.kCore(hop, "src", "dst", k = 3, rounds = 10).count()
        }
      },
      "m8_png_meta" -> { d =>
        val spark2 = d.sparkSession
        import spark2.implicits._
        val payloads = d.select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .map { case (id, text) =>
            val bytes =
              if (id % 11 == 0) text.getBytes("UTF-8")
              else graft.operators.Multimodal.pngChunks(
                width = 1 + (id % 640).toInt,
                height = 1 + (id % 480).toInt,
                bitDepth = 8, colorType = Array(0, 2, 4, 6)((id % 4).toInt),
                nText = (id % 5).toInt, withTrns = id % 7 == 0,
                idatBytes = (id % 64).toInt)
            (id, bytes)
          }.toDF("doc_id", "payload")
        graft.operators.Multimodal.pngMeta(spark2, payloads, "doc_id")
          .count()
      },
      "e12_rouge" -> { d =>
        val p = evalGrid(d)
        graft.operators.Retrieval.rougeN(p, "pair_id", "cand", "ref")
          .count()
      },
      // chain+chord graph: m = 2n edges, every consecutive trio closes
      // a triangle — triangle count grows linearly with n
      "g5_triangles" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Graph.triangles(hop, "src", "dst").count()
      },
      "c13_chat" -> { d =>
        graft.operators.ChatData.conversationStats(
          d.select(expr("doc_id div 6").as("conv"),
            expr("doc_id % 6").as("ord"),
            when(expr("doc_id % 2") === 0, lit("user"))
              .otherwise(lit("assistant")).as("role"),
            col("text")),
          "conv", "ord", "role", "text").count()
      },
      "s10_leakage" -> { d =>
        // group count grows with n so the split stays balanced; every
        // third doc mirrored under another group plants real leaks
        val src = d.select(col("doc_id"), col("text"),
          concat(lit("g"), pmod(col("doc_id"), lit(math.max(40L,
            probeN / 50)))).as("source"))
        val mirrored = src.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            col("text"), lit("mirror").as("source"))
        Sampling.splitLeakageReport(src.unionByName(mirrored),
          "doc_id", "text", "source", 15, 15).count()
      },
      "w16_seasonality" -> (d =>
        EventAnalytics.seasonalityProfile(synthEvents(d, probeN), "ts",
          "event_type").count()),
      "e13_kappa" -> { d =>
        Classifier.cohenKappa(
          d.select(
            element_at(array(lit("good"), lit("ok"), lit("bad")),
              (length(col("text")) % 3 + 1).cast("int")).as("a"),
            element_at(array(lit("good"), lit("ok"), lit("bad")),
              ((length(col("text")) + col("doc_id")) % 3 + 1).cast("int"))
              .as("b")),
          "a", "b").count()
      },
      // players ∝ n/50 so per-player game volume stays flat (the g1
      // host-knob discipline); 8 MM rounds over the pair table
      "e14_bradley_terry" -> { d =>
        val np = math.max(17L, probeN / 50)
        val g = d.select(
            concat(lit("p"), pmod(col("doc_id"), lit(np)).cast("string"))
              .as("w"),
            concat(lit("p"),
              pmod(col("doc_id") * 7 + 3, lit(np)).cast("string")).as("l"))
          .filter(col("w") =!= col("l"))
        graft.operators.Retrieval.bradleyTerry(g, "w", "l").count()
      },
      "g6_powerlaw" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            pmod(col("doc_id") * 31, lit(math.max(64L, probeN / 16)))
              .as("dst")))
        Graph.degreePowerLaw(hop, "src", "dst").count()
      },
      "w17_bot" -> (d =>
        EventAnalytics.botRegularity(
          synthEvents(d, probeN)
            .withColumn("event_id", col("ts")),
          "user_id", "ts", "event_id").count()),
      "c15_manifest" -> { d =>
        Profiling.shardManifest(
          d.withColumn("shard",
            pmod(xxhash64(col("doc_id"), lit(5L)), lit(64L))),
          "doc_id", "text", "shard").count()
      },
      "w18_ab_test" -> { d =>
        EventAnalytics.abSignificance(
          synthEvents(d, probeN)
            .withColumn("variant",
              when(pmod(col("user_id"), lit(2)) === 0, lit("a"))
                .otherwise(lit("b"))),
          "user_id", "event_type", "variant").count()
      },
      // constant-density interval tracks split by parity — merged runs
      // and overlaps both ∝ n
      "j18_jaccard" -> { d =>
        def track(p: Int, m: Int) = d.filter(col("doc_id") % 2 === p)
          .select(concat(lit("c"), pmod(col("doc_id"), lit(20)))
            .as("chrom"),
            (col("doc_id") * m % (probeN * 4)).as("s"),
            (col("doc_id") * m % (probeN * 4) + 50 +
              col("doc_id") % 200).as("e"))
        graft.operators.IntervalJoin.intervalJaccard(
          track(0, 37), track(1, 41),
          "chrom", "s", "e", "chrom", "s", "e").count()
      },
      // round-11 additions: keyness/lexical richness are the t10/t7
      // shuffle skeleton (hash-keyed map-side-combined term counts);
      // w24 is one (user,type)-keyed window + a per-type rollup; s14 is
      // stratum-aggregate + dim window; c20 is a scan-side regex CASE +
      // tiny rollup; g10's deg-capped wedge join bounds fan-out; ml2 is
      // two count passes + a classes-fan-out scoring join; e23 is a
      // classes²-grid fold
      "t39_keyness" -> (d =>
        TextAnalytics.keyness(d, "doc_id", "text",
          pmod(col("doc_id"), lit(10)) === 0, minCount = 5).count()),
      "t40_lexrich" -> (d =>
        TextAnalytics.lexicalRichness(d, "doc_id", "text").count()),
      "t41_vocab_growth" -> (d =>
        TextAnalytics.vocabularyGrowth(d, "doc_id", "text").count()),
      // t39h: the Heaps-vocab pair (V = 10·√T) — isolates whether
      // t39's fixed-vocab top-decade slope is pair-space densification
      // or a plan defect (the t37/t38 artifact-isolation discipline)
      "t39h_keyness" -> { d =>
        val s2 = d.sparkSession
        TextAnalytics.keyness(synthHeaps(s2, probeN), "doc_id", "text",
          pmod(col("doc_id"), lit(10)) === 0, minCount = 5).count()
      },
      "w24_interarrival" -> (d =>
        EventAnalytics.interArrival(synthEvents(d, probeN),
          "user_id", "ts", "event_type").count()),
      "w25_growth" -> (d =>
        EventAnalytics.growthAccounting(synthEvents(d, probeN),
          "user_id", "ts").count()),
      "s14_neyman" -> (d =>
        Sampling.neymanAllocation(
          d.select(pmod(col("doc_id"), lit(20)).cast("string").as("s"),
            length(col("text")).cast("long").as("x")),
          "s", "x", 1000L).count()),
      "c20_license" -> (d =>
        Profiling.licenseScan(
          d.withColumn("source",
            pmod(col("doc_id"), lit(8)).cast("string")),
          "doc_id", "text", "source").count()),
      "g10_adamic" -> { d =>
        val hop = d
          .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
          .unionByName(d.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .filter(col("dst") < lit(probeN))
        Graph.adamicAdar(hop, "src", "dst").count()
      },
      "ml2_nb" -> { d =>
        Classifier.naiveBayes(
          d.filter(col("doc_id") % 3 =!= 0)
            .withColumn("label",
              pmod(col("doc_id"), lit(5)).cast("string")),
          d.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", "label").count()
      },
      "e23_report" -> { d =>
        Classifier.multiclassReport(
          d.select(pmod(col("doc_id"), lit(7)).cast("string").as("y"),
            pmod(col("doc_id") * 31, lit(7)).cast("string").as("p")),
          "y", "p").count()
      },
      // e24: items×reps md5 fan-out is the deliberate portability
      // price — CPU-linear in items, map-side-combined per replicate
      "e24_bootstrap" -> (d =>
        Classifier.bootstrapAccuracyCI(
          d.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(5)) =!= 0, 1L).otherwise(0L)
              .as("c")),
          "doc_id", "c", reps = 200).count()),
      // e25: the e24 fan-out shape with two label columns — same
      // CPU-linear md5 cost, one extra sum per replicate
      "e25_bootstrap_delta" -> (d =>
        Classifier.bootstrapDeltaCI(
          d.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(5)) =!= 0, 1L).otherwise(0L)
              .as("a"),
            when(pmod(col("doc_id"), lit(4)) =!= 0, 1L).otherwise(0L)
              .as("b")),
          "doc_id", "a", "b", reps = 200).count()),
      // m12: directory-walk-bound construct→parse, the m8/m10/m11
      // bytes-scanned class — probed for the construct cost envelope
      "m12_zip_meta" -> { d =>
        val s2 = d.sparkSession
        import s2.implicits._
        val payloads = d.select(col("doc_id")).as[Long].map { id =>
          (id, graft.operators.Multimodal.zipBytes(
            (0 until (1 + (id % 4)).toInt).map(i =>
              (s"e$i", Array.tabulate((5 + id % 9).toInt)(j =>
                ((id + j) % 128).toByte)))))
        }.toDF("doc_id", "payload")
        graft.operators.Multimodal.zipMeta(s2, payloads, "doc_id").count()
      },
      "v20_cosine_hist" -> (d =>
        Similarity.cosineHistogram(
          synthEmb(d.sparkSession, probeN), "vec_id", "embedding")
          .count()),
      "g11_lift" -> { d =>
        val grp = math.max(probeN / 50, 20L)
        Graph.cooccurrenceLift(
          d.select(pmod(xxhash64(col("doc_id"), lit(21L)), lit(grp))
              .as("k"),
            pmod(xxhash64(col("doc_id"), lit(22L)), lit(40L))
              .cast("string").as("item")),
          "k", "item").count()
      },
      // ---- round-12 additions -------------------------------------
      "t42_spectrum" -> { d =>
        // value action, not count(): the zero-fill spine is a
        // constant-row left join Catalyst would eliminate under count
        TextAnalytics.frequencySpectrum(d, "text")
          .agg(sum("n_types")).collect()
        11L
      },
      "t43_dispersion" -> (d =>
        TextAnalytics.dispersion(
          d.select(pmod(xxhash64(col("doc_id"), lit(31L)), lit(8))
            .cast("string").as("source"), col("text")),
          "source", "text").count()),
      "t44_sttr" -> (d =>
        TextAnalytics.sttr(d, "doc_id", "text", segLen = 20).count()),
      "w26_entropy" -> (d =>
        EventAnalytics.entropyRate(
          synthEvents(d, probeN).withColumn("eid", col("ts")),
          "user_id", "ts", "eid", "event_type").count()),
      "e26_fleiss" -> (d =>
        Classifier.fleissKappa(
          d.select(col("doc_id").as("item"),
            explode(sequence(lit(1), lit(3))).as("r"), col("text"))
            .select(col("item"),
              pmod(length(col("text")) +
                col("r") * pmod(col("item"), lit(5)), lit(4))
                .cast("string").as("cat")),
          "item", "cat").count()),
      "e27_wilcoxon" -> (d =>
        Classifier.wilcoxonSignedRank(
          d.select(col("doc_id"),
            pmod(length(col("text")), lit(50)).as("a"),
            pmod(length(col("text")) + col("doc_id") * 7, lit(50))
              .as("b")),
          "doc_id", "a", "b").count()),
      "g12_rich_club" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .unionByName(ids.select(col("doc_id").as("src"),
            pmod(col("doc_id"), lit(math.max(probeN / 100, 50L)))
              .as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        // value action: the k spine is a constant-row left join
        Graph.richClub(hop, "src", "dst").agg(sum("n_edges")).collect()
        16L
      },
      "g13_reciprocity" -> { d =>
        val ids = d.select(col("doc_id"))
        Graph.reciprocity(
          ids.select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
            .unionByName(ids.filter(pmod(col("doc_id"), lit(3)) === 0)
              .select(col("doc_id").as("src"),
                (col("doc_id") - 1).as("dst")))
            .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
              "left_semi"),
          "src", "dst").count()
      },
      "ml3_linreg" -> (d =>
        Classifier.linearRegressionFit(
          d.select(pmod(length(col("text")), lit(100000)).as("y"),
            pmod(size(split(col("text"), " ")), lit(100000)).as("x1"),
            pmod(col("doc_id"), lit(100)).as("x2")),
          "y", "x1", "x2").count()),
      "w27_survival" -> (d =>
        EventAnalytics.survivalCurve(
          synthEvents(d, probeN), "user_id", "ts").count()),
      "w28_fano" -> (d =>
        EventAnalytics.fanoFactor(
          synthEvents(d, probeN), "ts", "event_type").count()),
      "g14_knn_curve" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .unionByName(ids.select(col("doc_id").as("src"),
            pmod(col("doc_id"), lit(math.max(probeN / 100, 50L)))
              .as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Graph.avgNeighborDegree(hop, "src", "dst").count()
      },
      "d22_cluster_hist" -> (d =>
        Dedup.clusterSizeHistogram(Dedup.duplicateClusters(
          Dedup.minHashLshPairs(d, "doc_id", "text")
            .select("id_a", "id_b"))).count()),
      "t45_jsd" -> (d =>
        TextAnalytics.termJsd(d, "text",
          pmod(col("doc_id"), lit(10)) === 0).count()),
      "e28_kendall" -> (d =>
        Classifier.kendallTauA(
          d.select(pmod(length(col("text")), lit(50)).as("a"),
            pmod(length(col("text")) + col("doc_id") * 7, lit(50))
              .as("b")),
          "a", "b").count()),
      "m14_webdataset" -> { d =>
        val s2 = d.sparkSession
        import s2.implicits._
        val payloads = d.select(col("doc_id")).as[Long].map { id =>
          val nk = 1 + (id % 3).toInt
          (id, graft.operators.Multimodal.tarBytes(
            (0 until nk).flatMap { k =>
              Seq((s"s$k.txt", Array.tabulate(6)(j =>
                ((id + j) % 128).toByte))) ++
                (if ((id + k) % 5 == 0) Nil
                 else Seq((s"s$k.bin", Array.tabulate(4)(j =>
                   ((id + k + j) % 128).toByte))))
            }))
        }.toDF("doc_id", "payload")
        graft.operators.Multimodal.webdatasetPairing(
          s2, payloads, "doc_id", Seq("txt", "bin")).count()
      },
      // m13: header-walk-bound construct→parse, the m12 class
      "m13_tar_meta" -> { d =>
        val s2 = d.sparkSession
        import s2.implicits._
        val payloads = d.select(col("doc_id")).as[Long].map { id =>
          (id, graft.operators.Multimodal.tarBytes(
            (0 until (1 + (id % 4)).toInt).map(i =>
              (s"e$i", Array.tabulate((5 + id % 9).toInt)(j =>
                ((id + j) % 128).toByte)))))
        }.toDF("doc_id", "payload")
        graft.operators.Multimodal.tarMeta(s2, payloads, "doc_id").count()
      },
      // d21: both shingle-overlap scores from the ONE-pass core — the
      // d2 probe's cost shape is the contract; this pins the combined
      // operator to it (a second shingle pass would read as ~2× d2)
      "d21_jac_contain" -> (d =>
        Dedup.ngramJaccardAndContainment(d, "doc_id", "text", n = 3,
          jaccardThreshold = 0.6, containThreshold = 0.9).count()),
      // VERDICT-r10 #6: the FACADE chain timed as ONE lineage —
      // curation → exact dedup → near dedup → weight → systematic
      // resample → sequence pack. The per-operator probes above bound
      // each stage; this catches CROSS-stage effects (lineage growth
      // through five stacked joins, checkpoint placement, AQE replans
      // of replayed subtrees) that no single-stage probe can see.
      // gateQuality(0.0) keeps the gate expression in the plan without
      // emptying the synthetic corpus (hash-word text scores near 0).
      "chain_pipeline" -> { d =>
        val m = math.max(1000L, probeN / 2)
        val curated = graft.CorpusPipeline(d, "doc_id", "text")
          .gateQuality(0.0)
          .redactPii()
          .dedupExact()
          .dedupNear(0.8)
          .df
          .withColumn("w", size(split(col("text"), " ")).cast("long"))
        val resampled = graft.CorpusPipeline(curated, "doc_id", "text")
          .resample("w", m)
        graft.operators.Sharding.sequencePack(
          resampled.df, "doc_id", "w", contextLen = 2048L).count()
      },
      // ---- round-13 additions ----
      "e29_cochran" -> (d =>
        Classifier.cochranQ(
          d.select(col("doc_id").as("item"),
            explode(sequence(lit(0), lit(2))).as("j"))
            .select(col("item"), concat(lit("j"), col("j")).as("judge"),
              (pmod(col("item") * (lit(7) + col("j")) + col("j") * col("j"),
                lit(13)) < lit(5) + col("j")).as("ok")),
          "item", "judge", "ok").count()),
      "e30_cliffs" -> (d =>
        Classifier.cliffsDelta(
          d.select(when(pmod(col("doc_id"), lit(2)) === 0, lit("a"))
            .otherwise(lit("b")).as("g"),
            pmod(length(col("text")), lit(200)).as("v")),
          "g", "v").count()),
      "ml4_ridge" -> (d =>
        Classifier.ridgeRegressionFit(
          d.select(pmod(length(col("text")), lit(100000)).as("y"),
            pmod(size(split(col("text"), " ")), lit(100000)).as("x1"),
            pmod(col("doc_id"), lit(100)).as("x2")),
          "y", "x1", "x2", lambda = 1000L).count()),
      "w29_benford" -> (d =>
        EventAnalytics.benfordFirstDigit(
          synthEvents(d, probeN).select(
            (col("ts") % 9973 + lit(1)).cast("double").as("value")),
          "value").count()),
      "t46_burstiness" -> (d =>
        TextAnalytics.termBurstiness(d, "doc_id", "text").count()),
      "d23_cdc" -> (d =>
        Dedup.cdcChunkPairs(d, "doc_id", "text").count()),
      // d23 on the Heaps-law corpus: the fixed-vocab synth densifies
      // chunk dfs ∝ n (the t37/t38h artifact class); this is the
      // realistic-growth read
      "d23h_cdc_heaps" -> (d =>
        Dedup.cdcChunkPairs(synthHeaps(d.sparkSession, probeN),
          "doc_id", "text").count()),
      "g15_modularity" -> { d =>
        val g = d.select(
          concat(lit("doc:"), col("doc_id")).as("dn"),
          concat(lit("host:"), pmod(col("doc_id"), lit(29)).cast("string"))
            .as("h1"),
          concat(lit("host:"),
            pmod(col("doc_id") * 7, lit(29)).cast("string")).as("h2"))
        val edges = g.select(col("dn").as("src"), col("h1").as("dst"))
          .unionByName(g.select(col("dn").as("src"), col("h2").as("dst")))
        Graph.modularity(edges,
          Graph.labelPropagation(edges, "src", "dst", iterations = 4),
          "src", "dst", "node", "label").count()
      },
      "h5_query_lm" -> (d =>
        // synth text is hash words; use three guaranteed-present terms
        TextAnalytics.queryLikelihood(d, "doc_id", "text",
          Seq("w0", "w1", "w2")).count()),
      "s15_kfold" -> (d =>
        Sampling.kFoldReport(
          d.select(pmod(col("doc_id"), lit(29)).cast("string").as("g"),
            pmod(col("doc_id"), lit(3)).cast("string").as("l")),
          "g", "l").count()),
      "m15_tiff_meta" -> { d =>
        val s2 = d.sparkSession
        import s2.implicits._
        val payloads = d.select(col("doc_id")).as[Long].map { id =>
          (id, graft.operators.Multimodal.tiffBytes(
            width = 1 + (id % 64).toInt, height = 1 + (id % 48).toInt,
            bitsPerSample = Array(1, 4, 8, 16, 32)((id % 5).toInt),
            compression = Array(1, 5, 7, 32773)((id % 4).toInt),
            bigEndian = id % 3 == 0, longDims = id % 2 == 0))
        }.toDF("doc_id", "payload")
        graft.operators.Multimodal.tiffMeta(s2, payloads, "doc_id").count()
      },
      // ---- round-13 additions, second batch ----
      "e31_mcc" -> (d =>
        Classifier.matthewsCorrelation(
          d.select((pmod(col("doc_id"), lit(7)) < 3).as("t"),
            (pmod(length(col("text")) + col("doc_id"), lit(7)) < 3)
              .as("p")),
          "t", "p").count()),
      "e32_friedman" -> (d =>
        Classifier.friedmanTest(
          d.select(col("doc_id").as("blk"),
            explode(sequence(lit(0), lit(2))).as("j"))
            .select(col("blk"), concat(lit("s"), col("j")).as("trt"),
              pmod(col("blk") * (lit(3) + col("j")) + col("j"), lit(25))
                .as("v")),
          "blk", "trt", "v").count()),
      "e33_cohens_d" -> (d =>
        Classifier.cohensD(
          d.select(when(pmod(col("doc_id"), lit(2)) === 0, lit("a"))
            .otherwise(lit("b")).as("g"),
            pmod(length(col("text")), lit(5000)).as("v")),
          "g", "v").count()),
      "ml5_stump" -> (d =>
        Classifier.decisionStump(
          d.select(length(col("text")).cast("long").as("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            pmod(col("doc_id"), lit(5)).cast("string").as("cls")),
          Seq("n_chars", "n_tokens"), "cls").count()),
      "w30_nelson_aalen" -> (d =>
        EventAnalytics.nelsonAalen(
          synthEvents(d, probeN), "user_id", "ts").count()),
      "g16_transitivity" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Graph.transitivity(hop, "src", "dst").count()
      },
      "t47_good_turing" -> (d =>
        TextAnalytics.goodTuring(d, "text").count()),
      "m16_webp_meta" -> { d =>
        val s2 = d.sparkSession
        import s2.implicits._
        val payloads = d.select(col("doc_id")).as[Long].map { id =>
          (id, graft.operators.Multimodal.webpBytes(
            width = 1 + (id % 500).toInt, height = 1 + (id % 333).toInt,
            variant = Seq("lossy", "lossless", "extended")((id % 3).toInt),
            alpha = id % 4 == 0, animation = id % 5 == 0,
            exifChunk = id % 2 == 0))
        }.toDF("doc_id", "payload")
        graft.operators.Multimodal.webpMeta(s2, payloads, "doc_id").count()
      },
      "v22_jl" -> { d =>
        val e = synthEmb(d.sparkSession, probeN)
        val signs = Similarity.jlSigns(16, 64)
        Similarity.jlTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "vec_id", "embedding", signs, k = 10).count()
      },
      "h6_rocchio" -> { d =>
        val e = synthEmb(d.sparkSession, probeN)
        Similarity.rocchioRerank(e.filter(col("vec_id") < 20), e,
          "vec_id", "vec_id", "embedding", k = 10).count()
      },
      "e34_kruskal" -> (d =>
        Classifier.kruskalWallis(
          d.select(concat(lit("s"), pmod(col("doc_id"), lit(5))).as("g"),
            pmod(length(col("text")), lit(200)).as("v")),
          "g", "v").count()),
      "w31_lorenz" -> (d =>
        EventAnalytics.lorenzCurve(
          synthEvents(d, probeN), "user_id").count()),
      "g17_edge_support" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Graph.edgeSupport(hop, "src", "dst").count()
      },
      "h7_jm_lm" -> (d =>
        TextAnalytics.queryLikelihoodJm(d, "doc_id", "text",
          Seq("w0", "w1", "w2")).count()),
      "e35_nemenyi" -> (d =>
        Classifier.nemenyiPosthoc(
          d.select(col("doc_id").as("blk"),
            explode(sequence(lit(0), lit(2))).as("j"))
            .select(col("blk"), concat(lit("s"), col("j")).as("trt"),
              pmod(col("blk") * (lit(3) + col("j")) + col("j"), lit(25))
                .as("v")),
          "blk", "trt", "v").count()),
      "g18_bfs" -> { d =>
        val ids = d.select(col("doc_id"))
        val hop = ids.select(col("doc_id").as("src"),
            (col("doc_id") + 1).as("dst"))
          .unionByName(ids.select(col("doc_id").as("src"),
            (col("doc_id") + 2).as("dst")))
          .join(ids.select(col("doc_id").as("dst")), Seq("dst"),
            "left_semi")
        Graph.bfsDistances(hop, "src", "dst",
          seeds = (0 until 8).map(_.toString), maxDepth = 10).count()
      },
      "t48_code_switch" -> (d =>
        // plant sentence boundaries + markers so the rollup has
        // something to classify (the synth corpus has neither)
        TextAnalytics.codeSwitchReport(
          d.select(col("doc_id"),
            concat(col("text"), lit(". "),
              when(pmod(col("doc_id"), lit(2)) === 0,
                lit("the cat of the house is big."))
                .otherwise(lit("el perro de la casa es que grande.")),
              when(pmod(col("doc_id"), lit(5)) === 0,
                lit(" le chat et les chiens est."))
                .otherwise(lit(""))).as("text")),
          "doc_id", "text").count()))

    // the m2/m4 synthetic image corpus (one 16×18 PNG per embedding)
    def probeImages(e: DataFrame): DataFrame = {
      val s2 = e.sparkSession
      import s2.implicits._
      e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, emb) =>
          val grid = Array.tabulate(16, 18) { (y, x) =>
            val v = emb((y * 18 + x) % emb.length)
            20 + (math.abs(v * 1000).toInt % 210)
          }
          (id, graft.operators.Multimodal.grayPng(grid))
        }.toDF("vec_id", "payload")
    }

    val vecOps: Seq[(String, DataFrame => Long)] = Seq(
      "v1_cosine_topk" -> (e => Similarity.cosineTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", k = 5).count()),
      "v2_ann_lsh" -> (e => Similarity.annLshTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", k = 5).count()),
      "v3_ann_ivf" -> { e =>
        val c = e.filter(col("vec_id") >= 10)
        val m = Similarity.ivfTrain(c, "vec_id", "embedding",
          nlist = 16, iters = 2)
        Similarity.annIvfTopK(e.filter(col("vec_id") < 10), c,
          "vec_id", "vec_id", "embedding", k = 5, m, nprobe = 3).count()
      },
      "v6_pq_adc" -> { e =>
        val c = e.filter(col("vec_id") >= 10)
        val m = Similarity.pqTrain(c, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 2)
        Similarity.pqTopK(e.filter(col("vec_id") < 10), c,
          "vec_id", "vec_id", "embedding", k = 5, m).count()
      },
      "v13_ivf_pq" -> { e =>
        val c = e.filter(col("vec_id") >= 10)
        val ivf = Similarity.ivfTrain(c, "vec_id", "embedding",
          nlist = 16, iters = 2)
        val pq = Similarity.pqTrain(c, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 2)
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), c,
          "vec_id", "vec_id", "embedding", k = 5, ivf, pq, nprobe = 3).count()
      },
      "v10_hamming_topk" -> (e => Similarity.hammingTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", k = 5).count()),
      // fixed query-side corpus (the v1 probe discipline: the dense
      // grid is |L|·|R|, so the broadcastable side stays constant and
      // cost tracks |R| ~linearly; corpus×corpus mining swaps the grid
      // for the LSH/IVF gate per SCALE.md)
      "v21_silhouette" -> { e =>
        val m = Similarity.ivfTrain(e, "vec_id", "embedding",
          nlist = 8, iters = 2)
        Similarity.silhouette(e, "vec_id", "embedding", m).count()
      },
      "v16_margin" -> (e => Similarity.marginMining(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", k = 5).count()),
      // fixed query side (the v1/v16 probe discipline): candidates are
      // per-query top-20, so pair volume is queries x 400 at any n
      "v17_mmr" -> { e =>
        val cands = Similarity.cosineTopK(
            e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
            "vec_id", "vec_id", "embedding", k = 20)
          .select(col("q_id"), col("c_id"),
            floor(col("sim") * 1000 + lit(0.5)).cast("long").as("rel_e3"))
        Similarity.mmrRerank(cands, "q_id", "c_id", "rel_e3",
          e, "vec_id", "embedding", k = 5, lambdaPct = 70).count()
      },
      // labels synthesized off vec_id; the vote is candidate-sized
      "v18_knn" -> { e =>
        graft.operators.Classifier.knnClassify(
          e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10)
            .withColumn("label", pmod(col("vec_id"), lit(5)).cast("int")),
          "vec_id", "vec_id", "embedding", "label", k = 7).count()
      },
      // near-dup banding and cluster blocking carry their documented
      // scale knobs here, exactly as a real deployment would set them:
      // 16-bit bands (vs the default 8) keep random-pair collisions at
      // 2^-16 per band so candidates stay ~linear on a corpus whose
      // non-dup pairs are near-orthogonal, and nlist grows with n so
      // within-cluster pair cost n²/nlist stays ∝ n. With the 8-bit /
      // fixed-nlist defaults the candidate volume is n²/2^planes —
      // quadratic by construction on uniform vectors (OOMs at 80k).
      "d5_embed_neardup" -> (e => Dedup.embeddingNearDupPairs(
        e, "vec_id", "embedding", threshold = 0.9,
        bands = 16, planesPerBand = 16).count()),
      "d8_semdedup" -> { e =>
        val n = e.count()
        val m = Similarity.ivfTrain(e, "vec_id", "embedding",
          nlist = math.max(16, (n / 250).toInt), iters = 2)
        Dedup.semanticDedup(e, "vec_id", "embedding", m,
          threshold = 0.9).count()
      },
      "v7_standardize" -> (e =>
        Pca.standardize(e, "vec_id", "embedding").count()),
      "v8_covariance" -> (e =>
        Pca.covariance(e, "vec_id", "embedding").count()),
      "v9_pca_project" -> { e =>
        val m = Pca.train(e, "vec_id", "embedding", k = 4)
        Pca.project(e, "vec_id", "embedding", m).count()
      },
      // fused single-decode featurizer vs running both per-feature ops:
      // the delta is exactly one PNG decode per image
      "m24_two_pass" -> { e =>
        val imgs = probeImages(e)
        graft.operators.Multimodal.imageDHashes(spark, imgs, "vec_id")
          .count() +
          graft.operators.Multimodal
            .imageThumbnails(spark, imgs, "vec_id", tw = 6, th = 6).count()
      },
      "m24_fused" -> (e =>
        graft.operators.Multimodal
          .imageFeatures(spark, probeImages(e), "vec_id", tw = 6, th = 6)
          .count()))

    val scales = Iterator.iterate(maxDocs / 16)(_ * 4)
      .takeWhile(_ <= maxDocs).toSeq
    val results = scala.collection.mutable.Map.empty[(String, Long), Double]
    for (n <- scales) {
      probeN = n
      val path = s"/tmp/scaleprobe/docs_$n"
      synth(spark, n).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      val epath = s"/tmp/scaleprobe/emb_$n"
      synthEmb(spark, n).write.mode("overwrite").parquet(epath)
      val emb = spark.read.parquet(epath)
      // Heaps-law corpus, materialized OUTSIDE any timed region (only
      // when a t37h op is selected — it is that probe's sole consumer)
      if (ops.exists { case (nm, _) =>
        opFilter(nm) && nm.contains("heaps") })
        synthHeaps(spark, n).write.mode("overwrite")
          .parquet(s"/tmp/scaleprobe/docs_heaps_$n")
      // gVCF cohort files for the vcf_pipeline probe — written on the
      // driver OUTSIDE the timed region (pipeline INPUT, not pipeline)
      if (ops.exists { case (nm, _) =>
        opFilter(nm) && nm.startsWith("vcf") })
        synthCohort(n, s"/tmp/scaleprobe/cohort_$n")
      for ((name, run) <- ops if opFilter(name)) {
        val t0 = System.nanoTime()
        val rows = run(docs)
        val sec = (System.nanoTime() - t0) / 1e9
        results((name, n)) = sec
        println(f"PROBE $name%-16s n=$n%-6d rows=$rows%-8d sec=$sec%.2f")
        // release the previous op's localCheckpoint blocks (ContextCleaner
        // frees them on GC of the dropped references) — without this the
        // checkpointed indexes of every prior op accumulate in storage
        // memory and large scales die on accumulated, not per-op, state
        System.gc()
      }
      for ((name, run) <- vecOps if opFilter(name)) {
        val t0 = System.nanoTime()
        val rows = run(emb)
        val sec = (System.nanoTime() - t0) / 1e9
        results((name, n)) = sec
        println(f"PROBE $name%-16s n=$n%-6d rows=$rows%-8d sec=$sec%.2f")
        // release the previous op's localCheckpoint blocks (ContextCleaner
        // frees them on GC of the dropped references) — without this the
        // checkpointed indexes of every prior op accumulate in storage
        // memory and large scales die on accumulated, not per-op, state
        System.gc()
      }
    }
    // growth exponent between successive scales: 1.0 = linear, 2.0 = quadratic
    for ((name, _) <- (ops ++ vecOps).filter(o => opFilter(o._1));
        w <- scales.sliding(2) if w.size == 2) {
      val Seq(a, b) = w
      val e = math.log(results((name, b)) / results((name, a))) /
        math.log(b.toDouble / a)
      println(f"EXP $name%-16s ${a}->${b}: $e%.2f")
    }
    spark.stop()
  }
}
