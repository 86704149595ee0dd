package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.functions.VectorFunctions._

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("FloatDotProduct matches scala computation (eval + codegen)") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(fdot($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - (1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)) < 1e-12)
    assert(got(1) == 0.0)
    // null propagation
    val withNull = df.select(fdot(lit(null).cast("array<float>"), $"b"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("cosineTopK matches brute-force ranking on real embeddings") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val c = emb.filter($"vec_id" >= 3)
    val got = Similarity.cosineTopK(q, c, "vec_id", "vec_id", "embedding", k = 4)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    // driver-side brute force
    val qv = q.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val cv = c.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((qid, vec) <- qv) {
      val want = cv.map { case (cid, cvec) =>
        (cid, math.round(cos(vec, cvec) * 1000) / 1000.0)
      }.sortBy { case (cid, s) => (-s, cid) }.take(4).map(_._1).toSeq
      assert(got(qid) == want, s"query $qid")
    }
  }

  test("IVF with nprobe == nlist equals exact brute force") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 4)
    val c = emb.filter($"vec_id" >= 4)
    val model = Similarity.ivfTrain(c, "vec_id", "embedding", nlist = 4, iters = 2)
    assert(model.centroids.size == 4)
    assert(model.centroids.forall(_.size == 64))
    val exact = Similarity.cosineTopK(q, c, "vec_id", "vec_id", "embedding", k = 5)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivfAll = Similarity.annIvfTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, model, nprobe = 4)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivfAll == exact) // probing every bucket degrades to exhaustive
    // partial probe: at most k per query, sims exact for what's returned
    val ivf1 = Similarity.annIvfTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, model, nprobe = 1)
    assert(ivf1.groupBy("q_id").count().as[(Long, Long)].collect().forall(_._2 <= 5))
  }

  test("ivfPqTopK with nprobe == nlist equals ungated pqTopK") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 4)
    val c = emb.filter($"vec_id" >= 4)
    val ivf = Similarity.ivfTrain(c, "vec_id", "embedding", nlist = 4, iters = 2)
    val pq = Similarity.pqTrain(c, "vec_id", "embedding", m = 8, ksub = 8, iters = 2)
    val ungated = Similarity.pqTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, pq)
      .select("q_id", "c_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val gatedAll = Similarity.ivfPqTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, ivf, pq, nprobe = 4)
      .select("q_id", "c_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // probing every cell removes the gate: ADC ranking must be identical
    assert(gatedAll == ungated)
    // partial probe still returns at most k per query and a subset of
    // each query's cell-gated candidates
    val gated1 = Similarity.ivfPqTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, ivf, pq, nprobe = 1)
    assert(gated1.groupBy("q_id").count().as[(Long, Long)].collect()
      .forall(_._2 <= 5))
  }

  test("annLshTopK returns exact-scored subset of candidates") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val c = emb.filter($"vec_id" >= 5)
    val ann = Similarity.annLshTopK(q, c, "vec_id", "vec_id", "embedding", k = 3)
    val rows = ann.select("q_id", "c_id", "sim").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // per-query at most k results, sims within [-1, 1]
    rows.groupBy(_._1).foreach { case (_, rs) => assert(rs.length <= 3) }
    assert(rows.forall { case (_, _, s) => s >= -1.0001 && s <= 1.0001 })
    // every (q,c) sim equals the brute-force cosine (precision 1)
    val brute = Similarity.cosineTopK(q, c, "vec_id", "vec_id", "embedding",
        k = Int.MaxValue)
      .select("q_id", "c_id", "sim").as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    assert(rows.forall { case (a, b, s) => brute((a, b)) == s })
  }

  test("materialized IVF index: dynamic partition pruning + same results as in-memory probe") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val c = emb.filter($"vec_id" >= 5)
    val model = Similarity.ivfTrain(c, "vec_id", "embedding", nlist = 8, iters = 2)
    val dest = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/index"
    Similarity.writeIvfIndex(c, "vec_id", "embedding", model, dest)

    val fromIndex = Similarity.annIvfTopKFromIndex(
      spark, dest, q, "vec_id", "embedding", k = 4, model, nprobe = 3)
    val inMemory = Similarity.annIvfTopK(
      q, c, "vec_id", "vec_id", "embedding", k = 4, model, nprobe = 3)
    val a = fromIndex.select("q_id", "c_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val b = inMemory.select("q_id", "c_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(a == b)
    assert(a.nonEmpty)

    // the broadcast probe list must drive partition pruning on the index
    // scan: only the probed cluster directories are read
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the index scan:\n$plan")
  }

  test("k-means training is bit-deterministic across partition layouts") {
    // the determinism contract behind the v3/v5/v6/d8/s6 oracles:
    // grid-quantized decimal centroid sums are aggregation-order-
    // independent, so the trained model must be bit-identical whatever
    // the physical partitioning — a plain float avg() would not be
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val layouts = Seq(emb.repartition(1), emb.repartition(7, $"vec_id"),
      emb.repartition(32))
    val ivf = layouts.map(d =>
      Similarity.ivfTrain(d, "vec_id", "embedding", nlist = 4, iters = 2,
        portable = true).centroids)
    assert(ivf.tail.forall(_ == ivf.head), "IVF centroids differ by layout")
    val pq = layouts.map(d =>
      Similarity.pqTrain(d, "vec_id", "embedding", m = 8, ksub = 4,
        iters = 2, portable = true).subCentroids)
    assert(pq.tail.forall(_ == pq.head), "PQ codebooks differ by layout")
  }

  test("pqEncode matches brute-force per-subspace argmin") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 4, iters = 2)
    assert(model.m == 8 && model.ksub == 4 && model.dsub == 8)
    val coded = Similarity.pqEncode(emb.limit(40), "embedding", model)
      .select($"vec_id", $"embedding", $"pq_code")
      .as[(Long, Array[Float], Seq[Int])].collect()
    for ((_, v, code) <- coded; j <- 0 until model.m) {
      val sub = v.slice(j * model.dsub, (j + 1) * model.dsub)
      val want = model.subCentroids(j).zipWithIndex.minBy { case (c, i) =>
        (sub.zip(c).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum, i)
      }._2
      assert(code(j) == want, s"subspace $j")
    }
  }

  test("pq reconstruction error shrinks as the codebook grows") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    def avgErr(ksub: Int): Double = {
      val model = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, ksub = ksub, iters = 2)
      Similarity.pqReconError(emb, "vec_id", "embedding", model)
        .agg(avg("recon_err")).as[Double].head()
    }
    val e1 = avgErr(1) // codebook = per-subspace mean — the floor baseline
    val e16 = avgErr(16)
    assert(e16 < e1, s"ksub=16 err $e16 not below ksub=1 err $e1")
    assert(e16 > 0.0 && e1 < 1.5)
  }

  test("pqTopK ADC equals exact cosine when candidates are codebook points") {
    // hand-built quantizer: 2 subspaces × 2 centroids, dsub = 2; candidates
    // sit exactly on codebook combinations, so reconstruction is lossless
    // and ADC must reproduce exact cosine ranking.
    val model = Similarity.PqModel(Seq(
      Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      Seq(Seq(1.0f, 1.0f), Seq(-1.0f, 2.0f))))
    val cands = (for {
      a <- model.subCentroids(0); b <- model.subCentroids(1)
    } yield a ++ b).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    val qs = Seq((100L, Array(0.3f, 0.9f, 1.0f, 0.5f)),
      (101L, Array(-0.8f, 0.1f, -0.5f, 1.5f)))
    val cdf = cands.toDF("vec_id", "embedding")
    val qdf = qs.toDF("vec_id", "embedding")
    val adc = Similarity.pqTopK(qdf, cdf, "vec_id", "vec_id", "embedding",
        k = 3, model)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.cosineTopK(qdf, cdf, "vec_id", "vec_id", "embedding",
        k = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(adc == exact)
  }

  test("native expressions agree between codegen and interpreted evaluation") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .limit(50)
    def run(): Map[Long, (Seq[Long], Double)] = emb.select(
        $"vec_id",
        Similarity.bandedSignKeys($"embedding", 8, 8, 64, 42L).as("k"),
        fdot($"embedding", $"embedding").as("d"))
      .as[(Long, Seq[Long], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val codegen = run()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = run()
      assert(interpreted == codegen)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(codegen.nonEmpty)
  }

  test("recallAtK counts hand-checked overlaps per query") {
    // truth q1: {1,2,3}; approx q1: {2,3,9} -> 2/3 hits
    // truth q2: {4,5};   approx q2: {}      -> 0 hits, query still emitted
    // rank > k rows on both sides must be ignored
    val exact = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L), (1L, 9L, 4L),
      (2L, 4L, 1L), (2L, 5L, 2L)).toDF("q_id", "c_id", "rank")
    val approx = Seq((1L, 2L, 1L), (1L, 3L, 2L), (1L, 9L, 3L), (1L, 1L, 4L))
      .toDF("q_id", "c_id", "rank")
    val got = Similarity.recallAtK(approx, exact, k = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, BigDecimal(2.0 / 3).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (2L, 2L, 0L, 0.0)))
  }

  test("recallAtK is 1.0 when the approximate run equals the truth") {
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "vec_id", "embedding", k = 5)
    val got = Similarity.recallAtK(exact, exact, k = 5)
      .select("recall").as[Double].collect()
    assert(got.length == 3 && got.forall(_ == 1.0))
  }

  test("binaryQuantize packs sign bits; hammingTopK ranks by bit distance") {
    // base = all-positive; variant j flips the first j dimensions
    def vec(flips: Int): Array[Float] =
      Array.tabulate(8)(j => if (j < flips) -0.5f else 0.5f)
    val corpus = (0 to 5).map(j => (j.toLong, vec(j))).toDF("vec_id", "embedding")
    val sk = Similarity.binaryQuantize(corpus, "vec_id", "embedding")
      .as[(Long, Long)].collect().toMap
    assert(sk(0L) == 0xFFL) // 8 positive dims -> low 8 bits set
    assert(sk(3L) == 0xF8L) // first 3 flipped off
    val top = Similarity.hammingTopK(
        corpus.filter($"vec_id" === 0L), corpus,
        "vec_id", "vec_id", "embedding", k = 6)
      .as[(Long, Long, Int, Long)].collect().sortBy(_._4)
    // candidates come back in flip order with hamming = j
    assert(top.map(r => (r._2, r._3)).toSeq ==
      (0 to 5).map(j => (j.toLong, j)))
  }

  test("hammingRerankTopK: clear winners survive the shortlist, rerank is exact") {
    // On random background vectors near-ties legitimately reorder under
    // sign quantization; the property that matters is that SEPARATED
    // matches (the near-dup regime) always survive the Hamming shortlist
    // and the exact rerank then puts them first with the true cosine.
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select($"vec_id", $"embedding").limit(200)
    val queries = emb.filter($"vec_id" < 6).select(
      ($"vec_id" + 100000L).as("vec_id"),
      concat(array(lit(0.0f), lit(0.0f)), slice($"embedding", 3, 62))
        .as("embedding"))
    val rr = Similarity.hammingRerankTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 3, shortlist = 20)
      .as[(Long, Long, Double, Long)].collect()
    val top1 = rr.filter(_._4 == 1L).map(r => r._1 -> r).toMap
    (0L until 6L).foreach { i =>
      val r = top1(100000L + i)
      assert(r._2 == i, s"query ${r._1}: top-1 ${r._2}, expected $i")
      assert(r._3 > 0.85, s"rerank must carry the true cosine, got ${r._3}")
    }
    // rerank sims agree with the exact kernel on the same pairs
    val exact = Similarity.cosineTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 1)
      .as[(Long, Long, Double, Int)].collect().map(r => r._1 -> r._3).toMap
    top1.foreach { case (q, r) => assert(r._3 == exact(q)) }
  }

  test("hamming top-1 recovers the planted near-dup's original") {
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select($"vec_id", $"embedding").limit(60)
    // planted copies: first two dims zeroed (the d5 corpus construction)
    val planted = emb.filter($"vec_id" < 10).select(
      ($"vec_id" + 100000L).as("vec_id"),
      concat(array(lit(0.0f), lit(0.0f)), slice($"embedding", 3, 62))
        .as("embedding"))
    val top1 = Similarity.hammingTopK(
        planted, emb, "vec_id", "vec_id", "embedding", k = 1)
      .as[(Long, Long, Int, Long)].collect()
    // sign sketch survives zeroing two dims: top-1 is the original
    val hits = top1.count(r => r._2 == r._1 - 100000L)
    assert(hits >= 8, s"only $hits/10 planted copies recovered: ${top1.toSeq}")
  }

  test("mipsTopK ranks by raw dot, diverging from cosine where norms differ") {
    // candidate 1 points at the query but is short; candidate 2 is a
    // longer vector at a slight angle: cosine prefers 1, MIPS prefers 2
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (1L, Array(0.5f, 0.0f)),  // dot 0.5, cos 1.0
      (2L, Array(3.0f, 1.0f)))  // dot 3.0, cos ~0.95
      .toDF("vec_id", "embedding")
    val mips = Similarity.mipsTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 2).select("c_id", "rank").as[(Long, Int)].collect().toMap
    assert(mips == Map(2L -> 1, 1L -> 2))
    val cos = Similarity.cosineTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 2).select("c_id", "rank").as[(Long, Int)].collect().toMap
    assert(cos == Map(1L -> 1, 2L -> 2))
  }

  test("norm augmentation makes augmented cosine order the exact dot order") {
    // the reduction theorem behind annMipsTopK: for a fixed query,
    // cos(q^, x^) with x^ = [x; sqrt(M^2-|x|^2)], q^ = [q; 0] is a
    // monotone transform of q.x — verify the orders coincide on seeded
    // random vectors with wildly mixed norms
    val rnd = new scala.util.Random(7)
    val cands = (1L to 40L).map { i =>
      val scale = rnd.nextDouble() * 5 + 0.1
      (i, Array.fill(8)((rnd.nextDouble() * 2 - 1) * scale).map(_.toFloat))
    }
    val qv = Array.fill(8)(rnd.nextDouble() * 2 - 1).map(_.toFloat)
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    val m2 = cands.map(c => dot(c._2, c._2)).max
    def cosAug(x: Array[Float]) = {
      val xa = x.map(_.toDouble) :+ math.sqrt(m2 - dot(x, x))
      val qa = qv.map(_.toDouble) :+ 0.0
      val d = xa.indices.map(i => xa(i) * qa(i)).sum
      d / (math.sqrt(xa.map(v => v * v).sum) * math.sqrt(qa.map(v => v * v).sum))
    }
    val byDot = cands.sortBy(c => -dot(qv, c._2)).map(_._1)
    val byAugCos = cands.sortBy(c => -cosAug(c._2)).map(_._1)
    assert(byDot == byAugCos)
  }

  test("annMipsTopK finds planted dominant-dot items") {
    // a random corpus has near-tied dots (top-1 identity is a coin flip
    // for ANY sublinear method); the property the reduction must
    // deliver is steering buckets toward genuinely dominant inner
    // products — plant one 3x-scaled copy of each query among the
    // random candidates and require the ANN path to surface it
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 10)
    val planted = q.select(($"vec_id" + 1000L).as("vec_id"),
      transform($"embedding", x => x * lit(3.0f)).as("embedding"))
    val c = emb.filter($"vec_id" >= 10).unionByName(planted)
    // sanity: exact MIPS top-1 IS the planted copy (dot 3|q|^2)
    val exact = Similarity.mipsTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 1).select("q_id", "c_id").as[(Long, Long)].collect().toMap
    assert(exact.forall { case (qid, cid) => cid == qid + 1000L }, s"$exact")
    val approx = Similarity.annMipsTopK(q, c, "vec_id", "vec_id",
        "embedding", k = 1, planes = 4)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val hits = approx.count { case (qid, cid) => cid == qid + 1000L }
    assert(hits >= 8, s"only $hits/10 planted MIPS targets found: $approx")
  }

  test("truncated-prefix recall: full prefix is perfect, mean rises with dim") {
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "vec_id",
      "embedding", k = 5)
    def truncRecall(m: Int): Double = {
      def t(df: org.apache.spark.sql.DataFrame) = df.select($"vec_id",
        org.apache.spark.sql.functions.slice($"embedding", 1, m)
          .as("embedding"))
      val approx = Similarity.cosineTopK(t(q), t(emb), "vec_id", "vec_id",
        "embedding", k = 5)
      val r = Similarity.recallAtK(approx, exact, k = 5)
        .agg(org.apache.spark.sql.functions.avg($"recall"))
        .as[Double].head()
      r
    }
    // the full 64-dim "truncation" is the identity: recall exactly 1
    assert(truncRecall(64) == 1.0)
    // and quality cannot collapse as the kept prefix grows 8 -> 32
    val r8 = truncRecall(8); val r32 = truncRecall(32)
    assert(r32 >= r8, s"recall fell with more dims: r8=$r8 r32=$r32")
  }

  test("marginMining matches a driver-side brute-force replica") {
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val l = emb.filter($"vec_id" < 15)
    val r = emb.filter($"vec_id" >= 15)
    val got = Similarity
      .marginMining(l, r, "vec_id", "vec_id", "embedding",
        k = 3, thresholdPct = 105)
      .select("l_id", "r_id", "sim_e3", "margin")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap

    // brute force on the driver, mirroring the operator's exact algebra
    val lv = l.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val rv = r.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def cosE3(a: Array[Float], b: Array[Float]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1000 + 0.5).toLong
    }
    val sims = (for ((li, lvec) <- lv; (ri, rvec) <- rv)
      yield (li, ri) -> cosE3(lvec, rvec)).toMap
    def topk(pairs: Seq[(Long, Long)]): Set[(Long, Long)] =
      pairs.sortBy { case (a, b) => (-sims((a, b)), b) }.take(3).toSet
    val nnL = lv.map { case (li, _) =>
      li -> topk(rv.map(c => (li, c._1)).toSeq).map(_._2) }.toMap
    val nnR = rv.map { case (ri, _) =>
      ri -> lv.map(c => (c._1, ri)).toSeq
        .sortBy { case (a, b) => (-sims((a, b)), a) }.take(3).map(_._1).toSet
    }.toMap
    val want = (for {
      (li, _) <- lv; (ri, _) <- rv
      if nnL(li).contains(ri) && nnR(ri).contains(li)
      suml = nnL(li).toSeq.map(x => sims((li, x))).sum
      sumr = nnR(ri).toSeq.map(x => sims((x, ri))).sum
      cntl = nnL(li).size.toLong; cntr = nnR(ri).size.toLong
      pool = suml * cntr + sumr * cntl
      if pool > 0 && 200 * sims((li, ri)) * cntl * cntr > 105 * pool
    } yield (li, ri) ->
      ((sims((li, ri)), 2.0 * sims((li, ri)) * cntl * cntr / pool))).toMap
    assert(got.keySet == want.keySet)
    for ((k, (sim, margin)) <- want) {
      assert(got(k)._1 == sim, s"sim_e3 for $k")
      assert(got(k)._2 == margin, s"margin for $k") // exact: one IEEE division
    }
    assert(want.nonEmpty, "degenerate fixture: no mutual pair cleared the margin")
  }

  test("mmrRerank: diversity beats a redundant higher-relevance candidate") {
    // candidates of query 1: A (rel 900), B (rel 890, near-dup of A),
    // C (rel 500, orthogonal). Round 1 takes A on pure relevance.
    // Round 2 at lambda=70: B scores 70*890 - 30*sim(B,A) ~ 62300-29970,
    // C scores 70*500 - 30*0 = 35000 > 32330 — diversity wins.
    val vectors = Seq(
      (101L, Array(1.0f, 0.0f)),
      (102L, Array(0.999f, 0.04f)),
      (103L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cands = Seq((1L, 101L, 900L), (1L, 102L, 890L), (1L, 103L, 500L))
      .toDF("q_id", "c_id", "rel_e3")
    val got = Similarity.mmrRerank(cands, "q_id", "c_id", "rel_e3",
        vectors, "vec_id", "embedding", k = 3, lambdaPct = 70)
      .as[(Long, Long, Int)].collect().sortBy(_._3).toSeq
    assert(got == Seq((1L, 101L, 1), (1L, 103L, 2), (1L, 102L, 3)))
    // lambda = 100 is pure relevance: order by rel alone
    val pure = Similarity.mmrRerank(cands, "q_id", "c_id", "rel_e3",
        vectors, "vec_id", "embedding", k = 3, lambdaPct = 100)
      .as[(Long, Long, Int)].collect().sortBy(_._3).toSeq
    assert(pure == Seq((1L, 101L, 1), (1L, 102L, 2), (1L, 103L, 3)))
    // a query with fewer candidates than k emits what it has
    val small = Similarity.mmrRerank(
        Seq((2L, 103L, 100L)).toDF("q_id", "c_id", "rel_e3"),
        "q_id", "c_id", "rel_e3",
        vectors, "vec_id", "embedding", k = 3, lambdaPct = 70)
      .as[(Long, Long, Int)].collect().toSeq
    assert(small == Seq((2L, 103L, 1)))
  }

  test("ivfTrain/pqTrain: driver fast path ≡ distributed loop (cap 0)") {
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val i1 = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nlist = 8, iters = 3)
    val i0 = TestSpark.distributed {
      Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8, iters = 3)
    }
    assert(i1.centroids == i0.centroids)
    val p1 = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2)
    val p0 = TestSpark.distributed {
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
    }
    assert(p1.subCentroids == p0.subCentroids)
  }

  test("mmrRerank: driver fast path ≡ distributed loop (cap 0) on sf0.001") {
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val cands = Similarity.cosineTopK(
        emb.filter($"vec_id" < 10), emb.filter($"vec_id" >= 10),
        "vec_id", "vec_id", "embedding", k = 8)
      .select($"q_id", $"c_id",
        floor($"sim" * 1000 + lit(0.5)).cast("long").as("rel_e3"))
    def run() = Similarity.mmrRerank(cands, "q_id", "c_id",
        "rel_e3", emb, "vec_id", "embedding", k = 4, lambdaPct = 70)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(run() == TestSpark.distributed(run()))
  }

  test("mmrRerank tolerates duplicate (q_id, c_id) candidate rows") {
    // group.length counted duplicate rows, so after every DISTINCT id was
    // picked the driver loop ran one more round and minBy threw on an
    // empty remaining; the distributed anti-join loop just stops emitting
    // (the r13 advice) — both paths must emit rounds 1..n_distinct.
    val vectors = Seq(
      (101L, Array(1.0f, 0.0f)),
      (102L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cands = Seq((1L, 101L, 900L), (1L, 101L, 900L), (1L, 102L, 500L))
      .toDF("q_id", "c_id", "rel_e3")
    def run() = Similarity.mmrRerank(cands, "q_id", "c_id", "rel_e3",
        vectors, "vec_id", "embedding", k = 3, lambdaPct = 70)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val fast = run()
    assert(fast == Seq((1L, 101L, 1), (1L, 102L, 2)))
    assert(fast == TestSpark.distributed(run()))
  }

  test("ivfTrain fails loudly on ragged vectors on both paths") {
    // Ragged vectors make the updated centroids ragged; the distributed
    // loop fails via nearestSubCentroids' uniformity require while the
    // driver path used to silently mis-index the flattened codebook
    // (the r13 advice) — both must now throw the same require.
    val ragged = Seq(
      (1L, Array(1.0f)),
      (2L, Array(0.5f, 2.0f)),
      (3L, Array(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    def run() = Similarity.ivfTrain(ragged, "vec_id", "embedding",
      nlist = 2, iters = 2)
    val eFast = intercept[IllegalArgumentException] { run() }
    assert(eFast.getMessage.contains("uniform"))
    val eDist = intercept[IllegalArgumentException] {
      TestSpark.distributed(run())
    }
    assert(eDist.getMessage.contains("uniform"))
  }

  test("marginMining is invariant to input partitioning") {
    val emb = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    def run(lParts: Int, rParts: Int) = Similarity
      .marginMining(
        emb.filter($"vec_id" < 15).repartition(lParts),
        emb.filter($"vec_id" >= 15).repartition(rParts),
        "vec_id", "vec_id", "embedding", k = 3, thresholdPct = 105)
      .select("l_id", "r_id", "sim_e3", "margin")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(run(1, 2) == run(7, 13))
  }

  test("marginMining and mmrRerank reject zero-norm vectors loudly") {
    // A zero-norm vector used to NaN→NULL the cosine and silently
    // drop/mis-rank those candidates instead of failing.
    val good = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.5f, 0.5f)))
    val withZero = (good :+ (3L -> Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Similarity.marginMining(
        withZero.filter($"vec_id" < 3), withZero.filter($"vec_id" === 3),
        "vec_id", "vec_id", "embedding", k = 1).collect()
    }
    assert(e1.getMessage.contains("zero/null-norm")
      || e1.getCause != null &&
        e1.getCause.getMessage.contains("zero/null-norm"), e1.getMessage)
    val e2 = intercept[Exception] {
      Similarity.mmrRerank(
        Seq((1L, 3L, 500L)).toDF("q_id", "c_id", "rel_e3"),
        "q_id", "c_id", "rel_e3",
        withZero, "vec_id", "embedding", k = 2, lambdaPct = 70).collect()
    }
    assert(e2.getMessage.contains("zero/null-norm")
      || e2.getCause != null &&
        e2.getCause.getMessage.contains("zero/null-norm"), e2.getMessage)
  }
  test("sqQuantize: hand codes, clamping, degenerate dimension") {
    import spark.implicits._
    // bounds: dim1 [0, 10], dim2 [5, 5] (degenerate), dim3 [-1, 1]
    val m = Similarity.SqModel(Seq(0.0, 5.0, -1.0), Seq(10.0, 5.0, 1.0))
    val got = Similarity.sqQuantize(
        Seq((1L, Array(2.0f, 5.0f, 1.0f)),
          (2L, Array(0.0f, 5.0f, -1.0f)),
          (3L, Array(10.0f, 5.0f, 0.0f))).toDF("id", "v"),
        "id", "v", m)
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(51L, 0L, 255L)) // 2/10*255 = 51; degenerate -> 0
    assert(got(2L) == Seq(0L, 0L, 0L))
    assert(got(3L) == Seq(255L, 0L, 128L)) // floor(0.5*255 + 0.5) = 128
  }

  test("sqTrain/sqQuantize reject null, ragged and short vectors loudly") {
    import spark.implicits._
    // sqTrain: a null vector used to vanish through posexplode and a
    // short vector to silently skew per-dim bounds; both must raise.
    val e1 = intercept[Exception] {
      Similarity.sqTrain(
        Seq((1L, Array(1.0f, 2.0f)), (2L, null))
          .toDF("id", "v"), "v")
    }
    assert(e1.getMessage.contains("null vector")
      || e1.getCause != null &&
        e1.getCause.getMessage.contains("null vector"), e1.getMessage)
    val e2 = intercept[Exception] {
      Similarity.sqTrain(
        Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f)))
          .toDF("id", "v"), "v")
    }
    assert(e2.getMessage.contains("ragged"), e2.getMessage)
    // sqQuantize: a vector shorter than model.dim used to emit NULL
    // code elements that sqTopK ranked last instead of failing.
    val m = Similarity.SqModel(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val e3 = intercept[Exception] {
      Similarity.sqQuantize(
        Seq((1L, Array(0.5f))).toDF("id", "v"), "id", "v", m).collect()
    }
    assert(e3.getMessage.contains("sqQuantize")
      || e3.getCause != null &&
        e3.getCause.getMessage.contains("sqQuantize"), e3.getMessage)
    // a LONGER vector must raise too, never silently truncate
    val e4 = intercept[Exception] {
      Similarity.sqQuantize(
        Seq((1L, Array(0.5f, 0.5f, 0.5f))).toDF("id", "v"),
        "id", "v", m).collect()
    }
    assert(e4.getMessage.contains("sqQuantize")
      || e4.getCause != null &&
        e4.getCause.getMessage.contains("sqQuantize"), e4.getMessage)
  }

  test("sqTopK ≡ plain-Scala quantized integer ranking; bounds from data") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    val model = Similarity.sqTrain(df, "v")
    // reference bounds: plain double min/max per dim
    val mins = (0 until 16).map(d => vecs.map(_._2(d).toDouble).min)
    val maxs = (0 until 16).map(d => vecs.map(_._2(d).toDouble).max)
    assert(model.mins == mins && model.maxs == maxs)
    def quant(v: Array[Float]): Seq[Long] = (0 until 16).map { d =>
      if (maxs(d) > mins(d))
        math.min(255L, math.max(0L,
          math.floor((v(d).toDouble - mins(d)) / (maxs(d) - mins(d))
            * 255.0 + 0.5).toLong))
      else 0L
    }
    val q = df.filter($"id" < 5)
    val got = Similarity.sqTopK(q, df, "id", "id", "v", model, k = 7)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    val codes = vecs.map { case (i, v) => i -> quant(v) }.toMap
    vecs.filter(_._1 < 5).foreach { case (qid, qv) =>
      val ranked = vecs.map { case (cid, _) =>
        (cid, codes(qid).zip(codes(cid)).map { case (a, b) => a * b }.sum)
      }.sortBy { case (cid, dot) => (-dot, cid) }.take(7)
      ranked.zipWithIndex.foreach { case ((cid, dot), r) =>
        assert(got((qid, r + 1)) == ((cid, dot)), s"q=$qid rank=${r + 1}")
      }
    }
    // NOTE deliberately NOT asserted: "self ranks first" — sqTopK ranks
    // by raw quantized DOT (the MIPS convention), where a larger-norm
    // candidate can legitimately out-score the query itself.
  }

  test("cosineHistogram: hand pairs land in the right bins, zero bins " +
      "emitted, zero-norm raises, scalar parity") {
    // pairs (0,1) identical → cos 1 (top bin 19); (1,2) orthogonal →
    // cos 0 (bin 10); (2,3) opposite → cos −1 (bin 0, clamped)
    val embs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(2f, 0f)),
      (2L, Array(0f, 3f)), (3L, Array(0f, -1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.cosineHistogram(embs, "vec_id", "embedding")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 20)
    assert(got(19) == ((900000L, 1000000L, 1L)))
    assert(got(10) == ((0L, 100000L, 1L)))
    assert(got(0) == ((-1000000L, -900000L, 1L)))
    assert(got.values.map(_._3).sum == 3L)
    // randomized scalar parity: same lattice snap + bucket arithmetic
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val hist = Similarity.cosineHistogram(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    val want = vecs.sliding(2).map { case Seq((_, a), (_, b)) =>
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) =>
          acc + p.toDouble * q.toDouble }
      val c4 = math.floor(dot(a, b) /
        (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e4 + 0.5).toLong
      math.min(19L, math.max(0L, (c4 + 10000L) * 20 / 20000L))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    (0L until 20L).foreach(b =>
      assert(hist(b) == want.getOrElse(b, 0L), s"bin $b"))
    val e = intercept[Exception] {
      Similarity.cosineHistogram(
        Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("zero-norm")
      || e.getCause != null &&
        e.getCause.getMessage.contains("zero-norm"), e.getMessage)
  }

  test("cosineHistogram: NaN/Inf components raise instead of clamping " +
      "into a bin") {
    // A NaN cosine cast to long is silently 0 — the MIDDLE bin — and
    // an Inf one clamps into an edge bin; both must raise instead.
    def msg(e: Exception): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    val nan = Seq((0L, Array(1f, 0f)), (1L, Array(Float.NaN, 1f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Similarity.cosineHistogram(nan, "vec_id", "embedding").collect()
    }
    assert(msg(e1).contains("non-finite"), msg(e1))
    val inf = Seq((0L, Array(1f, 0f)),
        (1L, Array(Float.PositiveInfinity, 0f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.cosineHistogram(inf, "vec_id", "embedding").collect()
    }
    assert(msg(e2).contains("non-finite"), msg(e2))
  }
  test("silhouette: hand geometry on fixed centroids; scalar-model " +
      "parity on random vectors; tight clusters beat a split one") {
    import spark.implicits._
    val model = Similarity.IvfModel(Seq(
      Seq(0.0f, 0.0f), Seq(10.0f, 0.0f), Seq(0.0f, 10.0f)))
    // a point AT centroid 0: a² = 0, b² = 100 → s = 1
    // the midpoint of centroids 0 and 1: a² = b² = 25 → s = 0
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(5.0f, 0.0f)),
      (3L, Seq(9.0f, 0.0f)), (4L, Seq(0.1f, 0.2f)))
    val got = Similarity.silhouette(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", model)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // scalar model: same fixed IEEE tree, same 1e4 row lattice, same
    // integer mean read
    val cents = model.centroids
    def model1(v: Seq[Float]): (Int, Long) = {
      val v2 = v.map(x => x.toDouble * x.toDouble).sum
      val ds = cents.zipWithIndex.map { case (c, i) =>
        val c2 = c.map(x => x.toDouble * x).sum
        val dot = v.zip(c).map { case (a, b) => a.toDouble * b.toDouble }
          .sum
        (v2 + c2 - 2.0 * dot, i)
      }.sorted
      val (a2, cl) = ds(0); val (b2, _) = ds(1)
      val sRaw = if (math.max(a2, b2) <= 0.0) 0.0
        else (b2 - a2) / math.max(a2, b2)
      (cl, (math.signum(sRaw) *
        math.floor(math.abs(sRaw) * 10000.0 + 0.5)).toLong)
    }
    val byCluster = vecs.map { case (_, v) => model1(v) }
      .groupBy(_._1)
    val want = byCluster.map { case (cl, xs) =>
      val n = xs.size.toLong; val ssum = xs.map(_._2).sum
      val mean =
        if (ssum >= 0) (2 * ssum * 100 + n) / (2 * n)
        else -((-2 * ssum * 100 + n) / (2 * n))
      cl.toLong -> ((n, mean))
    }
    assert(got == want)
    // point at its centroid reads s = 1 (1e6 on the lattice)
    assert(model1(Seq(0.0f, 0.0f))._2 == 10000L)
    // random vectors, scalar parity
    val rnd = new scala.util.Random(251)
    val rvecs = (0L until 300L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 4 - 2)))
    val model8 = Similarity.IvfModel(
      Seq.fill(4)(Seq.fill(8)(rnd.nextFloat() * 4 - 2)))
    val gotR = Similarity.silhouette(
        rvecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        model8)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def model1x(v: Seq[Float]): (Int, Long) = {
      val v2 = v.map(x => x.toDouble * x.toDouble).sum
      val ds = model8.centroids.zipWithIndex.map { case (c, i) =>
        val c2 = c.map(x => x.toDouble * x).sum
        val dot = v.zip(c).map { case (a, b) => a.toDouble * b.toDouble }
          .sum
        (v2 + c2 - 2.0 * dot, i)
      }.sorted
      val (a2, cl) = ds(0); val (b2, _) = ds(1)
      val sRaw = if (math.max(a2, b2) <= 0.0) 0.0
        else (b2 - a2) / math.max(a2, b2)
      (cl, (math.signum(sRaw) *
        math.floor(math.abs(sRaw) * 10000.0 + 0.5)).toLong)
    }
    val wantR = rvecs.map { case (_, v) => model1x(v) }
      .groupBy(_._1).map { case (cl, xs) =>
        val n = xs.size.toLong; val ssum = xs.map(_._2).sum
        val mean =
          if (ssum >= 0) (2 * ssum * 100 + n) / (2 * n)
          else -((-2 * ssum * 100 + n) / (2 * n))
        cl.toLong -> ((n, mean))
      }
    assert(gotR == wantR)
  }

  test("jlSigns: md5-recipe parity and balance; jlProjection bit-equal " +
      "to the plain-Scala left fold; identical vectors rank first") {
    val signs = Similarity.jlSigns(16, 64)
    // independent recompute of a few entries straight from the recipe
    def md5sign(i: Int, j: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
    for (i <- Seq(0, 7, 15); j <- Seq(0, 31, 63))
      assert(signs(i)(j) == md5sign(i, j))
    // a hash-derived matrix should be roughly balanced
    val plus = signs.flatten.count(_ == 1)
    assert(plus > 400 && plus < 624, s"plus=$plus of 1024")
    // projection ≡ plain-Scala left fold, bit-for-bit
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 20L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val got = vecs.toDF("id", "v")
      .select(col("id"), Similarity.jlProjection(col("v"), signs).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    vecs.foreach { case (id, v) =>
      val want = signs.map(row =>
        row.zipWithIndex.map { case (s, j) => v(j).toDouble * s.toDouble }
          .reduceLeft(_ + _)).toSeq
      assert(got(id) == want, s"id=$id")
    }
    // self-similarity: every query present in the candidate set ranks
    // itself first through the projection (projected cosine 1.0)
    val df = vecs.toDF("id", "v")
    val top = Similarity.jlTopK(df.filter(col("id") < 5), df,
        "id", "id", "v", signs, k = 3)
      .as[(Long, Long, Double, Int)].collect()
      .filter(_._4 == 1).map(r => r._1 -> r._2).toMap
    assert((0L until 5L).forall(q => top(q) == q))
  }

  test("rocchioRerank: all-duplicate feedback is a fixpoint; " +
      "plain-Scala end-to-end parity on random vectors") {
    import spark.implicits._
    // fixpoint: candidates = queries themselves + noise; top-k
    // centroid of k duplicates IS the query, so q' = 1.75·q and the
    // reranked list equals the exact cosine list
    val rnd = new scala.util.Random(17)
    val base = (0L until 12L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val dups = base.take(3).flatMap { case (i, v) =>
      Seq((i, v), (i + 100, v.clone()), (i + 200, v.clone()))
    }
    val cands = (dups ++ base.drop(3)).toDF("id", "v")
    val qs = base.take(3).toDF("id", "v")
    val exact = Similarity.cosineTopK(qs, cands, "id", "id", "v", k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val rr = Similarity.rocchioRerank(qs, cands, "id", "id", "v", k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(rr.map(r => (r._1, r._2, r._4)).toSeq ==
      exact.map(r => (r._1, r._2, r._4)).toSeq)
    // independent plain-Scala model of the WHOLE pipeline on random
    // vectors: exact top-k (round-3 sims, id tie-break), per-dim
    // centroid snapped to the 1e-6 grid, q' = q + 0.75·m, left-fold
    // dots — rank lists and sims must match exactly
    val all = (0L until 20L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val k = 5
    val gotM = Similarity.rocchioRerank(
        all.take(4).toDF("id", "v"), all.toDF("id", "v"),
        "id", "id", "v", k = k)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    def r3(x: Double) = BigDecimal(x)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.reduceLeft(_ + _)
    def cos(a: Seq[Double], b: Seq[Double]) =
      r3(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val cd = all.map { case (i, v) => (i, v.map(_.toDouble).toSeq) }
    all.take(4).foreach { case (qid, qv) =>
      val qd = qv.map(_.toDouble).toSeq
      val topk = cd.map { case (ci, cv) => (ci, cos(qd, cv)) }
        .sortBy { case (ci, s) => (-s, ci) }.take(k)
      val rel = topk.map(t => cd.find(_._1 == t._1).get._2)
      val m = (0 until 64).map { j =>
        BigDecimal(rel.map(_(j)).sum / k)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val qe = qd.zip(m).map { case (x, mm) => x * 1.0 + mm * 0.75 }
      val want = cd.map { case (ci, cv) => (ci, cos(qe, cv)) }
        .sortBy { case (ci, s) => (-s, ci) }.take(k)
      want.zipWithIndex.foreach { case ((ci, s), idx) =>
        assert(gotM((qid, idx + 1)) == ((ci, s)),
          s"q=$qid rank=${idx + 1}")
      }
    }
  }
}
