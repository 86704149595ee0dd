package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Synthetic corpus with planted exact dups and near-dups.
  private val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                          // exact dup of 0
    (2L, base.replace("lazy", "sleepy")),                // near-dup of 0
    (3L, "completely different text about spark plans and shuffles here now"),
    (4L, "another unrelated document mentioning joins aggregates and windows"),
    (5L, base + " extra trailing words appended")        // near-dup superset
  ).toDF("doc_id", "text")

  test("exactGroups groups identical texts") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 5)
    val dup = g.filter($"n_docs" === 2).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("canonical_id") == 0L)
  }

  test("ngramJaccardPairs finds planted near-dups and matches brute force") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 2L)))
    assert(got.contains((0L, 5L)))
    assert(!got.exists { case (a, b) => a == 3L || b == 3L })

    // brute force via array intersect/union on distinct shingles
    import graft.functions.TextFunctions._
    val sh = docs.select($"doc_id",
      wordShingles(tokens($"text"), 3).as("sh"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
          size(array_union($"a.sh", $"b.sh"))).as("j"))
      .filter($"j" >= 0.3)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("containmentPairs flags a fragment Jaccard cannot see, with exact scores") {
    // A: 30 distinct tokens (28 shingles); F: A's first 10 tokens (8
    // shingles, all in A); C: unrelated. c(F→A) = 1.0 while the pair's
    // Jaccard is 8/28 ≈ 0.29 — invisible at Jaccard threshold 0.6.
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val f = (1 to 10).map(i => s"w$i").mkString(" ")
    val c = (1 to 30).map(i => s"z$i").mkString(" ")
    val corpus = Seq((1L, a), (2L, c), (10L, f)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.toSeq == Seq((1L, 10L, 8.0 / 28.0, 1.0)))
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("ngramJaccardAndContainment == the two separate operators from " +
      "one pass (hand case + real corpus)") {
    // hand case: doc 10 (fragment of 1) fires only containment; docs
    // 0/1/2/5 of the shared fixture fire Jaccard — the combined output
    // is exactly the union, each row carrying all three scores
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val f = (1 to 10).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, a), (2L, (1 to 30).map(i => s"z$i").mkString(" ")),
      (10L, f)).toDF("doc_id", "text")
    val combined = Dedup.ngramJaccardAndContainment(corpus, "doc_id",
        "text", n = 3, jaccardThreshold = 0.6, containThreshold = 0.9)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(combined == Seq((1L, 10L, 8.0 / 28.0, 8.0 / 28.0, 1.0)))
    // equivalence on the real sf0.001 corpus, both projections
    val real = spark.read.parquet(s"${graft.TestSpark.Sf0001}/documents.parquet")
    val both = Dedup.ngramJaccardAndContainment(real, "doc_id", "text",
        n = 3, jaccardThreshold = 0.6, containThreshold = 0.8)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    val jac = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val con = Dedup.containmentPairs(real, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(both.filter(_._3 >= 0.6).map(r => (r._1, r._2, r._3)) == jac)
    assert(both.filter(r => math.max(r._4, r._5) >= 0.8)
      .map(r => (r._1, r._2, r._4, r._5)) == con)
    // nothing in the combined set outside the union of the two
    assert(both.forall(r => r._3 >= 0.6 || math.max(r._4, r._5) >= 0.8))
    assert(jac.nonEmpty)
  }

  test("minHashLshPairs equals exact jaccard pairs on sf0.001 documents") {
    val real = spark.read.parquet(s"${graft.TestSpark.Sf0001}/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshPairs(real, "doc_id", "text", 3, 64, 16, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact) // precision exact by verify step; recall from banding
    assert(exact.nonEmpty)
    // the portable hash family is a different permutation universe but
    // the same algorithm — same pairs, and the same Jaccards as the
    // exact (string-shingle) scores to 4dp (hash collisions would show
    // up here as a score drift)
    val portable = Dedup.minHashLshPairs(real, "doc_id", "text", 3, 64, 16,
        0.6, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(portable == exact)
  }

  test("ngramJaccardPairs df-cap removes ubiquitous-shingle candidate blowup") {
    // 40 docs sharing exactly one 3-gram ("common shared phrase"), all other
    // shingles unique per doc: without a cap every pair collides on that one
    // key (C(40,2) candidate rows on a single shingle — the quadratic skew
    // pattern); with the cap the hot shingle is dropped from the index.
    val hot = (0 until 40).map { i =>
      (i.toLong, s"unique$i alpha$i beta$i common shared phrase gamma$i delta$i")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(hot, "doc_id", "text",
      n = 3, threshold = 0.0, maxDf = 0) // maxDf <= 0 disables the cap
    val capped = Dedup.ngramJaccardPairs(hot, "doc_id", "text",
      n = 3, threshold = 0.0, maxDf = 10)
    assert(uncapped.count() == 40L * 39 / 2)
    assert(capped.count() == 0)
  }

  test("ngramJaccardPairs default cap leaves the real-corpus answer unchanged") {
    val real = spark.read.parquet(s"${graft.TestSpark.Sf0001}/documents.parquet")
    val def_ = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val nocap = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.6, maxDf = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(def_ == nocap)
    assert(def_.nonEmpty)
  }

  test("blocked embeddingNearDupPairs equals exact all-pairs on planted near-dups") {
    val e = spark.read
      .parquet(s"${graft.TestSpark.Sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    // planted copies with the first two components zeroed: cosine vs the
    // original ~0.92-1.0, far above the ~0.6 background — the separated
    // regime blocking is designed for
    val planted = e.filter($"vec_id" < 50).select(
      ($"vec_id" + 100000L).as("vec_id"),
      concat(array(lit(0.0f), lit(0.0f)), slice($"embedding", 3, 62))
        .as("embedding"))
    val corpus = e.unionByName(planted)
    val exact = Dedup.embeddingNearDupPairsExact(corpus, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 50) // every planted copy pairs with its original
    assert(blocked == exact)
    // driver fast path ≡ distributed band-join chain, including the
    // rounded sims, not just the pair set
    def run() = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding", 0.85)
      .as[(Long, Long, Double)].collect().toSet
    val fast = run()
    val dist = TestSpark.distributed(run())
    assert(fast == dist)
  }

  test("embeddingNearDupPairs: duplicate ids fall back to the distributed path") {
    // The fast path's per-row-pair dedup can't replay the distributed
    // chain's duplicate-id multiplicity (dropDuplicates dedups the pair,
    // but the verify join then re-multiplies it per duplicate row), so
    // the unique-id gate must route such input to the distributed chain —
    // both paths then agree by construction. The r13 seen-set driver
    // path silently emitted ONE row here where the engine emits two.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // duplicated id
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    def run() = Dedup.embeddingNearDupPairs(
        corpus, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    val got = run()
    assert(got == Seq((1L, 2L), (1L, 2L)), got.toString)
    assert(got == TestSpark.distributed(run()))
  }

  test("embeddingNearDupPairs fails loudly on zero-norm pairs on both paths") {
    // Two zero vectors share key 0 in every band, so they always form a
    // candidate pair, and the exact verify divides by a zero norm
    // product. Under ANSI mode (the Spark 4 default this engine runs
    // with) the distributed verify throws DIVIDE_BY_ZERO; the driver
    // fast path used to emit a quiet 0/0 = NaN sim and silently drop it
    // (the r13 advice) — both paths must now fail loudly.
    val corpus = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    def run() =
      Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding", 0.85)
        .collect()
    val eFast = intercept[Exception] { run() }
    assert(eFast.getMessage.contains("DIVIDE_BY_ZERO"), eFast.getMessage)
    val eDist = intercept[Exception] { TestSpark.distributed(run()) }
    assert(eDist.getMessage.contains("DIVIDE_BY_ZERO"), eDist.getMessage)
  }

  test("semanticDedup drops exactly the non-min members of semantic groups") {
    val dim = 8
    def vec(axis: Int, unique: Int): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(axis) = 2.0f; a(unique) = 1.0f; a.toSeq
    }
    // Two blobs (axis 0 / axis 1); within-blob cosine = 4/5 = 0.8 < 0.85,
    // cross-blob <= 0.2. Planted exact copies (ids 100, 105) are the only
    // pairs above the 0.85 threshold. Identical vectors have identical
    // centroid distances and argmin tie-break, so a copy always lands in
    // its original's cluster — the drop contract is deterministic even if
    // the quantizer splits the blobs badly.
    val corpus = ((0 until 4).map(i => (i.toLong, vec(0, 2 + i))) ++
      (4 until 8).map(i => (i.toLong, vec(1, 2 + i - 4))) ++
      Seq((100L, vec(0, 2)), (105L, vec(1, 3)))).toDF("vec_id", "embedding")
    val model = Similarity.ivfTrain(corpus, "vec_id", "embedding",
      nlist = 2, iters = 3)
    val got = Dedup.semanticDedup(corpus, "vec_id", "embedding", model, 0.85)
      .as[(Long, Int, Boolean)].collect()
    assert(got.length == 10)
    assert(got.filterNot(_._3).map(_._1).toSet == Set(100L, 105L))
    // cross-check vs the exact all-pairs oracle: every dropped id is the
    // larger side of an exact near-dup pair
    val exact = Dedup.embeddingNearDupPairsExact(
        corpus, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((0L, 100L), (5L, 105L)))
  }

  test("duplicateClusters tolerates an empty pair set") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(empty).count() == 0)
  }

  test("duplicateClusters resolves edges into min-label components") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L,
      5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("duplicateClusters agrees with union-find on real near-dup pairs") {
    val real = spark.read.parquet(s"${graft.TestSpark.Sf0001}/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(real, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b")
    val edges = pairs.as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    // in-test union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
    val got = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == want)
    // force the distributed fixpoint — must agree with the driver
    // union-find fast path
    val distributed = TestSpark.distributed {
      Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    }
    assert(distributed == want)
  }

  test("cluster table write-through: read-back equals the computed " +
      "table; stale fingerprint, torn cache, and missing dir all miss") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs)
    val dir = java.nio.file.Files.createTempDirectory("d6cache").toString
    Dedup.writeClusterTable(clusters, dir, "fp1")
    // warm read: same fingerprint → the exact table back
    val warm = Dedup.readClusterTable(spark, dir, "fp1")
    assert(warm.isDefined)
    assert(warm.get.as[(Long, Long)].collect().toSet ==
      clusters.as[(Long, Long)].collect().toSet)
    // a different fingerprint (new corpus / new algorithm version) is a
    // MISS, never a silent stale serve
    assert(Dedup.readClusterTable(spark, dir, "fp2").isEmpty)
    // missing cache dir is a miss
    assert(Dedup.readClusterTable(spark, s"$dir/nope", "fp1").isEmpty)
    // torn write (data without sidecar — the sidecar is written last)
    val torn = java.nio.file.Files.createTempDirectory("d6torn").toString
    clusters.write.parquet(s"$torn/clusters")
    assert(Dedup.readClusterTable(spark, torn, "fp1").isEmpty)
    // overwrite with a new fingerprint: the new read wins
    val clusters2 = Dedup.duplicateClusters(
      Seq((7L, 8L)).toDF("id_a", "id_b"))
    Dedup.writeClusterTable(clusters2, dir, "fp2")
    assert(Dedup.readClusterTable(spark, dir, "fp1").isEmpty)
    assert(Dedup.readClusterTable(spark, dir, "fp2").get
      .as[(Long, Long)].collect().toSet == Set((7L, 7L), (8L, 7L)))
  }

  test("d22 cold start reads the durable cluster cache — no LSH-chain " +
      "recompute — and matches the warm result") {
    val d = graft.TestSpark.Sf0001
    val warm = graft.SparkEntry.queries("d22_cluster_histogram")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(warm.nonEmpty)
    // the producing run wrote through; simulate a fresh JVM
    ModelRegistry.clear()
    assert(Dedup.readClusterTable(spark,
      graft.SparkEntry.d6ClusterCacheDir(d),
      graft.SparkEntry.d6ClusterFingerprint(spark, d)).isDefined)
    val cold = graft.SparkEntry.queries("d22_cluster_histogram")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(cold == warm)
    // the discriminator: a disk hit never re-runs the d3 chain, so the
    // lshpairs intermediate must NOT have been (re)published
    assert(ModelRegistry.lookupTable(
      ModelRegistry.tableKey(spark, s"lshpairs:$d")).isEmpty,
      "cold d22 recomputed the LSH chain instead of reading the cache")
    // the producer skips the byte-equivalent rewrite on a matching
    // fingerprint: the cache files' mtimes must not change across a
    // second d6 run
    def newestMtime(): Long = {
      def walk(f: java.io.File): Seq[Long] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f.lastModified())
      walk(new java.io.File(graft.SparkEntry.d6ClusterCacheDir(d))).max
    }
    val before = newestMtime()
    graft.SparkEntry.queries("d6_dedup_clusters")(spark, d).count()
    assert(newestMtime() == before,
      "d6 rewrote a matching-fingerprint cache (the skip is broken)")
  }

  test("table-cache wipe deletes only d6 cluster-cache entries") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("tablecache")
    val entry = Files.createDirectories(root.resolve("d6clusters_x/clusters"))
    Files.write(entry.resolve("part-0"), Array[Byte](1))
    val other = Files.write(root.resolve("notes.txt"), Array[Byte](1))
    assert(graft.SparkEntry.clearTableCache(root.toString) == "cleared")
    assert(!Files.exists(root.resolve("d6clusters_x")))
    assert(Files.exists(other))
    assert(graft.SparkEntry.clearTableCache(
      root.resolve("nope").toString) == "absent")
  }

  test("simHash is deterministic and separates similar from different") {
    val h = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(h(0L) == h(1L)) // identical docs, identical hash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(2L)) < ham(h(0L), h(3L)))
  }

  test("simHashNearPairs finds identical pair via chunk blocking") {
    val pairs = Dedup.simHashNearPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("hammingNearPairs matches brute force at wider chunk splits") {
    val rnd = new scala.util.Random(3)
    val hs = (1L to 60L).map(i => (i, rnd.nextLong()))
    val planted = Seq(
      (101L, hs(0)._2 ^ 0x3FL),    // 6 bits from id 1 — the blocking edge
      (102L, hs(1)._2 ^ 0x8001L),  // 2 bits from id 2, straddling chunks
      (103L, hs(2)._2))            // exact duplicate of id 3
    val all = hs ++ planted
    val got = Dedup.hammingNearPairs(all.toDF("id", "h"), "id", "h", maxDist = 6)
      .as[(Long, Long, Int)].collect().toSet
    val exp = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(got == exp)
    assert(Set((1L, 101L), (2L, 102L), (3L, 103L)).subsetOf(
      exp.map(p => (p._1, p._2))))
  }

  test("repeatedSubstringSpans finds maximal shared runs, exact positions") {
    def run(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val shared = run("s", 12) // a 12-token span planted in docs 1 and 2
    val doc1 = run("a", 5) ++ shared ++ run("b", 7)   // shared at pos 6..17
    val doc2 = run("c", 9) ++ shared ++ run("d", 3)   // shared at pos 10..21
    val doc3 = run("e", 4) ++ run("f", 8) ++ run("e", 4) // no run >= 8 twice
    val docs = Seq(
      (1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")),
      (3L, doc3.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.repeatedSubstringSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    // maximal span = the full 12 tokens: gram starts pos..pos+4 merge (5 grams)
    assert(got == Set((1L, 6L, 17L, 5L), (2L, 10L, 21L, 5L)))
    // within-doc repetition also counts as duplication
    val selfRep = run("x", 10) ++ run("y", 6) ++ run("x", 10)
    val d4 = Seq((4L, selfRep.mkString(" "))).toDF("doc_id", "text")
    val g4 = Dedup.repeatedSubstringSpans(d4, "doc_id", "text", minTokens = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(g4 == Set((4L, 1L, 10L, 1L), (4L, 17L, 26L, 1L)))
    // short docs (< minTokens) never contribute grams
    val short = Seq((5L, "one two three")).toDF("doc_id", "text")
    assert(Dedup.repeatedSubstringSpans(short, "doc_id", "text", 8).count() == 0)
  }

  test("incremental MinHash index: base pairs + increment pairs = full recompute") {
    val real = spark.read.parquet(s"${graft.TestSpark.Sf0001}/documents.parquet")
    val base = real.filter($"doc_id" % 2 === 0)
    val inc = real.filter($"doc_id" % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    Dedup.writeMinHashIndex(base, "doc_id", "text", dir)
    val basePairs = Dedup.minHashLshPairs(base, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val incPairs = Dedup.minHashLshPairsIncremental(
        spark, dir, inc, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fullPairs = Dedup.minHashLshPairs(real, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fullPairs.nonEmpty)
    // every incremental pair touches a new doc; the base set has the rest
    assert(incPairs.forall(p => p._1 % 2 == 1 || p._2 % 2 == 1))
    assert((basePairs ++ incPairs) == fullPairs)
  }

  test("sentenceDedup keeps the canonical occurrence per sentence") {
    val got = Dedup.sentenceDedup(
        Seq(
          (1L, "Alpha beta. Shared line."),
          (2L, "Gamma delta. Shared line."),
          (3L, "Shared line."))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 is canonical for "Shared line." (min (id, ordinal));
    // doc 2 loses it but keeps its own body; doc 3 loses everything
    assert(got(1L) == ((2L, 2L, Some("Alpha beta. Shared line."))))
    assert(got(2L) == ((2L, 1L, Some("Gamma delta."))))
    assert(got(3L) == ((1L, 0L, None)))
  }

  test("boilerplateLines removes by within-domain df share, per domain") {
    val docs = Seq(
      // domain A (4 docs): "foot" in 4/4 (removed), "half" in 2/4
      // (50% > 25%, removed), "rare1" df=1 (kept even though other
      // domains also have it — df is per-domain)
      (1L, "A", "body one\nhalf\nfoot"),
      (2L, "A", "body two\nhalf\nfoot"),
      (3L, "A", "body three\nrare1\nfoot"),
      (4L, "A", "foot"), // every line boilerplate -> null text_clean
      // domain B (3 docs): "foot" in 1/3 (33% > 25% BUT df=1 < minDf=2:
      // kept), "rare1" in 1/3 kept
      (5L, "B", "other body\nfoot"),
      (6L, "B", "rare1"),
      (7L, "B", "b seven"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.boilerplateLines(docs, "doc_id", "text", "source")
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 1L, Some("body one"))))
    assert(got(2L) == ((3L, 1L, Some("body two"))))
    assert(got(3L) == ((3L, 2L, Some("body three\nrare1"))))
    assert(got(4L) == ((1L, 0L, None)))
    // domain B untouched: A's boilerplate verdicts don't leak across
    assert(got(5L) == ((2L, 2L, Some("other body\nfoot"))))
    assert(got(6L) == ((1L, 1L, Some("rare1"))))
    assert(got(7L) == ((1L, 1L, Some("b seven"))))
  }

  test("segmentDedup is the identity on an all-unique corpus") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 50)
      .map(i => (i.toLong,
        (1 to (1 + rnd.nextInt(90))).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 10)
      .as[(Long, Long, Long, Option[String])].collect()
    val texts = docs.as[(Long, String)].collect().toMap
    assert(got.length == 50)
    got.foreach { case (id, nSegs, nKept, td) =>
      assert(nSegs == nKept, s"doc $id lost segments without duplicates")
      assert(td.contains(texts(id)), s"doc $id text changed")
    }
  }

  test("removeRepeatedSubstrings cuts all occurrences, keeps the rest in order") {
    def run(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val shared = run("s", 10)
    val doc1 = run("a", 3) ++ shared ++ run("b", 4)  // span at pos 4..13
    val doc2 = shared ++ run("c", 5)                  // span at pos 1..10
    val doc3 = run("d", 6)                            // untouched (short, unique)
    val docs = Seq(
      (1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")),
      (3L, doc3.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSubstrings(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 17L, 7L,
      Some((run("a", 3) ++ run("b", 4)).mkString(" ")))))
    assert(got(2L) == ((2L, 15L, 5L, Some(run("c", 5).mkString(" ")))))
    assert(got(3L) == ((3L, 6L, 6L, Some(doc3.mkString(" ")))))
    // a doc that is entirely one repeated run vanishes (null text)
    val dup = Seq((4L, shared.mkString(" ")), (5L, shared.mkString(" ")))
      .toDF("doc_id", "text")
    val g4 = Dedup.removeRepeatedSubstrings(dup, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, Option[String])].collect().toSet
    assert(g4 == Set((4L, 10L, 0L, None), (5L, 10L, 0L, None)))
  }

  test("segmentDedup keeps the canonical occurrence of each segment") {
    val A = "a1 a2 a3"; val B = "b1 b2 b3"; val C = "c1 c2 c3"
    val docs = Seq(
      (1L, s"$A $B"),  // both segments canonical
      (2L, s"$B $C"),  // B already seen in doc 1
      (3L, A),         // fully duplicated -> null text
      (4L, s"$C $C")   // in-doc repeat, second occurrence dropped
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 3)
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 2L, Some(s"$A $B"))))
    assert(got(2L) == ((2L, 2L, 1L, Some(C))))
    assert(got(3L) == ((3L, 1L, 0L, None)))
    // C's canonical occurrence is (2, seg 1), so doc 4 keeps neither copy...
    assert(got(4L) == ((4L, 2L, 0L, None)))
    // ...but owns the canonical when it is the earliest doc for a segment
    val solo = Seq((5L, s"$C $C")).toDF("doc_id", "text")
    val g5 = Dedup.segmentDedup(solo, "doc_id", "text", segTokens = 3)
      .as[(Long, Long, Long, Option[String])].collect()
    assert(g5.toSeq == Seq((5L, 2L, 1L, Some(C))))
    // short tail: a 4-token doc yields a 3-token and a 1-token segment
    val tail = Seq((6L, "a1 a2 a3 a4")).toDF("doc_id", "text")
    val g6 = Dedup.segmentDedup(tail, "doc_id", "text", segTokens = 3)
      .as[(Long, Long, Long, Option[String])].collect()
    assert(g6.toSeq == Seq((6L, 2L, 2L, Some("a1 a2 a3 a4"))))
  }

  test("resolveClusters keeps the best-scoring member, ties to lowest id") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1: 2 has the best score
      (10L, 10L), (11L, 10L),       // cluster 10: tied scores -> keep 10
      (20L, 20L), (21L, 20L)        // cluster 20: 21 has NO score row
    ).toDF("id", "cluster")
    val scores = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.5), (10L, 0.7), (11L, 0.7), (20L, 0.1)
    ).toDF("id", "quality")
    val got = Dedup.resolveClusters(clusters, scores)
      .as[(Long, Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 7) // every clustered doc appears exactly once...
    assert(got.filter(_._2._4).keySet == Set(2L, 10L, 20L))
    // the removal list is the complement, cluster-labelled
    assert(got.filterNot(_._2._4).keySet == Set(1L, 3L, 11L, 21L))
    assert(got(11L)._2 == 10L)
    // ...including a scoreless member: resolved (removed, null score),
    // never silently dropped from the result
    assert(got(21L)._3.isEmpty && !got(21L)._4)
  }

  test("urlDedup: canonicalization variants collapse, keeper by score then id") {
    val rows = Seq(
      // five spellings of ONE resource
      (1L, "https://www.Example.COM:443/a/b", 10L),
      (2L, "HTTPS://example.com/a/b/", 30L),
      (3L, "https://example.com/a/b#frag", 30L),
      (4L, "https://www.example.com/a/b", 5L),
      (5L, "https://example.com:443/a/b/#x", 1L),
      // query string survives; trailing slash NOT stripped after '?'
      (6L, "http://h.org:80/p?q=1/", 7L),
      (7L, "http://h.org/p?q=1/", 9L),
      // distinct resources: path case matters, :8080 is not a default port
      (8L, "https://example.com/A/B", 2L),
      (9L, "http://h.org:8080/p", 2L),
      // unparseable string: its own equivalence class, passed through
      (10L, "not a url at all", 4L)
    ).toDF("id", "url", "score")
    val got = Dedup.urlDedup(rows, "id", "url", "score")
      .as[(Long, String, Long)].collect()
      .map(r => r._2 -> ((r._1, r._3))).toMap
    assert(got.size == 5)
    // ids 2 and 3 tie at score 30 -> lowest id wins; group size 5
    assert(got("https://example.com/a/b") == ((2L, 5L)))
    assert(got("http://h.org/p?q=1/") == ((7L, 2L)))
    assert(got("https://example.com/A/B") == ((8L, 1L)))
    assert(got("http://h.org:8080/p") == ((9L, 1L)))
    assert(got("not a url at all") == ((10L, 1L)))
  }

  test("canonicalUrl is idempotent over generated URL shapes and garbage") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gUrl = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("Example.COM", "a.b.example.org", "HOST123.net")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/P/Q", "/p/q/", "/x//", "/p%20q")
      query <- Gen.oneOf("", "?a=1", "?a=1/", "?A=B&c=d")
      frag <- Gen.oneOf("", "#f", "#Frag/ment?x=1")
    } yield s"$scheme://$www$host$port$path$query$frag"
    val gAny = Gen.oneOf(gUrl, Gen.oneOf(
      "", "not a url", "http:/missing.slashes", "://nohost", "x y z",
      "mailto:user@example.com", "//protocol.relative/p"))
    val params = Gen.Parameters.default
    val urls = (1 to 400)
      .flatMap(i => gAny.apply(params, Seed(i.toLong))).distinct
    val out = urls.toDF("url")
      .select(TextAnalytics.canonicalUrl(col("url")).as("c1"))
      .select(col("c1"),
        TextAnalytics.canonicalUrl(col("c1")).as("c2"))
      .as[(String, String)].collect()
    out.foreach { case (c1, c2) =>
      assert(c1 == c2, s"not idempotent: '$c1' -> '$c2'")
    }
  }

  test("urlDedup rejects a null score loudly instead of dropping the group") {
    val rows = Seq((1L, "https://a.example/x", Some(3L)),
        (2L, "https://a.example/x", Option.empty[Long]))
      .toDF("id", "url", "score")
    val e = intercept[Exception] {
      Dedup.urlDedup(rows, "id", "url", "score").collect()
    }
    assert(e.getMessage.contains("null score")
      || e.getCause != null && e.getCause.getMessage.contains("null score"),
      e.getMessage)
  }

  test("boilerplateLines rejects a null domain loudly instead of dropping") {
    // The domain equi-joins are null-rejecting: without the guard a
    // null-domain doc would silently vanish from the output.
    val rows = Seq((1L, Some("A"), "body\nfoot"),
        (2L, Option.empty[String], "body\nfoot"))
      .toDF("doc_id", "source", "text")
    val e = intercept[Exception] {
      Dedup.boilerplateLines(rows, "doc_id", "text", "source").collect()
    }
    assert(e.getMessage.contains("null domain")
      || e.getCause != null && e.getCause.getMessage.contains("null domain"),
      e.getMessage)
  }

  test("crossSourceOverlap: hand matrix, Jaccard lattice, hub guard") {
    import spark.implicits._
    val docs = Seq(
      ("t1", "s1"), ("t1", "s2"), ("t1", "s3"),
      ("t2", "s1"), ("t3", "s2"),
      ("t2", "s1") // within-source duplicate collapses first
    ).toDF("text", "source")
    val got = Dedup.crossSourceOverlap(docs, "text", "source")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // totals: s1 = {t1,t2}, s2 = {t1,t3}, s3 = {t1}
    assert(got(("s1", "s2")) == ((1L, 2L, 2L, 333333L))) // 1/3
    assert(got(("s1", "s3")) == ((1L, 2L, 1L, 500000L))) // 1/2
    assert(got(("s2", "s3")) == ((1L, 2L, 1L, 500000L)))
    assert(got.size == 3)
    // a fingerprint spanning > maxSourcesPerFp sources fails loudly
    val e = intercept[Exception] {
      Dedup.crossSourceOverlap(docs, "text", "source",
        maxSourcesPerFp = 2).collect()
    }
    assert(e.getMessage.contains("spans more than")
      || e.getCause != null &&
        e.getCause.getMessage.contains("spans more than"), e.getMessage)
    // null source fails loudly
    val e2 = intercept[Exception] {
      Dedup.crossSourceOverlap(
        Seq(("t", Option.empty[String])).toDF("text", "source"),
        "text", "source").collect()
    }
    assert(e2.getMessage.contains("null source")
      || e2.getCause != null &&
        e2.getCause.getMessage.contains("null source"), e2.getMessage)
  }

  test("clusterSizeHistogram: hand spectrum over labeled clusters; " +
      "plain-Scala parity through duplicateClusters on a random graph") {
    import spark.implicits._
    // clusters {1,2} (k=2) and {3,4,5} (k=3)
    val got = Dedup.clusterSizeHistogram(
        Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L))
          .toDF("id", "cluster"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(2L -> ((1L, 2L, 1L)), 3L -> ((1L, 3L, 2L))))
    // random edge set: duplicateClusters → histogram ≡ a plain-Scala
    // union-find + size spectrum
    val rnd = new scala.util.Random(139)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2)
    val gotR = Dedup.clusterSizeHistogram(
        Dedup.duplicateClusters(edges.toDF("id_a", "id_b")))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.groupBy(find).toSeq.map(_._2.size.toLong)
      .groupBy(identity).map { case (k, v) =>
        k -> ((v.size.toLong, k * v.size, (k - 1) * v.size)) }
    assert(gotR == want && want.nonEmpty)
  }
  test("cdcChunkPairs: identical docs reach containment 1e6; a shifted " +
      "prefix still pairs (the CDC claim fixed shingles can't make); " +
      "plain-Scala chunking parity; hot-chunk cap") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    val docs = Seq(
      (1L, base), (2L, base), // exact duplicates
      (3L, "shifted words in front " + base), // prefix-shifted copy
      (4L, "completely different content with no shared phrasing " +
        "whatsoever in any chunk of it at all"))
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunkPairs(docs, "doc_id", "text",
        thresholdE6 = 300000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._6).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1000000L)
    // the shifted copy shares every chunk after the first boundary
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)))
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // independent plain-Scala model of the whole pipeline
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h15(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(15), 16)
    def chunksOf(text: String): Set[Long] = {
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      val bounds = toks.map(t => h15(t) % 8 == 0)
      val idx = bounds.scanLeft(0L)((a, b) => a + (if (b) 1 else 0))
      toks.zip(idx).groupBy(_._2).values
        .map(_.map(_._1))
        .filter(_.size >= 3)
        .map(c => h15(c.mkString(" "))).toSet
    }
    val model = Seq(1L, 2L, 3L, 4L).map(i =>
      i -> chunksOf(Seq(base, base,
        "shifted words in front " + base,
        "completely different content with no shared phrasing " +
          "whatsoever in any chunk of it at all")(i.toInt - 1))).toMap
    val wantPairs = (for {
      a <- Seq(1L, 2L, 3L); b <- Seq(2L, 3L, 4L) if a < b
      shared = (model(a) intersect model(b)).size
      if shared > 0
      minc = math.min(model(a).size, model(b).size)
      cont = (2L * shared * 1000000L + minc) / (2L * minc)
      if cont >= 300000L
    } yield (a, b) -> cont).toMap
    assert(got == wantPairs)
    // a chunk present in MORE than maxDf docs is boilerplate: capped out
    val many = (0L until 12L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.cdcChunkPairs(many, "doc_id", "text", maxDf = 5L)
      .count() == 0L)
  }
}
