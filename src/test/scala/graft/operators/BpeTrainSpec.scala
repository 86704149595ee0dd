package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // UTF-8 unsigned byte order — what Spark's UTF8String comparison (and
  // so the operator's max(struct(cnt, l, r)) argmax) uses. Scala's
  // default String ordering compares UTF-16 code units, which diverges
  // for non-BMP symbols (surrogate range sorts above U+E000..U+FFFF in
  // UTF-16 but below in UTF-8), so the reference model must not use it.
  private val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var res = 0
    while (i < n && res == 0) { res = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (res != 0) res else x.length - y.length
  }

  // Independent plain-Scala BPE (Sennrich alg. 1) — the model the
  // distributed operator must reproduce merge-for-merge.
  private def refBpe(
      words: Seq[String], numMerges: Int,
      minCount: Long): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Seq[String], Long] = words
      .groupBy(identity).map { case (w, ws) =>
        (w.split("").toSeq :+ BpeTrain.EndOfWord) -> ws.size.toLong
      }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var stop = false
    while (rank <= numMerges && !stop) {
      val counts = vocab.toSeq
        .flatMap { case (s, c) => s.zip(s.tail).map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (counts.isEmpty) stop = true
      else {
        // same tie-break as max(struct(cnt, l, r)): count, then l, then r
        // (strings in UTF-8 byte order, matching UTF8String)
        val ((l, r), cnt) = counts.maxBy { case ((l, r), c) => (c, l, r) }(
          Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order))
        if (cnt < minCount) stop = true
        else {
          out += ((rank, l, r, cnt))
          vocab = vocab.map { case (s, c) =>
            BpeTrain.mergePair(s, l, r) -> c
          }
          rank += 1
        }
      }
    }
    out.result()
  }

  test("hand-checked merges on a three-word corpus") {
    val docs = Seq("aa aa ab").toDF("text")
    val got = BpeTrain.learnMerges(docs, "text", numMerges = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    // (a,a) x2 beats (a,</w>) x2 on the r tie-break ('a' > '<')
    assert(got == Seq((1, "a", "a", 2L), (2, "aa", BpeTrain.EndOfWord, 2L)))
  }

  test("merge table equals the reference implementation on sf0.001 docs") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val words = docs.selectExpr("explode(split(text, ' ')) AS w")
      .filter("w <> ''").as[String].collect().toSeq
    val expected = refBpe(words, numMerges = 12, minCount = 2L)
    val got = BpeTrain.learnMerges(docs, "text", numMerges = 12)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("driver fast path ≡ distributed loop (cap 0) on sf0.001 docs") {
    // the r13 sub-cap driver loop must be merge-for-merge identical to
    // the distributed argmax rounds — including the UTF8-binary string
    // tie-break and the minCount early stop
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val fast = BpeTrain.learnMerges(docs, "text", numMerges = 12)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val dist = TestSpark.distributed {
      BpeTrain.learnMerges(docs, "text", numMerges = 12)
        .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    }
    assert(fast == dist)
  }

  test("learnMerges stops cleanly when the vocabulary fully merges") {
    // one word: after (a, </w>) merges, no pairs remain — rounds 2..10
    // must stop on the empty pair table, not crash decoding a null argmax
    val got = BpeTrain.learnMerges(Seq("a a a").toDF("text"), "text",
        numMerges = 10)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", BpeTrain.EndOfWord, 3L)))
  }

  test("applyMerges reproduces the trained rewrite of training words") {
    val docs = Seq("aa aa ab").toDF("text")
    val merges = BpeTrain.learnMerges(docs, "text", numMerges = 2)
    val enc = BpeTrain.applyMerges(
        Seq((1L, "aa ab"), (2L, "aa aa")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    assert(enc(1L) == Seq("aa</w>", "a", "b", BpeTrain.EndOfWord))
    assert(enc(2L) == Seq("aa</w>", "aa</w>"))
  }

  test("fertilityByLang: hand-computed per-language token/word/char ratios") {
    val train = Seq("aa aa ab").toDF("text")
    val merges = BpeTrain.learnMerges(train, "text", numMerges = 2)
    // encodings under those merges: "aa" -> [aa</w>] (1 token),
    // "ab" -> [a, b, </w>] (3 tokens)
    val docs = Seq(
      (1L, "the aa ab"), // en: 3 words, "the" -> t h e </w> = 4 toks -> 8
      (2L, "aa aa"),     // und: 2 words, 2 tokens
      (3L, "ab")         // und: 1 word, 3 tokens
    ).toDF("doc_id", "text")
    val got = BpeTrain.fertilityByLang(docs, "doc_id", "text", merges)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val en = got("en")
    assert(en.getAs[Long]("n_docs") == 1 && en.getAs[Long]("n_words") == 3)
    assert(en.getAs[Long]("n_tokens") == 8 && en.getAs[Long]("n_chars") == 9)
    // floor(8*1e4/3 + .5) = 26667; floor(9*1e4/8 + .5) = 11250
    assert(en.getAs[Long]("fertility_e4") == 26667L)
    assert(en.getAs[Long]("chars_per_token_e4") == 11250L)
    val und = got("und")
    assert(und.getAs[Long]("n_docs") == 2 && und.getAs[Long]("n_words") == 3)
    assert(und.getAs[Long]("n_tokens") == 5 && und.getAs[Long]("n_chars") == 7)
    // floor(5*1e4/3 + .5) = 16667; floor(7*1e4/5 + .5) = 14000
    assert(und.getAs[Long]("fertility_e4") == 16667L)
    assert(und.getAs[Long]("chars_per_token_e4") == 14000L)
  }
}
