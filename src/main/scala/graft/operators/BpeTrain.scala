package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed BPE vocabulary induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — the tokenizer-training step of an LLM data
  * pipeline, run on the corpus the tokenizer will serve.
  *
  * Classic word-level formulation: the unit of work is the WORD VOCABULARY
  * (distinct word, corpus count) — bounded by distinct words, orders of
  * magnitude smaller than the corpus — never the corpus itself. Each round:
  *
  *   1. adjacent-symbol pair counts, weighted by word count — a relational
  *      explode + one hash aggregation over the vocab;
  *   2. argmax pair as a single-row `max(struct(count, left, right))`
  *      aggregate (count first, then lexicographic — deterministic
  *      tie-break, no total sort, one driver-bound row);
  *   3. rewrite each word's symbol array, merging non-overlapping
  *      occurrences left-to-right — a typed map over vocab rows (the
  *      in-array merge is inherently sequential; everything around it
  *      stays relational), checkpointed every few rounds to keep the
  *      plan bounded rather than O(numMerges) deep.
  *
  * At 100 TB: the corpus is read once (word counting); every subsequent
  * round touches only the vocab table (~10^7-10^8 rows for web text), and
  * driver traffic is one (pair, count) row per merge. numMerges Spark
  * jobs is inherent to BPE's sequential-merge definition.
  */
object BpeTrain {

  /** End-of-word sentinel symbol (kept multi-char so it can never collide
    * with a real character symbol).
    */
  val EndOfWord = "</w>"

  private[operators] def mergePair(
      syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Learned merge table: (rank, left, right, pair_count), rank 1 = first
    * merge. Stops early when no pair reaches `minCount`.
    */
  /** UTF-8 unsigned byte order — what Spark's UTF8String comparison
    * (and so the distributed argmax's `max(struct(cnt, l, r))` string
    * tie-break) uses. Scala's default String ordering compares UTF-16
    * code units, which diverges for non-BMP symbols, so the driver
    * fast path must not use it.
    */
  private val Utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var res = 0
    while (i < n && res == 0) { res = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (res != 0) res else x.length - y.length
  }

  def learnMerges(
      docs: DataFrame, textCol: String,
      numMerges: Int, minCount: Long = 2L,
      checkpointEvery: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // (distinct word, corpus count) -> initial symbol seq: chars + </w>.
    // The one corpus-wide pass; everything after runs on the vocab.
    // The vocab is orders smaller than the corpus (distinct words), but
    // it inherits the corpus aggregation's partition count — and every
    // one of the `numMerges` rounds then schedules that many tasks for
    // a table of ~10^4-10^8 rows. Right-size it once before the loop:
    // per-round task count tracks the vocab, not the corpus scan.
    val vocabParts = math.max(8,
      spark.sparkContext.defaultParallelism / 4)
    var vocab = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(
        concat(split(col("word"), ""), array(lit(EndOfWord))).as("syms"),
        col("wc"))
      .as[(Seq[String], Long)]
      .repartition(vocabParts)
      .localCheckpoint()

    // Sub-cap driver fast path — the [[Graph.propagate]] /
    // [[Dedup.resolveClusters]] discipline: the loop state is the vocab
    // (already driver-collectable when small) and the arithmetic exact
    // longs, so a sub-cap vocabulary iterates as plain Scala — ZERO
    // Spark jobs per merge round instead of one argmax job each — with
    // bit-identical merges (pair counts are exact; the argmax tie-break
    // replays max(struct(cnt, l, r))'s UTF8 binary string order via
    // [[Utf8Order]]). Over the cap (or with the twins switched off) the
    // distributed loop below runs unchanged; the probe costs one count
    // job that moves a single long.
    if (Guards.fitsDriver(vocab, Guards.DriverCapRows)) {
      var v = vocab.collect()
      val out = ArrayBuffer.empty[(Int, String, String, Long)]
      var rk = 1
      var stop = false
      while (rk <= numMerges && !stop) {
        val counts = scala.collection.mutable.HashMap
          .empty[(String, String), Long]
        for ((syms, wc) <- v) {
          var i = 0
          while (i + 1 < syms.length) {
            val k = (syms(i), syms(i + 1))
            counts.update(k, counts.getOrElse(k, 0L) + wc)
            i += 1
          }
        }
        if (counts.isEmpty) stop = true
        else {
          val ((l, r), cnt) = counts.maxBy { case ((l, r), c) => (c, l, r) }(
            Ordering.Tuple3(Ordering.Long, Utf8Order, Utf8Order))
          if (cnt < minCount) stop = true
          else {
            out += ((rk, l, r, cnt))
            v = v.map { case (syms, wc) => (mergePair(syms, l, r), wc) }
            rk += 1
          }
        }
      }
      return out.toSeq.toDF("rank", "left", "right", "pair_count")
    }

    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // pair counts: zip the symbol array against its own tail — pure
      // column functions, one hash aggregate over the exploded pairs
      // head() as a Row, not a typed tuple: when every word is fully
      // merged the pair table is empty and the global max aggregate
      // returns one row holding a NULL struct — a typed decode would
      // throw on the primitive Long instead of stopping cleanly.
      val best = vocab.toDF("syms", "wc")
        .select(col("wc"),
          explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
            slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("wc").as("cnt"))
        .agg(max(struct(col("cnt"), col("l"), col("r"))).as("m"))
        .select(col("m.cnt"), col("m.l"), col("m.r"))
        .head()
      if (best.isNullAt(0) || best.getLong(0) < minCount) done = true
      else {
        val (cnt, l, r) = (best.getLong(0), best.getString(1), best.getString(2))
        merges += ((rank, l, r, cnt))
        // Rewrites chain lazily; checkpoint every few rounds so the plan
        // stays O(checkpointEvery) deep but the per-round job count stays
        // 1 (the argmax), not 2 — within the window each argmax replays
        // at most checkpointEvery cheap map passes over the vocab.
        vocab = vocab.map { case (syms, wc) => (mergePair(syms, l, r), wc) }
        if (rank % checkpointEvery == 0) vocab = vocab.localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Tokenize text with a learned merge list: per-word replay of the
    * merges in rank order (the standard apply-BPE loop), emitted as
    * (id, tokens). The merge table is driver-collected — it is the
    * tokenizer model (30k-100k rows), broadcast implicitly via the
    * closure; the corpus side is one typed map, no shuffle.
    */
  def applyMerges(
      docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked: Map[(String, String), Int] = merges
      .select("rank", "left", "right")
      .as[(Int, String, String)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).zipWithIndex.toMap // (l, r) -> priority
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // Per-partition word-level memo: the encode loop runs once per
        // DISTINCT word seen by the partition, not once per occurrence —
        // the same vocab-not-corpus contract learnMerges runs on (a
        // Zipf corpus repeats its head words constantly). Capped so a
        // pathological all-unique-words partition degrades to uncached
        // encoding instead of unbounded executor state.
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        val cap = 1 << 20
        it.map { case (id, text) =>
          (id,
            text.split(" ").iterator.filter(_.nonEmpty)
              .flatMap { w =>
                if (memo.size < cap)
                  memo.getOrElseUpdate(w, encodeWord(w, ranked))
                else memo.getOrElse(w, encodeWord(w, ranked))
              }.toSeq)
        }
      }
      .toDF("id", "tokens")
  }

  /** Tokenizer fertility report by language — the standard tokenizer
    * evaluation (how many subword tokens per whitespace word, how many
    * characters per token) that decides whether a trained vocabulary
    * serves each language fairly: high fertility on a language means
    * its texts pay more sequence length per word of content.
    *
    * Per language: doc/word/token/char totals plus
    * `fertility_e4` = ⌊Σtokens·10⁴/Σwords + ½⌋ and
    * `chars_per_token_e4` = ⌊Σchars·10⁴/Σtokens + ½⌋ (scaled-BIGINT
    * outputs, the hashed-output discipline; NULL on a zero
    * denominator, never ±Inf).
    *
    * Shape: [[applyMerges]]' scan-side encode (merge table is
    * model-sized, driver-held) and the lang/word/char projection are
    * two passes over the corpus joined on id — narrow (id, counts)
    * rows, one equi-shuffle each — then one language-keyed aggregate
    * with map-side partials (≤ |langs| rows cross the wire per task).
    * Docs the encoder empties stay in the totals via the left join.
    */
  def fertilityByLang(
      docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val toks = applyMerges(docs, idCol, textCol, merges)
      .select(col("id"), size(col("tokens")).cast("long").as("n_tok"))
    val base = docs.select(col(idCol).as("id"),
      TextAnalytics.langIdColumn(col(textCol)).as("lang"),
      size(filter(split(col(textCol), " "), w => w =!= ""))
        .cast("long").as("n_words"),
      length(col(textCol)).cast("long").as("n_chars"))
    base.join(toks, Seq("id"), "left")
      .select(col("lang"), col("n_words"), col("n_chars"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        when(sum("n_words") === 0, lit(null))
          .otherwise(floor(
            sum("n_tok") * lit(10000.0) / sum("n_words") + lit(0.5)))
          .cast("long").as("fertility_e4"),
        when(sum("n_tok") === 0, lit(null))
          .otherwise(floor(
            sum("n_chars") * lit(10000.0) / sum("n_tok") + lit(0.5)))
          .cast("long").as("chars_per_token_e4"))
  }

  /** Apply-BPE loop for one word: repeatedly take the lowest-priority
    * applicable merge, exactly as training ordered them. Object-level so
    * the executor closure captures only the (serializable) merge map.
    */
  private[operators] def encodeWord(
      word: String, ranked: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = word.split("").toSeq :+ EndOfWord
    var changed = true
    while (changed && syms.length > 1) {
      val cand = syms.zip(syms.tail).flatMap(p => ranked.get(p).map(p -> _))
      if (cand.isEmpty) changed = false
      else {
        val ((l, r), _) = cand.minBy(_._2)
        syms = mergePair(syms, l, r)
      }
    }
    syms
  }
}
