package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document deduplication operators for the training-data pipeline:
  * exact (hash group-by), n-gram Jaccard (shingle-inverted-index join),
  * MinHash + LSH banding, and SimHash near-dup blocking.
  *
  * All are expressed as shuffle-bounded DataFrame plans: the quadratic
  * all-pairs comparison never materializes — candidate pairs come from
  * equi-joins on shingles / band keys / simhash chunks, so at 100 TB the
  * cost is the inverted-index shuffle, not |docs|².
  */
object Dedup {

  /** The removal half of ExactSubstr: cut every token that lies inside a
    * repeated >= minTokens run ([[repeatedSubstringSpans]]) out of the
    * corpus — ALL occurrences go (the paper's default; keeping one
    * canonical copy is [[segmentDedup]]'s contract at segment
    * granularity). Emits per doc the original/kept token counts and the
    * cleaned text (null when everything was duplicated).
    *
    * Shape: the span table is tiny relative to the corpus (one row per
    * maximal duplicated run); tokens anti-join it on the doc id with a
    * position-range predicate — an equi-join on id with a residual
    * filter, not a theta join — then one group-by-doc reassembly.
    */
  def removeRepeatedSubstrings(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20): DataFrame = {
    val spans = repeatedSubstringSpans(docs, idCol, textCol, minTokens)
      .select(col("id").as("sid"), col("span_start"), col("span_end"))
    val toks = TextFunctions.tokens(col(textCol))
    // `base` feeds two plans (the explode/anti-join branch and the final
    // n_tokens join) — checkpoint the tokenized frame once so the corpus
    // is tokenized here a single time, not per consumer (the same
    // multi-consumer rationale as the shingle table in minHashLshPairs).
    val base = docs.select(col(idCol).cast("long").as("id"),
      toks.as("w"), size(toks).cast("long").as("n_tokens"))
      .localCheckpoint()
    val kept = base
      .select(col("id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
      .join(spans,
        col("id") === col("sid") &&
          col("pos").between(col("span_start"), col("span_end")),
        "left_anti")
      .groupBy("id").agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("text_clean"))
    base.select("id", "n_tokens")
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("text_clean"))
  }

  /** Segment-level exact dedup (the CCNet / RefinedWeb "line dedup" pass,
    * generalized): split every document into fixed-width token segments,
    * keep only the canonical occurrence of each distinct segment — the
    * minimal (doc, position) — and reassemble the surviving text in
    * order. Boilerplate shared across documents (headers, footers,
    * templated spans) survives exactly once, corpus-wide.
    *
    * Output per doc: total and kept segment counts plus the deduped text
    * (null when every segment was a duplicate of an earlier doc's).
    *
    * Shape: the canonical occurrence per segment is a `min(struct(id,
    * pos))` aggregate — map-side partials collapse a boilerplate segment
    * to ONE row per partition before it shuffles, so a segment occurring
    * 10⁹ times costs 10⁹ CPU-side comparisons but never lands 10⁹ rows
    * on one reducer (a `row_number` window over the segment would). The
    * join back re-shuffles the segment rows; a hot key there is an
    * equi-join AQE can skew-split — windows it cannot. Then one
    * group-by-doc reassembly; the in-doc re-order runs over each doc's
    * kept segments only (`array_sort` of a collected struct list), never
    * a corpus sort.
    */
  def segmentDedup(
      docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextFunctions.tokens(col(textCol))
    val segs = docs
      .select(col(idCol).cast("long").as("id"), toks.as("w"), size(toks).as("n"))
      .select(col("id"), col("w"),
        explode(sequence(lit(0),
          floor((col("n") - 1).cast("double") / segTokens).cast("int"))).as("si"))
      .select(col("id"), col("si").cast("long").as("seg_idx"),
        concat_ws(" ", slice(col("w"), col("si") * segTokens + 1, lit(segTokens)))
          .as("seg"))
    val canon = segs.groupBy("seg")
      .agg(min(struct(col("id"), col("seg_idx"))).as("c"))
    segs.join(canon, Seq("seg"))
      .withColumn("keep",
        col("c.id") === col("id") && col("c.seg_idx") === col("seg_idx"))
      .groupBy("id").agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg"))).as("td"))
      // null = nothing survived (kept-but-empty segments stay "")
      .select(col("id"), col("n_segs"), col("n_kept"),
        when(col("n_kept") > 0, col("td")).as("text_dedup"))
  }

  /** Sentence-level exact dedup — [[segmentDedup]]'s policy on LINGUISTIC
    * boundaries: documents split by [[TextAnalytics.sentenceSplit]]
    * (RE2-safe rule segmenter), each distinct sentence keeps its
    * canonical occurrence (minimal (doc, ordinal)), and surviving
    * sentences reassemble in order. Fixed token windows (segmentDedup)
    * cut mid-sentence and miss duplicates that shift by a word;
    * sentence boundaries are the form sentence-level corpus dedup
    * actually wants.
    *
    * Same scale shape as segmentDedup: canonical = min(struct) aggregate
    * (map-side partials collapse a boilerplate sentence to one row per
    * partition), equi-join back (AQE skew-splittable), per-doc
    * reassembly sorts that doc's sentences only.
    *
    * Output per doc: (id, n_sents, n_kept, text_dedup — null when every
    * sentence was a duplicate of an earlier doc's).
    */
  def sentenceDedup(
      docs: DataFrame, idCol: String, textCol: String,
      abbrevs: Seq[String] = TextAnalytics.DefaultAbbrevs): DataFrame = {
    val sents = TextAnalytics.sentenceSplit(docs, idCol, textCol, abbrevs)
    val canon = sents.groupBy("sentence")
      .agg(min(struct(col("id"), col("sent_idx"))).as("c"))
    sents.join(canon, Seq("sentence"))
      .withColumn("keep",
        col("c.id") === col("id") && col("c.sent_idx") === col("sent_idx"))
      .groupBy("id").agg(
        count(lit(1)).as("n_sents"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("sent_idx"), col("sentence"))))),
            x => x.getField("sentence"))).as("td"))
      .select(col("id"), col("n_sents"), col("n_kept"),
        when(col("n_kept") > 0, col("td")).as("text_dedup"))
  }

  /** Domain-level boilerplate line removal — the CCNet/RefinedWeb
    * companion to [[segmentDedup]] with the OTHER policy: a line whose
    * within-domain document frequency share exceeds `maxShareE6` (and
    * df >= `minDf`) is boilerplate and is removed from EVERY document
    * (nav bars, cookie banners, per-site footers), where segmentDedup
    * keeps one canonical occurrence corpus-wide.
    *
    * The share test is exact integer arithmetic on the 1e-6 lattice:
    * df·10⁶ > maxShareE6·n_docs — no division, no float, so every
    * engine draws the same boundary.
    *
    * Shape: one posexplode of lines, a (domain, line) df aggregate
    * (count_distinct collapses map-side — a domain-wide footer lands
    * one row per partition on the exchange, never one per occurrence),
    * a domain-sized doc-count aggregate (AQE broadcasts it), the
    * equi-join back (hot boilerplate keys are skew-splittable), and a
    * per-doc reassembly whose sort is over THAT doc's lines only.
    *
    * Output per doc: (id, n_lines, n_kept, text_clean) — text_clean
    * null when every line was boilerplate.
    */
  def boilerplateLines(
      docs: DataFrame, idCol: String, textCol: String, domainCol: String,
      minDf: Int = 2, maxShareE6: Long = 250000L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1 (got $minDf)")
    require(maxShareE6 >= 0 && maxShareE6 <= 1000000L,
      s"maxShareE6 must be on [0, 1e6] (got $maxShareE6)")
    // A null domain would be silently dropped by the null-rejecting
    // equi-joins below (the doc vanishes from the output entirely), so
    // fail loudly instead — the urlDedup null-score discipline.
    val domainChecked = when(col(domainCol).isNull,
        raise_error(concat(
          lit("boilerplateLines: null domain for id "),
          col(idCol).cast("string"))))
      .otherwise(col(domainCol).cast("string"))
    val lines = docs.select(
      col(idCol).cast("long").as("id"),
      domainChecked.as("domain"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val dfTab = lines.groupBy("domain", "line")
      .agg(count_distinct(col("id")).as("df"))
    val nd = docs.groupBy(col(domainCol).cast("string").as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    lines
      .join(dfTab, Seq("domain", "line"))
      .join(nd, Seq("domain"))
      .withColumn("keep",
        !(col("df") >= minDf &&
          col("df") * lit(1000000L) > lit(maxShareE6) * col("n_docs")))
      .groupBy("id").agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("line"))))),
            x => x.getField("line")), "\n").as("tc"))
      .select(col("id"), col("n_lines"), col("n_kept"),
        when(col("n_kept") > 0, col("tc")).as("text_clean"))
  }

  /** Exact-substring duplicate spans (the ExactSubstr pass of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): every maximal token run of length >= L
    * that occurs more than once in the corpus (across documents or
    * within one), reported per document as (span_start, span_end) token
    * positions (1-based, inclusive). Composes with [[segmentDedup]]-style
    * canonical selection when the caller wants removal rather than
    * detection.
    *
    * Shape: every L-token gram is hashed at the scan (the L× blowup is
    * CPU in the projection, never shuffled — the exchange carries only
    * (id, pos, hash64)); duplicated grams come from a count-aggregate
    * over the gram hash — map-side partials collapse a corpus-wide
    * boilerplate gram to one row per partition (a count *window* would
    * sort every occurrence on one reducer) — semi-joined back against
    * the gram rows (an equi-join AQE can skew-split); maximal runs
    * merge consecutive duplicated starts with the pos − row_number
    * sessionize trick (one shuffle on the doc id). No suffix array, no
    * driver state — the exchanges carry 12-byte (id, pos, hash) rows.
    */
  def repeatedSubstringSpans(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = minTokens
    val toks = TextFunctions.tokens(col(textCol))
    val grams = Guards.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).cast("long").as("id"), toks.as("w"), size(toks).as("n"))
      .filter(col("n") >= L)
      .select(col("id"), col("w"),
        explode(sequence(lit(1), col("n") - (L - 1))).as("pos"))
      .select(col("id"), col("pos"),
        xxhash64(concat_ws(" ", slice(col("w"), col("pos"), lit(L)))).as("gh"))
    val dupKeys = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val dup = grams.join(dupKeys.select("gh"), Seq("gh"), "left_semi")
    dup
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("id").orderBy("pos")))
      .groupBy("id", "grp")
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") + (L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("id", "span_start", "span_end", "n_grams")
  }

  /** Exact duplicate groups: md5(text) -> (digest, n_docs, canonical id). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(count("*").as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** URL-level dedup — the FIRST dedup pass a web-crawl pipeline runs
    * (cheaper than any content hash: no text touched): group documents
    * by [[TextAnalytics.canonicalUrl]] and keep exactly one per
    * canonical URL — the highest `scoreCol` (crawl freshness, length,
    * quality…), ties to the smallest id, so the keeper is deterministic
    * under any partitioning.
    *
    * The keeper comes from ONE hash aggregate: the lexicographic max of
    * struct(score, −id) picks the highest score and, on ties, the
    * lowest id — no window (no per-URL sort), no join, and the corpus
    * plus its canonicalization regexes are evaluated exactly once.
    * Map-side partials collapse each group before the single exchange.
    * NULL scores raise loudly (a struct max would order them
    * ambiguously and a silent drop would lose the whole group — the
    * depthHistogram null-chrom discipline).
    *
    * Output: one row per canonical URL — (id, url_canon, n_dups).
    */
  def urlDedup(
      docs: DataFrame, idCol: String, urlCol: String,
      scoreCol: String): DataFrame = {
    val base = docs.select(
      col(idCol).cast("long").as("id"),
      graft.operators.TextAnalytics.canonicalUrl(col(urlCol))
        .as("url_canon"),
      when(col(scoreCol).isNull,
        raise_error(concat(lit("urlDedup: null score for id "),
          col(idCol).cast("string"))))
        .otherwise(col(scoreCol)).as("s"))
    base.groupBy("url_canon")
      .agg(count(lit(1)).as("n_dups"),
        max(struct(col("s").as("s"), (-col("id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("id"), col("url_canon"), col("n_dups"))
  }

  /** Distinct (id, shkey) rows: every distinct n-word shingle per doc,
    * identified by a 64-bit xxhash of its token hashes — smaller to
    * shuffle than the shingle string; collision odds across <2^32
    * distinct shingles are negligible and only perturb one candidate
    * count by 1. Shared by the Jaccard/MinHash family here and by
    * [[Decontamination]].
    */
  /** Per-doc shingle SET as one row: (id, ss: array<long>) for every doc
    * with at least one n-gram — the shared root of the whole
    * Jaccard/MinHash/decontamination family.
    *
    * Shingling is a function of ONE document's token array, so it runs
    * as a fused per-row kernel inside whole-stage codegen
    * ([[graft.functions.ShingleKeysExpr]]): the scan stage emits
    * finished shingle sets with ZERO exchanges. The relational
    * formulation this replaces ([[shingleOccurrencesLegacy]], kept for
    * the parity spec) paid two corpus-sized shuffles before the first
    * join — every token occurrence through the lead-window sort, every
    * distinct shingle through the collect_set aggregate. At 100 TB those
    * two exchanges carry ~the corpus; this carries nothing.
    * (The earlier higher-order-function attempt was interpreted
    * expression-eval, ~20µs per shingle — a native `doGenCode`
    * expression is what makes the per-row form the fast one.)
    * `spread` keeps the kernel out of an unsplittable single-file scan
    * stage.
    */
  private[graft] def shingleSets(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      portable: Boolean = false): DataFrame =
    Guards.spread(docs).select(
        col(idCol).as("id"),
        array_distinct(graft.functions.ShingleFunctions.shingleKeys(
          TextFunctions.tokens(col(textCol)), n, portable)).as("ss"))
      .filter(size(col("ss")) > 0)

  /** The legacy relational shingle pipeline (posexplode -> lead window
    * -> hash), kept solely as the independent oracle for
    * `ShingleParitySpec`: the kernel above must reproduce its (id,
    * shkey) multiset bit-for-bit in both hash families.
    */
  private[graft] def shingleOccurrencesLegacy(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokHash: Column => Column =
      if (portable) portableTokenHash else (c => xxhash64(c))
    val tok = Guards.spread(docs).select(
        col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), tokHash(col("t")).as("th"))
    val w = Window.partitionBy("id").orderBy("pos")
    val hs = col("th") +: (1 until n).map(k => lead(col("th"), k).over(w))
    tok
      .withColumn("shkey",
        if (portable) portableNgramKey(hs) else xxhash64(hs: _*))
      .withColumn("ok", hs.last.isNotNull)
      .filter(col("ok"))
      .select("id", "shkey")
  }

  /** Portable n-gram key: md5 over the comma-joined decimal token
    * hashes, truncated to 15 hex digits (60 bits) — recomputable by any
    * engine with md5 (the [[portableTokenHash]] contract lifted to
    * n-grams). Same shingle identity modulo negligible collisions; ~2×
    * the cost of xxhash64, so the default stays non-portable.
    */
  private def portableNgramKey(hs: Seq[Column]): Column =
    conv(substring(md5(concat_ws(",", hs.map(_.cast("string")): _*)), 1, 15),
      16, 10).cast("long")

  private[operators] def shingleKeys(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleSets(docs, idCol, textCol, n)
      .select(col("id"), explode(col("ss")).as("shkey"))

  /** [[shingleKeys]] plus the per-doc distinct-shingle count carried on
    * every row — a pure projection of [[shingleSets]] (`size` + explode),
    * so still zero exchanges. The per-doc set array is bounded by one
    * document's distinct shingles — per-doc, never corpus-skewed — which
    * assumes documents of sane size: a multi-hundred-MB crawl artifact
    * would build its whole shingle array in one row, so cap or chunk
    * pathological documents upstream (TextAnalytics.chunkDocs) before
    * corpus-wide dedup, as every major pipeline does anyway.
    */
  private def shingleRows(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      portable: Boolean = false): DataFrame =
    setsToRows(shingleSets(docs, idCol, textCol, n, portable))

  private def setsToRows(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("ss")).as("n_sh"),
      explode(col("ss")).as("shkey"))

  /** [[shingleRows]] with document-frequency-capped keys: shingles in
    * more than `maxDf` documents are dropped from the index via a
    * count-aggregate + anti join (map-side partials collapse a hot key
    * to one row per partition; the hot set is stop-shingle-sized, so
    * AQE broadcasts the anti join and hot occurrences die map-side,
    * never shuffling). Per-doc totals (`n_sh`) are computed before the
    * cap, so intersection-over-total scores built on this index stay
    * exact for pairs whose shingles are all under the cap.
    */
  private[graft] def cappedShingleIndex(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Int): DataFrame = {
    val sh0 = shingleRows(docs, idCol, textCol, n)
    if (maxDf <= 0) sh0
    else {
      // The df pass and the index BOTH consume the occurrence table, so
      // without a materialization the corpus tokenizes+shingles twice per
      // score. Whether materializing wins is data-sized: the checkpoint's
      // fixed write+read overhead loses to a second pass over a small
      // corpus (measured: sf0.1's 0.6 MB/5k docs — d14 2.4 → 3.6 s) and
      // wins once the tokenize pass dominates (the 10x corpus — ~1 s per
      // query; at 100 TB a second corpus pass is never the right trade).
      // Gate on the scan's Catalyst size estimate — driver metadata, no
      // probe job — with the crossover overridable per deployment.
      val minBytes = BigInt(docs.sparkSession.conf.get(
        "spark.graft.shingle.materializeOccurrencesMinBytes",
        (2L * 1024 * 1024).toString))
      val once =
        if (docs.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes)
          sh0.localCheckpoint()
        else sh0
      once.join(
        once.groupBy("shkey").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select("shkey"),
        Seq("shkey"), "left_anti")
    }
  }

  /** All document pairs with n-word-shingle Jaccard >= threshold.
    *
    * |A ∩ B| via an inverted-index self-join on the shingle, |A ∪ B| from
    * per-doc distinct-shingle counts — no array intersection on pairs, no
    * cross join. Output: (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Exactness contract: exact for every pair whose shingles all have
    * document frequency <= `maxDf`. Shingles above the cap are dropped
    * from the index (union denominators stay exact), so a pair whose
    * score depends on ubiquitous boilerplate shingles is scored lower and
    * may fall below the threshold — the deliberate trade that keeps one
    * hot shingle from generating df² candidate rows at corpus scale.
    * `maxDf <= 0` disables the cap for fully exact (skew-exposed) output.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6, maxDf: Int = 1000): DataFrame = {
    // Hot-shingle cap: a shingle appearing in k documents contributes k²/2
    // candidate rows on a single join key, so one ubiquitous "stop shingle"
    // (boilerplate, licence headers) turns the inverted-index join quadratic
    // on web-scale corpora. Shingles with document frequency > maxDf are
    // dropped from the *index* only — per-doc totals (n_sh, the union
    // denominator) are computed first, so surviving intersections score
    // exactly; a capped shingle can only lower a pair's Jaccard, and at
    // df > maxDf it carries ~no similarity signal. The HOT set (df >
    // maxDf) comes from a count aggregate — map-side partials collapse a
    // corpus-wide hot shingle to one (shkey, count) row per partition, so
    // the df pass shuffles ~distinct-keys, never occurrences — and is
    // anti-joined against the index BEFORE the self-join's exchange: the
    // hot set is stop-shingle-sized, AQE broadcasts it, and the hot
    // occurrences are dropped map-side without ever shuffling. (The
    // count-window form this replaces sorted every occurrence of the hot
    // key on a single reducer — the exact skew it existed to prevent.)
    // The capped index feeds BOTH sides of the self-join. ReuseExchange
    // does collapse the two identical shuffle subtrees when it fires, but
    // reuse is best-effort — AQE replanning or memory pressure in a long
    // session can miss it, and then the tokenize/window/dedup pipeline
    // runs once per side (observed as a 2-3× swing on identical code
    // across bench sessions). Materialize the index once, eagerly, to
    // executor-local storage instead — the duplicateClusters discipline.
    // Cost posture at scale: the index was about to be shuffle-written to
    // local disk anyway; the checkpoint trades that same local I/O for a
    // guarantee the upstream pipeline executes exactly once, and
    // truncates lineage so AQE replans only the join stage.
    shinglePairStats(docs, idCol, textCol, n, maxDf)
      .select(
        col("id_a"), col("id_b"),
        (col("n_common") / (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The one-pass inverted-index pair statistics every shingle-overlap
    * score reads off: ONE [[cappedShingleIndex]] (materialized once,
    * eagerly — the ReuseExchange rationale documented in
    * [[ngramJaccardPairs]]), ONE self-join, ONE pair aggregate →
    * (id_a, id_b, n_common, na, nb) with id_a < id_b. Jaccard,
    * containment, and the combined operator are pure projections of
    * this table, so a suite computing several scores shingles the
    * corpus exactly once.
    */
  private def shinglePairStats(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Int): DataFrame = {
    // Still materialized AFTER the cap too: the self-join consumes the
    // capped index twice, and a B2 variant relying on ReuseExchange
    // alone measured noisier and no faster (d21 spiking 4.6 → 6.8 s when
    // reuse missed) — both materializations earn their I/O.
    val sh = cappedShingleIndex(docs, idCol, textCol, n, maxDf)
      .localCheckpoint()
    // shuffle_hash hint on both sides: keeps AQE from broadcast-converting
    // the join — a broadcast side would collect the whole index to the
    // driver, off the table at corpus scale.
    sh.as("a").hint("shuffle_hash")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.shkey") === col("b.shkey") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(
        count("*").as("n_common"),
        first(col("a.n_sh")).as("na"), first(col("b.n_sh")).as("nb"))
  }

  /** Jaccard AND both containments from ONE shingle pass — the
    * operator a dedup suite that wants both signals (symmetric
    * near-dup + doc-inside-doc) should run instead of
    * [[ngramJaccardPairs]] + [[containmentPairs]] back to back, which
    * would build the inverted index (tokenize, shingle, df-cap,
    * self-join) twice for the same corpus. Same skeleton, df-cap
    * contract and exactness posture as the two single-score forms —
    * all three are projections of [[shinglePairStats]], so the scores
    * are IDENTICAL to the separate operators' by construction
    * (spec-pinned anyway).
    *
    * A pair is kept when EITHER signal fires: jaccard >=
    * `jaccardThreshold` OR max(c_ab, c_ba) >= `containThreshold` —
    * the union of the two operators' outputs, each row carrying all
    * three scores. Output: (id_a, id_b, jaccard, c_ab, c_ba) with
    * id_a < id_b.
    */
  def ngramJaccardAndContainment(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, jaccardThreshold: Double = 0.6,
      containThreshold: Double = 0.8, maxDf: Int = 1000): DataFrame =
    shinglePairStats(docs, idCol, textCol, n, maxDf)
      .select(
        col("id_a"), col("id_b"),
        (col("n_common") / (col("na") + col("nb") - col("n_common")))
          .as("jaccard"),
        (col("n_common") / col("na")).as("c_ab"),
        (col("n_common") / col("nb")).as("c_ba"))
      .filter(col("jaccard") >= jaccardThreshold ||
        greatest(col("c_ab"), col("c_ba")) >= containThreshold)

  /** All document pairs where either side's n-word-shingle *containment*
    * meets the threshold: c(A→B) = |A ∩ B| / |A|, the fraction of A's
    * shingles that also appear in B. Containment is the asymmetric
    * cousin of Jaccard and the right signal for doc-inside-doc
    * duplication — a 50-line licence block pasted into a 5000-line file
    * scores c ≈ 1.0 from the fragment's side while the pair's Jaccard
    * is ≈ 1% and invisible to [[ngramJaccardPairs]] at any sane
    * threshold (the "containment" variant of the dedup literature,
    * e.g. Broder's resemblance-vs-containment distinction).
    *
    * Same inverted-index skeleton, cost shape, df-cap contract and
    * materialize-once discipline as [[ngramJaccardPairs]] — per-doc
    * totals precede the cap, so both denominators stay exact and a
    * capped shingle can only lower a score.
    *
    * Output: (id_a, id_b, c_ab, c_ba) with id_a < id_b, kept when
    * greatest(c_ab, c_ba) >= threshold.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = 1000): DataFrame =
    shinglePairStats(docs, idCol, textCol, n, maxDf)
      .select(
        col("id_a"), col("id_b"),
        (col("n_common") / col("na")).as("c_ab"),
        (col("n_common") / col("nb")).as("c_ba"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)

  // Deterministic permutation coefficients for MinHash (seeded, stable
  // across runs — required for reproducible signatures).
  private val MinHashPrime = 4294967311L // first prime > 2^32
  private def coeffs(k: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Seq.fill(k)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Seq.fill(k)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** Modulus of the *portable* MinHash permutation family: first prime
    * above 2^31. Deliberately smaller than [[MinHashPrime]] so that
    * a·h + b (a, b < 2^30; h < p) stays below 2^62 — no 64-bit overflow
    * on either engine, which is what makes the signatures recomputable
    * in plain SQL (the default family's a·h wraps Long.MaxValue inside
    * Spark's codegen; an engine whose BIGINT arithmetic traps on
    * overflow, e.g. DuckDB, can never reproduce the wrapped values).
    */
  val PortableMinHashPrime = 2147483659L

  /** The portable permutation coefficients for (k, seed) — public so a
    * SQL oracle can embed the identical constants as literals.
    */
  def portableMinHashCoeffs(k: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val bound = 1 << 30
    val a = Seq.fill(k)(1L + rnd.nextInt(bound - 1).toLong)
    val b = Seq.fill(k)(rnd.nextInt(bound).toLong)
    (a, b)
  }

  /** Per-doc MinHash signature over n-word shingles, as k concrete
    * `mh0..mh{k-1}` columns.
    *
    * The signature is a function of one document's shingle set, so it is
    * computed per ROW by a fused codegen kernel
    * ([[graft.functions.MinHashSigExpr]]) over the [[shingleSets]]
    * array — no shuffle at all. Identical values to the k-`min`-
    * aggregates relational formulation (min is insensitive to the
    * duplicate keys the set already removed; the kernel VERIFIES at
    * construction that the instantiated permutation family cannot
    * overflow — true for both families at the default seed — so it
    * equals the SQL `pmod` chain under any ANSI mode; a rare seed whose
    * draw would wrap fails with a labeled error where ANSI SQL would
    * raise ARITHMETIC_OVERFLOW at runtime. `ShingleParitySpec` pins
    * parity).
    */
  def minHashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, seed: Long = 42L): DataFrame = {
    val sig = sigArray(shingleSets(docs, idCol, textCol, n), k, seed,
      portable = false)
    sig.select(col("id") +:
      (0 until k).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** (id, sig: array<long>) from (id, ss) shingle sets — pure projection. */
  private def sigArray(
      sets: DataFrame, k: Int, seed: Long, portable: Boolean): DataFrame = {
    val p = if (portable) PortableMinHashPrime else MinHashPrime
    val (as, bs) =
      if (portable) portableMinHashCoeffs(k, seed) else coeffs(k, seed)
    sets.select(col("id"),
      graft.functions.ShingleFunctions.minhashSig(col("ss"), as, bs, p)
        .as("sig"))
  }

  /** MinHash-LSH near-duplicate pairs, verified.
    *
    * Signature -> `bands` band keys (xxhash64 over each signature slice)
    * -> equi-join on (band index, band key) for candidate pairs -> exact
    * shingle Jaccard on the candidates only (count-based, like
    * [[ngramJaccardPairs]], no array materialization). Output schema
    * matches [[ngramJaccardPairs]]; the LSH stage only bounds *recall*,
    * never precision, because of the exact verify step.
    */
  def minHashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, seed: Long = 42L,
      portable: Boolean = false,
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // The shingle-set table feeds every consumer (verify joins on id_a
    // and (id_b, shkey); signatures and band keys), each with a
    // different shuffle key, so ReuseExchange can't share it —
    // checkpoint the SETS once and derive everything else as cheap
    // projections of the materialized arrays (explode for the verify
    // rows; the fused signature/band kernels for the candidates). Local
    // (executor-disk) checkpoint, not a cache: it also truncates lineage
    // so AQE replans only the downstream stages. A caller that already
    // holds the [[sketch]] of the same docs (the streaming bootstrap
    // runs both this and the index build over one micro-batch) passes it
    // via `precomputed` so the batch is sketched once, not twice.
    // `banded` feeds BOTH sides of the candidate self-join as separate
    // aliased subtrees; without materialization the signature kernel
    // (cheap, but still a full pass over the checkpointed sets) runs
    // once per side when exchange reuse misses. It is |docs| × bands
    // rows of 3 longs — checkpointing it is near-free insurance.
    val (sh, banded) = precomputed.getOrElse {
      val sets = shingleSets(docs, idCol, textCol, n, portable)
        .localCheckpoint()
      val b = bandKeyRows(sigArray(sets, k, seed, portable),
        bands, k / bands, portable).localCheckpoint()
      (setsToRows(sets), b)
    }
    // `cand` is referenced three times by the verify step (two semi-joins
    // + the pair join); materialize it so the LSH self-join runs once.
    // Candidates ≈ true near-dup pairs — tiny relative to the corpus.
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint()
    verifyJaccard(sh, cand, threshold)
  }

  /** Two-corpus MinHash-LSH: every verified pair (left doc, right doc)
    * with shingle Jaccard >= threshold — the cross-corpus form of
    * [[minHashLshPairs]] (fuzzy decontamination, cross-crawl dedup).
    * Ids need not be disjoint across the two sides; `id_a` is always the
    * left corpus, `id_b` the right. Same scale posture as the self-join
    * form: banded candidates from an equi-join on (band, key), exact
    * verification on candidates only, small intermediates materialized
    * once. When the right side is benchmark-sized, AQE broadcasts its
    * band keys — the left corpus never shuffles for the candidate join.
    */
  def minHashLshPairsBetween(
      left: DataFrame, leftIdCol: String, leftTextCol: String,
      right: DataFrame, rightIdCol: String, rightTextCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, seed: Long = 42L,
      portable: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val setsL = shingleSets(left, leftIdCol, leftTextCol, n, portable)
      .localCheckpoint()
    val setsR = shingleSets(right, rightIdCol, rightTextCol, n, portable)
      .localCheckpoint()
    val shL = setsToRows(setsL)
    val shR = setsToRows(setsR)
    val bL = bandKeyRows(sigArray(setsL, k, seed, portable),
      bands, k / bands, portable)
    val bR = bandKeyRows(sigArray(setsR, k, seed, portable),
      bands, k / bands, portable)
    val cand = bL.as("a").join(bR.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint()
    verifyJaccardBetween(shL, shR, cand, threshold)
  }

  /** The banded LSH keys of a signature frame as (id, band, key) rows.
    * Default: 8-byte xxhash64 of the slice (cheapest to shuffle).
    * Portable: the comma-joined slice itself — band-key equality is
    * literally slice equality, so any SQL engine reproduces it.
    */
  private def bandKeyRows(
      sigs: DataFrame, bands: Int, r: Int,
      portable: Boolean = false): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => element_at(col("sig"), i + 1))
      val key = if (portable) concat_ws(",", cols: _*) else xxhash64(cols: _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Exact shingle-Jaccard verification of candidate pairs: |A ∩ B| by
    * joining the shingle rows of both sides (per-doc totals ride along
    * on the shingle rows). Each side is first semi-joined down to docs
    * that actually appear in a candidate pair, so the verify shuffle is
    * proportional to the candidate set, not the corpus — at 100 TB
    * candidates ≪ corpus. No broadcast hints: AQE picks broadcast when
    * the pair set is small.
    */
  private def verifyJaccard(
      sh: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
    verifyJaccardBetween(sh, sh, cand, threshold)

  private def verifyJaccardBetween(
      shA: DataFrame, shB: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val sa = shA.join(cand.select(col("id_a").as("id")), Seq("id"), "left_semi")
    val sb = shB.join(cand.select(col("id_b").as("id")), Seq("id"), "left_semi")
    cand
      .join(sa.as("sa"), col("id_a") === col("sa.id"))
      .join(sb.as("sb"),
        col("id_b") === col("sb.id") && col("sa.shkey") === col("sb.shkey"))
      .groupBy("id_a", "id_b")
      .agg(
        count("*").as("n_common"),
        first(col("sa.n_sh")).as("na"), first(col("sb.n_sh")).as("nb"))
      .select(
        col("id_a"), col("id_b"),
        (col("n_common") / (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The (shingle rows, banded LSH keys) sketch of a document set —
    * compute once, feed every index/dedup consumer (the streaming path
    * sketches each micro-batch exactly once and hands the result to both
    * the incremental join and the index append). The expensive pipeline
    * (tokenize + shingle kernel) is localCheckpointed once as the
    * per-doc SET table; the returned rows/band-key frames are cheap
    * projections of those materialized arrays, so every downstream
    * action re-reads executor-local blocks, never the corpus.
    */
  def sketch(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must be divisible by bands")
    val sets = shingleSets(docs, idCol, textCol, n).localCheckpoint()
    // bk is consumed by several actions (index append + the incremental
    // pair join in one micro-batch) — materialize so the signature
    // kernel runs once per batch, not once per consumer
    val bk = bandKeyRows(sigArray(sets, k, seed, portable = false),
      bands, k / bands).localCheckpoint()
    (setsToRows(sets), bk)
  }

  /** Materialize the MinHash index of a corpus: the per-doc shingle rows
    * and banded LSH keys as parquet — the incremental-dedup layout.
    * Shingles are partitioned by a `batch` column (0 for the initial
    * build), bands by (`band`, `batch`): appends target one batch
    * partition with dynamic overwrite, so a replayed append (streaming
    * at-least-once) REPLACES its own partition instead of duplicating
    * rows — duplicated shingle rows would silently inflate every later
    * Jaccard verification. A daily increment then joins against the
    * stored keys ([[minHashLshPairsIncremental]]) instead of
    * re-sketching the whole corpus; at 100 TB the re-sketch is the cost
    * that matters.
    */
  def writeMinHashIndex(
      docs: DataFrame, idCol: String, textCol: String, dest: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, seed: Long = 42L,
      precomputed: Option[(DataFrame, DataFrame)] = None): Unit = {
    val (sh, bk) = precomputed.getOrElse(
      sketch(docs, idCol, textCol, n, k, bands, seed))
    sh.withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$dest/shingles")
    bk.withColumn("batch", lit(0L))
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band", "batch")
      .parquet(s"$dest/bands")
    // Sketch hyperparameters ride with the index: an increment hashed
    // with a different (n, k, bands, seed) produces band keys that never
    // collide with the stored ones — near-dups silently vanish instead of
    // erroring. The sidecar lets the incremental reader fail fast.
    import docs.sparkSession.implicits._
    Seq((n, k, bands, seed)).toDF("n", "k", "bands", "seed")
      .coalesce(1).write.mode("overwrite").json(s"$dest/params")
  }

  /** Near-dup pairs of an increment against an existing corpus index
    * (plus within the increment itself): every verified pair with at
    * least one new doc. Index-internal pairs are already known and are
    * not re-derived — the candidate join is increment-keys × (index ∪
    * increment) keys, so its cost scales with the increment, not the
    * corpus. Ids must be disjoint from the index's. Output schema matches
    * [[minHashLshPairs]]; union with the index's own pair set to maintain
    * the full near-dup relation incrementally.
    */
  /** Fail fast when an index was sketched with different
    * hyperparameters: mismatched (n, k, bands, seed) band keys never
    * collide with the stored ones — near-dups silently vanish instead
    * of erroring. (n also pins the stored n_sh totals the verify uses.)
    */
  private def requireIndexParams(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      n: Int, k: Int, bands: Int, seed: Long): Unit = {
    val p = spark.read.json(s"$indexPath/params").head()
    val stored = (p.getAs[Long]("n"), p.getAs[Long]("k"),
      p.getAs[Long]("bands"), p.getAs[Long]("seed"))
    require(stored == ((n.toLong, k.toLong, bands.toLong, seed)),
      s"MinHash index at $indexPath was written with (n, k, bands, seed) = " +
        s"$stored but the caller passed (($n, $k, $bands, $seed))")
  }

  /** Fold an increment's sketch into an existing index
    * ([[writeMinHashIndex]] layout) — the maintenance half of continuous
    * ingest: dedup the increment first ([[minHashLshPairsIncremental]]),
    * then append it so the next increment sees it. `batchId` scopes the
    * write to one `batch` partition with dynamic overwrite — replaying
    * the same batch (streaming at-least-once delivery) replaces its own
    * rows instead of duplicating them, which would inflate later Jaccard
    * counts. Ids must be disjoint from the index's; batchId must be
    * unique per increment (> 0; 0 is the initial build). Pass
    * `precomputed` ([[sketch]]) to avoid re-sketching a batch another
    * consumer already sketched. The stored corpus is never read or
    * rewritten.
    */
  def appendToMinHashIndex(
      docs: DataFrame, idCol: String, textCol: String, dest: String,
      batchId: Long,
      n: Int = 3, k: Int = 64, bands: Int = 16, seed: Long = 42L,
      precomputed: Option[(DataFrame, DataFrame)] = None): Unit = {
    require(k % bands == 0, "k must be divisible by bands")
    require(batchId > 0, "batchId 0 is the initial writeMinHashIndex build")
    requireIndexParams(docs.sparkSession, dest, n, k, bands, seed)
    val (sh, bk) = precomputed.getOrElse(
      sketch(docs, idCol, textCol, n, k, bands, seed))
    // A replay may only overwrite ITS OWN docs: batch ids are unique
    // within one checkpoint lineage, so a colliding id from a different
    // lineage (e.g. a stream restarted with a fresh checkpoint) would
    // silently dynamic-overwrite another increment's partition and drop
    // its docs from the index. The check reads one partition's ids and
    // only when that partition already exists — the normal append path
    // costs an existence probe.
    val spark = docs.sparkSession
    val part = new org.apache.hadoop.fs.Path(s"$dest/shingles/batch=$batchId")
    val pfs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (pfs.exists(part)) {
      val stored = spark.read.parquet(part.toString).select("id").distinct()
      val incoming = sh.select("id").distinct()
      require(stored.except(incoming).isEmpty && incoming.except(stored).isEmpty,
        s"shingles partition batch=$batchId at $dest already holds a " +
          "DIFFERENT doc set — batch ids are only unique within one " +
          "checkpoint lineage; a replay may only overwrite its own docs. " +
          "Reuse the original checkpoint or start a fresh index path.")
    }
    sh.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$dest/shingles")
    bk.withColumn("batch", lit(batchId))
      .repartition(col("band"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("band", "batch").parquet(s"$dest/bands")
  }

  def minHashLshPairsIncremental(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, seed: Long = 42L,
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    requireIndexParams(spark, indexPath, n, k, bands, seed)
    val (newSh, newBands) = precomputed.getOrElse(
      sketch(newDocs, idCol, textCol, n, k, bands, seed))
    val allBands = spark.read.parquet(s"$indexPath/bands")
      .select("id", "band", "key").unionByName(newBands)
    val newIds = newBands.select("id").distinct()
    // a = the increment side only; pairs ordered (min, max) so schema and
    // orientation match the batch operator regardless of id interleaving
    val cand = newBands.as("a").join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") =!= col("b.id"))
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val allSh = spark.read.parquet(s"$indexPath/shingles")
      .select("id", "n_sh", "shkey") // drop the batch partition column
      .join(newIds.withColumnRenamed("id", "__nid"),
        col("id") === col("__nid"), "left_anti") // increment shadows index
      .unionByName(newSh)
    verifyJaccard(allSh, cand, threshold)
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine(vec_a, vec_b) >= threshold, a < b — banded sign-LSH blocking
    * with exact verification.
    *
    * Each vector gets `bands` × `planesPerBand`-bit bucket keys
    * ([[Similarity.bandedSignKeys]]); candidate pairs come from an
    * equi-join on (band, key), then only candidates are exactly cosine-
    * scored and thresholded. Precision is exact by construction (the
    * threshold only ever sees exact sims); recall is 1 - (1 - p^r)^b per
    * pair at sign-agreement probability p = 1 - θ/π — with the defaults,
    * a true near-dup pair at cosine 0.9 is missed with probability ~1e-6.
    * At 100 TB the (band, key) pair is the shuffle/partition key: the
    * join shuffles |corpus|·bands rows, never |corpus|² — the quadratic
    * term is bounded by in-bucket candidate counts, and `planesPerBand`
    * tunes bucket occupancy against recall.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 3,
      bands: Int = 32, planesPerBand: Int = 8,
      dim: Int = -1, seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions._
    // Mirror the SQL registration's guard (GraftExtensions.scala): keys are
    // packed into a Long, so >64 planes would silently alias key bits.
    require(planesPerBand >= 1 && planesPerBand <= 64,
      "planesPerBand must be in [1, 64] (long key bits)")
    // Sub-cap driver fast path — the propagate/kmeans discipline: a
    // sub-cap vector corpus runs band keying, candidate bucketing and
    // the exact verify in plain Scala (zero Spark jobs instead of the
    // ~10-stage key/join/dedup/checkpoint/verify chain) with
    // bit-identical pairs: keys replay SignBandKeys' loop (same
    // hyperplanes, same strict `> 0` sign test), sims the fdot
    // left-fold, and the rounding Spark's Round (BigDecimal.valueOf +
    // HALF_UP). Null-vector rows produce no keys and null sims on both
    // paths — skipped. Gated to integral ids + array<float> vectors;
    // over the cap (one column-pruned count probe) the distributed
    // chain runs unchanged.
    val idIntegral = {
      import org.apache.spark.sql.types._
      val it = df.select(col(idCol)).schema.head.dataType
      val vt = df.select(col(vecCol)).schema.head.dataType
      (it == LongType || it == IntegerType) &&
        (vt == ArrayType(FloatType, true) || vt == ArrayType(FloatType, false))
    }
    if (idIntegral &&
        Guards.fitsDriver(df.select(col(idCol)), Guards.DriverCapVectors)) {
      val rows = df.select(col(idCol), col(vecCol)).collect()
      def idOf(r: org.apache.spark.sql.Row): Long = r.get(0) match {
        case l: Long => l
        case n: Int => n.toLong
      }
      val vdim =
        if (dim > 0) dim
        else rows.headOption.map(_.getSeq[Float](1).size).getOrElse(0)
      val planes = Similarity.flatPlanes(bands, planesPerBand, vdim, seed)
      val vecs = rows.iterator
        .filter(r => !r.isNullAt(1))
        .map(r => (idOf(r), r.getSeq[Float](1).toArray)).toArray
      // Duplicate ids would need a global (id_a, id_b) dedup — the
      // distributed chain's dropDuplicates; the first-collision band
      // dedup below is per ROW pair, so duplicate-id inputs (pathological
      // — a corpus keys vectors uniquely) fall through to the distributed
      // chain instead.
      val idsSeen = new java.util.HashSet[java.lang.Long](vecs.length * 2)
      if (vecs.forall(v => idsSeen.add(v._1))) {
        // All band keys per vector (flat, k·bands + b): the bucket map below
        // groups collisions, and the verify dedups a pair by its FIRST
        // colliding band (skip if any earlier band also matched) — the
        // standard LSH trick that replaces the r13 (Long, Long) HashSet
        // whose ~32M boxed-tuple inserts dominated d5 at the sf1 scale
        // (38 s measured; the set itself held 27.5M entries).
        val bandKeys = new Array[Long](vecs.length * bands)
        // Keying, parallel over vectors (each k owns its bandKeys slice;
        // ~n·bands·planes·dim FMAs — the second-heaviest loop here);
        // bucket inserts stay sequential (n·bands cheap map ops).
        Guards.parallelIndexLoop(vecs.length,
          df.sparkSession.sparkContext.defaultParallelism) { k =>
          val v = vecs(k)._2
          val d0 = math.min(v.length, vdim)
          var b = 0
          while (b < bands) {
            var key = 0L
            var p = 0
            while (p < planesPerBand) {
              val off = (b * planesPerBand + p) * vdim
              var s = 0.0
              var i = 0
              while (i < d0) { s += v(i).toDouble * planes(off + i).toDouble; i += 1 }
              if (s > 0) key |= (1L << p)
              p += 1
            }
            bandKeys(k * bands + b) = key
            b += 1
          }
        }
        val buckets = scala.collection.mutable.HashMap
          .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
        for (k <- vecs.indices) {
          var b = 0
          while (b < bands) {
            buckets.getOrElseUpdate((b, bandKeys(k * bands + b)),
              scala.collection.mutable.ArrayBuffer.empty[Int]) += k
            b += 1
          }
        }
        def normOf(v: Array[Float]): Double = {
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(s)
        }
        val norms = vecs.map(x => normOf(x._2))
        // Verify, parallel over buckets: every input (vecs/norms/bandKeys/
        // entries) is read-only here and each worker appends to its own
        // buffer, so the result SET is deterministic (row order is not —
        // same contract as the distributed shuffle). Candidate volume is
        // quadratic in bucket occupancy, the one heavy loop of this path.
        val entries = buckets.iterator
          .map { case ((b, _), ids) => (b, ids.toArray) }.toArray
        val parts = new Array[
          scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]](entries.length)
        Guards.parallelIndexLoop(entries.length,
          df.sparkSession.sparkContext.defaultParallelism) { ei =>
              val buf = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Long, Double)]
              val (b, ids) = entries(ei)
              locally {
                var x = 0
                while (x < ids.length) {
                  var y = x + 1
                  while (y < ids.length) {
                    val k1 = ids(x); val k2 = ids(y)
                    // process each distinct pair exactly once: in its first
                    // colliding band only (replaces the global seen-set)
                    var bp = 0
                    while (bp < b &&
                        bandKeys(k1 * bands + bp) != bandKeys(k2 * bands + bp))
                      bp += 1
                    if (bp == b) {
                      val (ia0, va0) = vecs(k1); val (ib0, vb0) = vecs(k2)
                      if (ia0 != ib0) {
                        val (ia, va, ai2, ib, vb, bi2) =
                          if (ia0 < ib0) (ia0, va0, k1, ib0, vb0, k2)
                          else (ib0, vb0, k2, ia0, va0, k1)
                        val m = math.min(va.length, vb.length)
                        var s = 0.0; var i = 0
                        while (i < m) { s += va(i).toDouble * vb(i).toDouble; i += 1 }
                        // ANSI mode (the Spark 4 default this engine runs
                        // with) makes the distributed verify throw
                        // DIVIDE_BY_ZERO when a candidate pair touches a
                        // zero-norm vector (they pair up at key 0 in every
                        // band) — fail identically here instead of emitting
                        // a quiet 0/0 = NaN sim the distributed path can
                        // never produce.
                        if (norms(ai2) * norms(bi2) == 0.0)
                          throw new ArithmeticException(
                            "embeddingNearDupPairs: [DIVIDE_BY_ZERO] " +
                              s"zero-norm vector in candidate pair ($ia, $ib)")
                        val q = s / (norms(ai2) * norms(bi2))
                        // Spark's Round passes NaN/Infinity through unchanged
                        val sim =
                          if (q.isNaN || q.isInfinite) q
                          else java.math.BigDecimal.valueOf(q)
                            .setScale(roundTo, java.math.RoundingMode.HALF_UP)
                            .doubleValue()
                        // Spark SQL orders NaN above every value, so a NaN
                        // sim (can't arise from the division — zero norms
                        // throw above — but kept as defense) passes the
                        // distributed `>= threshold` filter.
                        if (sim.isNaN || sim >= threshold) buf += ((ia, ib, sim))
                      }
                    }
                    y += 1
                  }
                  x += 1
                }
              }
              parts(ei) = buf
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        parts.foreach(p => if (p != null) out ++= p)
        val spark0 = df.sparkSession
        import org.apache.spark.sql.types._
        val idt = df.select(col(idCol)).schema.head.dataType
        def backId(v: Long): Any = if (idt == LongType) v else v.toInt
        val schema = StructType(Seq(
          StructField("id_a", idt), StructField("id_b", idt),
          StructField("sim", DoubleType)))
        val outRows = out.toSeq.map { case (a, b, s) =>
          org.apache.spark.sql.Row(backId(a), backId(b), s) }
        return spark0.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(outRows).asJava), schema)
      }
    }
    // dim <= 0 means "derive from the data": a shorter hardcoded default
    // would silently truncate longer vectors for bucketing and break the
    // documented recall formula. One column-pruned head() — driver-bounded.
    val vdim =
      if (dim > 0) dim else df.select(size(col(vecCol))).head.getInt(0)
    // `side` is consumed three times with three shuffle keys (band keys,
    // id_a fetch, id_b fetch). Unlike the shingle table in
    // [[minHashLshPairs]] it is NOT checkpointed: it is a column-pruned
    // scan + one fused norm — re-reading it costs less than materializing
    // the whole vector corpus to executor disk and reading that back.
    val side = df.select(
      col(idCol).as("id"), col(vecCol).as("v"), fnorm(col(vecCol)).as("n"))
    val keyed = Guards.spread(side).select(
        col("id"),
        posexplode(Similarity.bandedSignKeys(col("v"), bands, planesPerBand, vdim, seed))
          .as(Seq("band", "key")))
    // Materialized for the same reason as [[minHashLshPairs]]' candidate
    // set: verify references it three times, and without a checkpoint each
    // reference re-runs the banded self-join.
    // shuffle_hash: both sides are the identical band-key subtree, so the
    // pinned shuffle is evaluated once (AQE stage reuse); a broadcast
    // conversion would run the SignBandKeys projection over the corpus
    // twice.
    val cand = keyed.as("a").hint("shuffle_hash")
      .join(keyed.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint()
    // Exact verify on candidates only; each side semi-joined down to ids
    // that appear in a candidate pair so the verify shuffle is ∝ candidates.
    val va = side.join(cand.select(col("id_a").as("id")), Seq("id"), "left_semi")
    val vb = side.join(cand.select(col("id_b").as("id")), Seq("id"), "left_semi")
    cand
      .join(va.as("x"), col("id_a") === col("x.id"))
      .join(vb.as("y"), col("id_b") === col("y.id"))
      .select(
        col("id_a"), col("id_b"),
        round(fdot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")), roundTo)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact (all-pairs) form of [[embeddingNearDupPairs]]: broadcast one
    * side, fused codegen dot kernel. O(n²·dim) flops — the oracle for the
    * blocked path and the right tool only for small corpora.
    */
  def embeddingNearDupPairsExact(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions._
    val side = df.select(
      col(idCol).as("id"), col(vecCol).as("v"), fnorm(col(vecCol)).as("n"))
    Guards.spread(side).as("a")
      .join(broadcast(side.as("b")), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(fdot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), roundTo)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embeddings with a trained IVF
    * quantizer, then within each cluster drop every vector that has a
    * smaller-id neighbor at cosine >= threshold — the min id of each
    * semantic near-dup group survives as its representative.
    * Cross-cluster near-dups are accepted misses (the SemDeDup
    * approximation, same contract as the paper's per-cluster scan).
    *
    * Scale: the cluster id is the join/partition key, so pairwise scoring
    * is bounded by cluster occupancy, never corpus². Size `nlist` so
    * occupancy stays in the 10³-10⁴ range (occupancy² flops per cluster)
    * and the quantizer itself stays driver-sized.
    *
    * Output: (id, cluster, kept) for every input row.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      model: Similarity.IvfModel, threshold: Double,
      roundTo: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions._
    val side = Similarity.assignClusters(
        df.select(col(idCol).as("id"), col(vecCol).as("v")), "v", model)
      .select(col("id"), col("v"), col("cluster"), fnorm(col("v")).as("n"))
    // shuffle_hash: both join sides are the IDENTICAL cluster-assignment
    // subtree (same `sp` val — exchange reuse needs canonically equal
    // plans, so no per-side spread), letting AQE evaluate the argmin
    // projection once instead of once per side under a broadcast.
    val sp = Guards.spread(side)
    val dup = sp.as("a").hint("shuffle_hash")
      .join(sp.as("b").hint("shuffle_hash"),
        col("a.cluster") === col("b.cluster") && col("a.id") > col("b.id"))
      .filter(
        round(fdot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), roundTo)
          >= threshold)
      .select(col("a.id").as("id")).distinct()
    side.select("id", "cluster")
      .join(dup.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("dup").isNull.as("kept"))
  }

  /** Resolve pairwise duplicate edges into clusters: connected components
    * by iterative min-label propagation (the same fixpoint GraphFrames'
    * CC runs), so each near-dup group gets one canonical id = its
    * smallest member. Converges in O(component diameter) rounds — near-dup
    * clusters are shallow, so a handful; `maxIters` is a safety bound.
    *
    * Small-graph fast path: the edge set is already materialized (the
    * checkpoint below), so its size probe is cheap — when it fits
    * [[Guards.DriverCapRows]] edges and the ids are integral, connectivity
    * resolves as driver-side union-find in one pass instead of paying
    * several multi-stage fixpoint rounds for a toy graph. Same bounded-driver-
    * state contract as the IVF centroids: the threshold caps memory, the
    * distributed fixpoint remains the path for web-scale edge sets, and
    * `DedupSpec` holds both paths to the same union-find oracle.
    *
    * Input: (id_a, id_b) edges. Output: (id, cluster) for every node that
    * appears in an edge; cluster = min id of its component.
    */
  def duplicateClusters(
      pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // The (possibly expensive) pair pipeline is localCheckpoint'd ONCE —
    // eager, so it runs exactly one time; the doubled edge list and the
    // label fixpoint all derive from the materialized pair set. Checkpoint
    // rather than cache: it also truncates lineage, so each iteration
    // replans only the one-hop join, not the candidate-generation DAG
    // (iterative algorithms + AQE replan the full lineage per action
    // otherwise).
    val p0 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    val integralIds = p0.schema.fields.forall(f => f.dataType match {
      case org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    if (integralIds && Guards.fitsDriver(p0, Guards.DriverCapRows)) {
      val spark = p0.sparkSession
      import spark.implicits._
      // Unboxed union-find: sorted distinct ids -> dense index (binary
      // search), parent as an Int array — ~24 bytes per node instead of
      // the ~100+ a boxed Map costs, so the edge cap bounds
      // real driver heap, not just entry counts. Index order equals id
      // order, so min-index union preserves "cluster = min id".
      val es = p0.as[(Long, Long)].collect()
      val all = new Array[Long](es.length * 2)
      var w = 0
      es.foreach { e => all(w) = e._1; all(w + 1) = e._2; w += 2 }
      java.util.Arrays.sort(all)
      var m = 0
      var i = 0
      while (i < all.length) {
        if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
        i += 1
      }
      val ids = java.util.Arrays.copyOf(all, m)
      val parent = Array.tabulate(m)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { e =>
        val ra = find(java.util.Arrays.binarySearch(ids, e._1))
        val rb = find(java.util.Arrays.binarySearch(ids, e._2))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return (0 until m).map(j => (ids(j), ids(find(j))))
        .toDF("id", "cluster")
    }
    val edges = p0.unionByName(p0.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint()
    // Convergence probe: labels are monotone non-increasing, so the label
    // sum strictly decreases until the fixpoint — one cheap aggregate over
    // the just-checkpointed round output replaces the old join-and-compare
    // action. decimal(38,0) so billions of 64-bit ids can't overflow.
    def labelSum(ls: DataFrame): java.math.BigDecimal = {
      val s = ls.agg(sum(col("cluster").cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty edge set
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // two propagation hops per round (halves the driver round trips)
      val next = {
        val hop = (ls: DataFrame) => {
          val prop = edges.join(ls, col("src") === col("id"))
            .groupBy(col("dst").as("id2")).agg(min("cluster").as("nbr_min"))
          ls.join(prop, col("id") === col("id2"), "left")
            .select(col("id"),
              least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
                .as("cluster"))
        }
        hop(hop(labels)).localCheckpoint()
      }
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    labels
  }

  /** Content-defined-chunking near-dup pairs (the CDC scheme of
    * LBFS/rsync-family dedup storage, Muthitacharoen et al. 2001,
    * lifted to token streams) — chunk boundaries fall AFTER any token
    * whose portable hash ≡ 0 (mod `boundaryMod`), so an insertion or
    * deletion only reshuffles the chunks it touches and every other
    * chunk hash survives verbatim: the shift-robust complement to
    * fixed-width shingles ([[ngramJaccardPairs]] candidates die when
    * everything slides one token; CDC chunks don't). Two documents
    * pair when the DISTINCT chunk hashes they share cover ≥
    * `thresholdE6` of the smaller one's chunk set (containment, the
    * d14 read).
    *
    * Scale posture (the MinHash-index rules): chunks whose doc
    * frequency exceeds `maxDf` are boilerplate and drop BEFORE the
    * candidate join (the hot-shingle cap); chunks shorter than
    * `minChunkTokens` are noise and drop at birth; the candidate join
    * is an equi-join on chunk hash over the 2 ≤ df ≤ maxDf slice —
    * never all-pairs. maxDf bounds the per-chunk candidate fan-out at
    * C(maxDf, 2): the default 32 caps it at 496 pairs per chunk — a
    * chunk verbatim-shared by MORE docs than that is a template, which
    * is d1/d18's class (exact/boilerplate dedup), not near-dup
    * pairing's. The fixed-vocab ScaleProbe corpus densifies chunk dfs
    * with corpus growth (every df ∝ n — the t37 artifact class); the
    * paired Heaps-vocabulary probe (d23h) is the realistic read. Exact integer containment on the half-up 1e-6
    * lattice. Output: (id_a, id_b, n_shared, chunks_a, chunks_b,
    * containment_e6).
    */
  def cdcChunkPairs(
      docs: DataFrame, idCol: String, textCol: String,
      boundaryMod: Int = 8, minChunkTokens: Int = 3,
      maxDf: Long = 32L, thresholdE6: Long = 500000L): DataFrame = {
    require(boundaryMod >= 2, s"boundaryMod must be >= 2 (got $boundaryMod)")
    require(minChunkTokens >= 1,
      s"minChunkTokens must be >= 1 (got $minChunkTokens)")
    require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf)")
    // one codegen'd pass per document: the scan stage emits finished
    // chunk hashes (ShingleHashKernel.cdcChunkKeys) — the relational
    // form (posexplode -> per-id running-sum window -> collect_list
    // groupBy) shuffled and sorted every token occurrence twice and
    // went superlinear under sort/aggregate memory pressure at 320k
    // docs (142 s vs ~4 s for this form; ScaleProbe d23h, round 13)
    val chunks = docs.select(col(idCol).as("id"),
        explode(graft.functions.ShingleFunctions.cdcChunkKeys(
          split(col(textCol), " "), boundaryMod, minChunkTokens)).as("h"))
      .distinct() // a chunk repeated within one doc counts once
      .localCheckpoint() // feeds per-doc sizes AND the candidate join
    val perDoc = chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
    val eligible = chunks
      .join(chunks.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= maxDf), Seq("h"))
    val shared = eligible.select(col("h"), col("id").as("id_a"))
      .join(eligible.select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(perDoc.select(col("id").as("id_a"),
        col("n_chunks").as("chunks_a")), Seq("id_a"))
      .join(perDoc.select(col("id").as("id_b"),
        col("n_chunks").as("chunks_b")), Seq("id_b"))
      .withColumn("containment_e6",
        expr("(2 * n_shared * 1000000 + least(chunks_a, chunks_b)) div " +
          "(2 * least(chunks_a, chunks_b))"))
      .filter(col("containment_e6") >= thresholdE6)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("chunks_a"), col("chunks_b"), col("containment_e6"))
  }

  /** Cluster resolution — the removal-list step a dedup pipeline
    * actually ships: given the near-dup clusters
    * ([[duplicateClusters]]) and a per-document score, keep the
    * best-scoring member of each cluster (ties broken by lowest id, so
    * the choice is deterministic) and mark the rest for removal.
    *
    * Output: (id, cluster, score, keep) for every clustered document —
    * `keep = false` IS the removal list; singleton documents never
    * appear (they were never in a cluster and are implicitly kept).
    *
    * Scale: one window partitioned by cluster — cluster sizes are
    * near-dup group sizes (small by construction; a pathological
    * mega-cluster means the threshold upstream is wrong, not that this
    * operator should salt).
    */
  /** Cluster-size histogram — THE dedup report read over a
    * [[duplicateClusters]] labeling: for each cluster size k, how many
    * clusters, how many documents they hold, and how many are
    * removable (k − 1 per cluster — what a keep-one policy deletes).
    * The k-spectrum is the diagnostic the single removable-count
    * number hides: mass at k = 2 is near-dup noise, a fat tail of
    * large k is template/mirror infestation, and ONE giant cluster is
    * an upstream threshold bug (the resolveClusters caveat).
    *
    * Exact integer counts; two map-side-combined aggregates (cluster
    * → size, size → histogram), output k-spectrum-sized. Output:
    * (k, n_clusters, n_docs, n_removable).
    */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_clusters"))
      .select(col("k"), col("n_clusters"),
        (col("k") * col("n_clusters")).as("n_docs"),
        ((col("k") - 1) * col("n_clusters")).as("n_removable"))

  /** Durable write-through for a [[duplicateClusters]] labeling — the
    * persistence half the MinHash index already has
    * ([[writeMinHashIndex]]): the cluster table is the artifact every
    * downstream report consumes (resolve, histogram, decontamination),
    * and at 100 TB a report query silently re-running the LSH +
    * fixpoint chain because a session-lifetime checkpoint died is a
    * foot-gun. A caller-built `fingerprint` (source row count + source
    * mtime + algorithm version — a lakehouse deployment would use the
    * table snapshot id) rides in a sidecar written AFTER the data, so
    * a torn write can never present as a valid cache; [[readClusterTable]]
    * returns None on any mismatch and the caller recomputes + overwrites.
    */
  def writeClusterTable(
      clusters: DataFrame, dest: String, fingerprint: String): Unit = {
    import clusters.sparkSession.implicits._
    clusters.write.mode("overwrite").parquet(s"$dest/clusters")
    Seq(fingerprint).toDF("fingerprint").coalesce(1)
      .write.mode("overwrite").json(s"$dest/meta")
  }

  /** The stored sidecar fingerprint, if a structurally-valid cache
    * exists at `dest` — the cheap probe [[writeClusterTable]] callers
    * use to SKIP a redundant rewrite: the cluster labeling is a
    * deterministic function of the fingerprinted inputs, so a
    * matching-fingerprint cache is byte-equivalent to what a rewrite
    * would produce and the producer can keep its recompute-always
    * contract without paying a no-op parquet write every run.
    */
  def storedClusterFingerprint(
      spark: org.apache.spark.sql.SparkSession, dest: String)
      : Option[String] =
    try {
      val meta = new org.apache.hadoop.fs.Path(s"$dest/meta")
      val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(meta)) None
      else Some(spark.read.json(s"$dest/meta")
        .head().getAs[String]("fingerprint"))
    } catch { case _: Throwable => None }

  /** Read back a persisted cluster table iff its sidecar fingerprint
    * matches — None on a missing, torn, or stale cache (never a silent
    * wrong answer; the consumer's miss path recomputes).
    */
  def readClusterTable(
      spark: org.apache.spark.sql.SparkSession, dest: String,
      fingerprint: String): Option[DataFrame] =
    if (storedClusterFingerprint(spark, dest).contains(fingerprint))
      Some(spark.read.parquet(s"$dest/clusters"))
    else None

  def resolveClusters(
      clusters: DataFrame, scores: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster",
      scoreCol: String = "quality"): DataFrame = {
    // left join + nulls-last ordering, not an inner join: a clustered
    // doc with no score row must still be RESOLVED (it sorts after
    // every scored member, null score in the output) — an inner join
    // would silently drop it from the result, and a removal list built
    // from keep=false rows would then fail-open keep it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(clusterCol)
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
    // One score per id, enforced: a duplicated score row would otherwise
    // fan the clustered doc out through the join and row_number would
    // emit BOTH a keep=true and a keep=false row for the same id — a
    // removal list built from keep=false would then drop a kept doc.
    // max() keeps the resolution deterministic under dirty input.
    val uniqScores = scores
      .groupBy(col(idCol)).agg(max(col(scoreCol)).as(scoreCol))
    clusters.join(uniqScores, Seq(idCol), "left")
      .select(col(idCol), col(clusterCol), col(scoreCol),
        (row_number().over(w) === 1).as("keep"))
  }

  /** 60-bit token hash every SQL engine can recompute: the first 15 hex
    * chars of md5(token) as an integer (15, not 16 — 16 would need the
    * unsigned 64-bit range signed BIGINT arithmetic can't carry). Slower
    * than the default xxhash64 (crypto hash + string slice) — this is the
    * cross-engine-reproducible variant for conformance checking; sign-bit
    * statistics are insensitive to the 4 permanently-zero top bits.
    */
  val portableTokenHash: Column => Column = t =>
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** The default (xxhash64) token-hash family — a stable reference so
    * [[simHash]] can recognize it and take the fused per-row kernel.
    */
  val defaultTokenHash: Column => Column = c => xxhash64(c)

  /** 64-bit SimHash per document over whitespace tokens.
    *
    * For the two standard hash families (the default xxhash64 and
    * [[portableTokenHash]]) this is a fused per-row codegen kernel
    * ([[graft.functions.SimHash64Expr]]): the weighted bit-sums and sign
    * assembly are functions of one document's token array, so the whole
    * signature computes in the scan stage with ZERO shuffles (the
    * explode + two-aggregate relational form paid a token-level exchange
    * plus a per-doc exchange; bit-identical output — occurrence
    * iteration IS count weighting). A caller-supplied custom hash still
    * takes the relational path.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = defaultTokenHash): DataFrame = {
    if (tokenHash.eq(defaultTokenHash) || tokenHash.eq(portableTokenHash)) {
      // null-text docs have no token rows in the relational form and so
      // no signature — mirror that by filtering, not emitting null
      return Guards.spread(docs).filter(col(textCol).isNotNull).select(
        col(idCol).as("id"),
        graft.functions.ShingleFunctions.simhash64(
          TextFunctions.tokens(col(textCol)),
          portable = tokenHash.eq(portableTokenHash)).as("simhash"))
    }
    // Pre-aggregate to (id, token-hash, weight) first: the 64 bit-sums then
    // run over distinct hashes per doc instead of every token occurrence —
    // identical result (sign sums weighted by counts), much smaller input.
    val th = Guards.spread(docs).select(
        col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("id"), tokenHash(col("t")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    // sign = bit*2-1 as arithmetic (compact codegen: 64 branchless sums)
    val bitSums = (0 until 64).map { j =>
      sum(col("cnt") * (shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1))
        .as(s"b$j")
    }
    val sums = th.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    sums.select(col("id"), sh.as("simhash"))
  }

  /** All pairs of 64-bit hashes within Hamming distance `maxDist`,
    * without a cross join — the generic blocking kernel behind
    * [[simHashNearPairs]] and [[Multimodal.imageNearDupPairs]].
    *
    * Pigeonhole blocking: split the 64 bits into `maxDist + 1` chunks;
    * any pair within distance maxDist agrees exactly on at least one
    * chunk, so an equi-join on (chunk index, chunk value) finds every
    * such pair; `bit_count(a ^ b)` verifies exactly. At corpus scale the
    * (chunk index, value) pair is the shuffle key — candidate cost is
    * bounded by in-bucket occupancy, never |rows|². Narrower chunks
    * (higher maxDist) mean fuller buckets: at maxDist 15 the chunks are
    * 4 bits and blocking degenerates, hence the bound.
    */
  def hammingNearPairs(
      hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 15,
      "maxDist must be in [0, 15]: 64-bit keys give at most 16 usable chunks")
    val nChunks = maxDist + 1
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks)
    val sh = hashes.select(col(idCol).as("id"), col(hashCol).as("h64"))
    val chunkStructs = (0 until nChunks).map { c =>
      val lo = bounds(c)
      val w = bounds(c + 1) - lo
      val mask = if (w == 64) -1L else (1L << w) - 1
      struct(lit(c).as("ci"),
        shiftrightunsigned(col("h64"), lo).bitwiseAND(lit(mask)).as("cv"))
    }
    val chunked = sh.select(
        col("id"), col("h64"),
        explode(array(chunkStructs: _*)).as("ch"))
      .select(col("id"), col("h64"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    // shuffle_hash pins the self-join to two identical (ci, cv) shuffles
    // that ReuseExchange/AQE-stage-reuse evaluate once; a broadcast
    // conversion would re-run the upstream hash pipeline (e.g. SimHash's
    // two aggregation passes) once per side.
    chunked.as("a").hint("shuffle_hash").join(chunked.as("b").hint("shuffle_hash"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h64").bitwiseXOR(col("b.h64"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxDist)
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist (the 4-chunk
    * 16-bit blocking is [[hammingNearPairs]] at the default maxDist 3).
    */
  def simHashNearPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3,
      tokenHash: Column => Column = defaultTokenHash): DataFrame =
    hammingNearPairs(simHash(docs, idCol, textCol, tokenHash),
      "id", "simhash", maxDist)

  /** Cross-source duplication matrix — which sources copy from each
    * other: per unordered source pair, how many exact-content
    * fingerprints both carry and the Jaccard of their fingerprint sets.
    * The curation read behind mixing decisions ([[exactGroups]] dedups
    * WITHIN the corpus; this names the inter-source flows — a crawl
    * that mirrors a dump, two snapshots of the same site) and the
    * cross-split twin of [[graft.operators.Sampling.splitLeakageReport]].
    *
    * Scale: fingerprints are md5 (engine-portable); the (fp, source)
    * table is distinct-collapsed and checkpointed ONCE (it feeds the
    * pair self-join twice and the per-source totals). The self-join is
    * fp-equi; per-fingerprint fan-out is sources²/2 where sources is a
    * bounded taxonomy — and a fingerprint spanning more than
    * `maxSourcesPerFp` sources fails LOUDLY (the g9 hub discipline: an
    * empty-string fingerprint spanning every source would silently
    * quadratic the join, and it is corrupt input, not signal).
    *
    * Output: (source_a, source_b, n_shared_fps, n_a, n_b, jaccard_e6),
    * source_a < source_b, pairs with ≥ 1 shared fingerprint.
    */
  def crossSourceOverlap(
      docs: DataFrame, textCol: String, sourceCol: String,
      maxSourcesPerFp: Int = 64): DataFrame = {
    require(maxSourcesPerFp >= 2,
      s"maxSourcesPerFp must be >= 2 (got $maxSourcesPerFp)")
    val fps = docs.select(md5(col(textCol)).as("fp"),
        when(col(sourceCol).isNull,
          raise_error(lit("crossSourceOverlap: null source")))
          .otherwise(col(sourceCol).cast("string")).as("src"))
      .distinct()
      .localCheckpoint()
    val perFp = fps.groupBy("fp").agg(count(lit(1)).as("__ns"))
    val g = fps.join(perFp, "fp")
      .select(col("fp"),
        when(col("__ns") > maxSourcesPerFp,
          raise_error(concat(
            lit(s"crossSourceOverlap: a fingerprint spans more than " +
              s"$maxSourcesPerFp sources ("), col("__ns").cast("string"),
            lit(") — corrupt or empty content"))))
          .otherwise(col("src")).as("src"))
    val pairs = g.as("x")
      .join(g.as("y"),
        col("x.fp") === col("y.fp") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("source_a"), col("y.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
    val totals = fps.groupBy("src").agg(count(lit(1)).as("n"))
    pairs
      .join(totals.select(col("src").as("source_a"), col("n").as("n_a")),
        "source_a")
      .join(totals.select(col("src").as("source_b"), col("n").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared_fps"),
        col("n_a"), col("n_b"),
        expr("(2 * n_shared_fps * 1000000 + (n_a + n_b - n_shared_fps))" +
          " div (2 * (n_a + n_b - n_shared_fps))").as("jaccard_e6"))
  }
}
