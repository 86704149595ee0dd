package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * - [[cosineTopK]]: exact brute force — broadcast the (small) query set,
  *   fused codegen dot product ([[graft.functions.FloatDotProduct]]) against
  *   every candidate, per-query top-k window. O(|Q|·|C|·dim) flops but zero
  *   shuffle of the candidate table beyond the final top-k aggregation —
  *   the right baseline, and the verifier for the approximate path.
  * - [[annLshBuckets]] / [[annLshTopK]]: random-hyperplane LSH — each
  *   vector gets a sign-bit bucket key; candidates are only scored within
  *   the query's bucket. At 100 TB the bucket key becomes the partition /
  *   cluster key, so each query touches one partition instead of the full
  *   corpus.
  */
object Similarity {

  /** Exact cosine top-k: for each row of `queries`, the `k` nearest rows of
    * `candidates` by cosine similarity. `sims` are rounded to `roundTo`
    * decimals *before* ranking (ties broken by candidate id) so results are
    * reproducible across engines and float summation orders.
    */
  def cosineTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, roundTo: Int = 3): DataFrame = {
    val q = queries.select(
      col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
      fnorm(col(vecCol)).as("q_norm"))
    val c = candidates.select(
      col(cIdCol).as("c_id"), col(vecCol).as("c_vec"),
      fnorm(col(vecCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        round(fdot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), roundTo)
          .as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Pairwise-cosine histogram over a deterministic id-stride pairing —
    * the embedding-space HEALTH read (Ethayarajh 2019's anisotropy
    * observation turned into a monitoring operator): a healthy space
    * spreads pair cosines over the mid bins; an anisotropic/collapsing
    * space (undertrained model, projection bug, all-identical rows)
    * piles mass against the top bin, and a histogram that shifts
    * between corpus snapshots means the embedding model changed even
    * if nobody said so.
    *
    * Pairs are (id, id + delta) — both present in the table — so the
    * sample is deterministic, engine-reproducible and join-sized (no
    * rand(), no corpus², no global sort). Each pair's cosine snaps to
    * the 1e-4 half-up lattice (the v-family rounding tolerance) and
    * buckets by EXACT integer arithmetic from there; `bins` must
    * divide the 20,000-step lattice span so bin edges are exact
    * lattice points. Zero-norm vectors raise (their cosine is
    * undefined — clean upstream). Every bin row is emitted, zero
    * counts included (a stable histogram shape to diff).
    *
    * Scale: one self-equi-join on the shifted id + one
    * map-side-combined bins-sized count + a broadcast bins-row
    * densify. Output: (bin, lo_e6, hi_e6, n_pairs).
    */
  def cosineHistogram(
      embs: DataFrame, idCol: String, vecCol: String,
      bins: Int = 20, delta: Long = 1L): DataFrame = {
    require(bins >= 2 && 20000 % bins == 0,
      s"bins must divide the 20000-step cosine lattice (got $bins)")
    require(delta != 0L, "delta must be non-zero")
    val spark = embs.sparkSession
    val a = embs.select(col(idCol).cast("long").as("ida"),
      col(vecCol).as("va"), fnorm(col(vecCol)).as("na"))
    val b = embs.select((col(idCol).cast("long") - delta).as("ida"),
      col(vecCol).as("vb"), fnorm(col(vecCol)).as("nb"))
    val cosD = fdot(col("va"), col("vb")) / (col("na") * col("nb"))
    val c4 = floor(cosD * lit(1e4) + lit(0.5)).cast("long")
    val counts = a.join(b, Seq("ida"))
      // Two raise tiers, checked on the DOUBLE (a NaN cast to long is
      // silently 0 = mid-bin, so the cast must never see one): exact
      // zero norms, then NaN/Inf/out-of-range cosines from subnormal
      // norm products that underflow to 0.0 (or overflow) without
      // either norm being exactly 0 — both would otherwise clamp into
      // an edge bin and quietly skew the histogram this operator
      // exists to keep trustworthy. |cos| ≤ 1.0001 tolerates one
      // lattice step of IEEE drift; anything past it is corrupt input.
      .select(when(col("na") === 0 || col("nb") === 0,
        raise_error(lit("cosineHistogram: zero-norm vector")))
        .when(isnan(cosD) || abs(cosD) > lit(1.0001),
          raise_error(lit(
            "cosineHistogram: non-finite cosine (norm underflow/overflow)")))
        .otherwise(c4).as("c4"))
      .select(least(lit(bins - 1L), greatest(lit(0L),
        expr(s"((c4 + 10000) * $bins) div 20000"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val step = 2000000L / bins
    spark.range(bins).select(col("id").as("bin"))
      .join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"),
        (lit(-1000000L) + col("bin") * step).as("lo_e6"),
        (lit(-1000000L) + (col("bin") + 1) * step).as("hi_e6"),
        coalesce(col("n"), lit(0L)).as("n_pairs"))
  }

  /** Margin-based mutual-kNN pair mining (Artetxe & Schwenk, ACL 2019 —
    * the bitext-mining scorer behind large-scale parallel-corpus
    * construction, e.g. CCMatrix/LASER pipelines): a pair (l, r) is
    * emitted when each side is in the other's k-neighborhood AND the
    * RATIO of their cosine to the mean cosine of the two neighborhoods
    * clears a threshold. Absolute cosine cutoffs over-fire in dense
    * embedding pockets and under-fire in sparse ones; the margin
    * self-normalizes per pair (the published "ratio" variant):
    *
    *   margin(l, r) = cos(l, r) / (avg cos(l, NNk(l)) / 2
    *                             + avg cos(r, NNk(r)) / 2)
    *
    * Determinism: cosines land on the 1e-3 integer lattice via
    * `floor(x·1000 + ½)` (never engine `round()` — half-up rounding
    * diverges between engines within an ulp of a .0005 boundary),
    * neighborhood sums are exact integer sums of lattice points, the
    * accept test cross-multiplies into BIGINT (no division), and the
    * reported margin is ONE IEEE division of two exact sub-2⁵³
    * integers — bit-identical in any engine mirroring the tree.
    *
    * Scale: this form scores the dense |L|×|R| grid with the fused
    * codegen dot product and the small side broadcast — the exact
    * baseline, same contract as [[cosineTopK]]. At corpus scale the
    * grid gate swaps for [[annLshBuckets]]/IVF candidates (band/cell
    * equi joins); everything downstream is unchanged because it only
    * consumes (l, r, sim) candidate rows. The ranked grid is pruned to
    * the k-neighborhood rows (≤ k·(|L|+|R|)) and localCheckpointed
    * once — three consumers (two sum tables + the mutual filter) read
    * the materialized slice instead of re-scoring the grid, and both
    * rank windows are id-partitioned, never global.
    *
    * Output: (l_id, r_id, sim_e3, margin) for mutual pairs with
    * margin·100 > `thresholdPct`. Pairs whose pooled neighborhood sum
    * is ≤ 0 are rejected (the margin is a contrast against positive
    * neighborhood affinity; a non-positive pool has none to contrast).
    */
  def marginMining(
      left: DataFrame, right: DataFrame,
      lIdCol: String, rIdCol: String, vecCol: String,
      k: Int, thresholdPct: Int = 105): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64] (got $k)")
    require(thresholdPct >= 100 && thresholdPct <= 1000,
      s"thresholdPct must be in [100, 1000] (got $thresholdPct)")
    // A zero-norm vector would make the cosine divide NaN → NULL
    // sim_e3, silently mis-ranking or dropping those candidates from
    // every neighborhood — fail loudly instead (the urlDedup null-key
    // discipline). Cosine over a zero vector has no defined value;
    // callers with zero vectors must filter them with intent first.
    def normChecked(idCol: Column, n: Column, side: String): Column =
      when(n.isNull || n === 0.0,
        raise_error(concat(
          lit(s"marginMining: zero/null-norm $side vector for id "),
          idCol.cast("string"))))
        .otherwise(n)
    val l = left.select(col(lIdCol).as("l_id"), col(vecCol).as("l_vec"),
      normChecked(col(lIdCol), fnorm(col(vecCol)), "left").as("l_norm"))
    val r = right.select(col(rIdCol).as("r_id"), col(vecCol).as("r_vec"),
      normChecked(col(rIdCol), fnorm(col(vecCol)), "right").as("r_norm"))
    val s = r.crossJoin(broadcast(l))
      .select(col("l_id"), col("r_id"),
        floor(fdot(col("l_vec"), col("r_vec")) /
          (col("l_norm") * col("r_norm")) * lit(1000) + lit(0.5))
          .cast("long").as("sim_e3"))
    val wl = Window.partitionBy("l_id")
      .orderBy(col("sim_e3").desc, col("r_id").asc)
    val wr = Window.partitionBy("r_id")
      .orderBy(col("sim_e3").desc, col("l_id").asc)
    // Every consumer below only reads rows inside SOME k-neighborhood —
    // prune before materializing so the checkpoint holds k·(|L|+|R|)
    // rows, not the grid.
    val ranked = s.withColumn("rk_l", row_number().over(wl))
      .withColumn("rk_r", row_number().over(wr))
      .filter(col("rk_l") <= k || col("rk_r") <= k)
      .localCheckpoint()
    val nl = ranked.filter(col("rk_l") <= k).groupBy("l_id")
      .agg(sum("sim_e3").as("suml"), count(lit(1)).as("cntl"))
    val nr = ranked.filter(col("rk_r") <= k).groupBy("r_id")
      .agg(sum("sim_e3").as("sumr"), count(lit(1)).as("cntr"))
    val pool = col("suml") * col("cntr") + col("sumr") * col("cntl")
    ranked.filter(col("rk_l") <= k && col("rk_r") <= k)
      .join(nl, "l_id").join(nr, "r_id")
      .filter(pool > 0 &&
        lit(200) * col("sim_e3") * col("cntl") * col("cntr") >
          lit(thresholdPct) * pool)
      .select(col("l_id"), col("r_id"), col("sim_e3"),
        ((lit(2.0) * col("sim_e3") * col("cntl") * col("cntr"))
          .cast("double") / pool.cast("double")).as("margin"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998 —
    * maximal marginal relevance): greedily pick `k` of each query's
    * candidates, each round taking the candidate maximizing
    *
    *   λ · rel(c) − (1−λ) · max_{s ∈ selected} sim(c, s)
    *
    * — relevance traded against redundancy with what's already picked.
    * THE diversification step between retrieval and consumption:
    * dedup-aware RAG context assembly, diverse few-shot selection,
    * diverse hard-negative pools.
    *
    * Determinism: relevance arrives on the 1e-3 lattice (`relE3Col`),
    * candidate-pair similarities land on the same lattice via the v16
    * floor form, λ is an integer percent, so every round's objective
    * `lam·rel − (100−lam)·maxsim` is exact 64-bit INTEGER arithmetic
    * and the argmax is `min(struct(−score, c_id))` — no window, no
    * float, engine-stable bit for bit.
    *
    * Scale: candidate sets are per-query top-N (the upstream
    * retriever's contract), so the pair table is N²-per-query rows —
    * computed ONCE with the fused codegen dot product and
    * localCheckpointed; each of the k−1 greedy rounds is a semi/anti
    * join + one hash aggregate over candidate-sized frames, all
    * query-keyed (never global). k and N are policy constants: the
    * whole rerank moves O(queries · N²) rows regardless of corpus
    * size.
    *
    * Output: (q_id, c_id, mmr_round) — round 1 is the pure-relevance
    * pick; queries with fewer than k candidates emit what they have.
    */
  def mmrRerank(
      candidates: DataFrame, qIdCol: String, cIdCol: String,
      relE3Col: String, vectors: DataFrame, vIdCol: String,
      vecCol: String, k: Int, lambdaPct: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1, 100] (got $k)")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"lambdaPct must be in [0, 100] (got $lambdaPct)")
    val cands = candidates.select(
      col(qIdCol).as("q_id"), col(cIdCol).as("c_id"),
      col(relE3Col).cast("long").as("rel_e3"))
    // Sub-cap driver fast path — the [[Graph.propagate]] discipline: the
    // greedy loop's state is the candidate table (queries × k rows) and
    // every score an exact long on a fixed IEEE lattice, so a sub-cap
    // candidate set runs the k rounds in plain Scala — zero Spark jobs
    // per round instead of ~4 (anti join, semi join + max, argmax,
    // checkpoint) — with bit-identical output: sim_e3 replays the
    // codegen kernel's left-fold dot product, float→double widening and
    // floor(x·1000 + 0.5) lattice literally, and the argmax tie-break
    // (max score, then smallest c_id — both integral here, the gate
    // below) is Long ordering on both paths. Gated to integral id
    // columns and array<float> vectors so driver ordering/arithmetic
    // provably match Spark's; anything else (and over-cap inputs) takes
    // the distributed loop unchanged.
    val integralIds = {
      import org.apache.spark.sql.types._
      def ok(dt: DataType) = dt == LongType || dt == IntegerType
      val vt = vectors.select(col(vecCol)).schema.head.dataType
      ok(cands.schema("q_id").dataType) && ok(cands.schema("c_id").dataType) &&
        (vt == ArrayType(FloatType, containsNull = true) ||
          vt == ArrayType(FloatType, containsNull = false))
    }
    val candsEff = if (integralIds) cands.localCheckpoint() else cands
    if (integralIds && Guards.fitsDriver(candsEff, Guards.DriverCapVectors)) {
      def idOf(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
        case l: Long => l
        case n: Int => n.toLong
      }
      val cRows = candsEff.collect().map(r => (idOf(r, 0), idOf(r, 1), r.getLong(2)))
      val vRows = vectors
        .select(col(vIdCol).as("id"), col(vecCol).as("v"))
        .join(candsEff.select(col("c_id")).distinct(),
          col("id") === col("c_id"), "left_semi")
        .collect()
      val vecs = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
      val norms = scala.collection.mutable.HashMap.empty[Long, Double]
      for (r <- vRows) {
        val id = idOf(r, 0)
        val v: Array[Float] =
          if (r.isNullAt(1)) null
          else r.getSeq[Float](1).toArray
        val n =
          if (v == null) Double.NaN
          else {
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
            math.sqrt(s)
          }
        if (n.isNaN || n == 0.0)
          throw new RuntimeException(
            s"mmrRerank: zero/null-norm vector for id $id")
        vecs(id) = v; norms(id) = n
      }
      def simE3(a: Long, b: Long): Long = {
        val x = vecs(a); val y = vecs(b)
        val m = math.min(x.length, y.length)
        var s = 0.0; var i = 0
        while (i < m) { s += x(i).toDouble * y(i).toDouble; i += 1 }
        math.floor(s / (norms(a) * norms(b)) * 1000 + 0.5).toLong
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      for ((q, group0) <- cRows.filter(c => vecs.contains(c._2)).groupBy(_._1)) {
        val group = group0.map(c => (c._2, c._3)) // (c_id, rel)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        var round = 1
        // Gate on remaining.nonEmpty, not selected.size < group.length:
        // duplicate (q_id, c_id) candidate rows inflate group.length, and
        // once every DISTINCT id is picked the distributed anti-join loop
        // just stops emitting — minBy on an empty remaining would throw.
        var remaining = group
        while (round <= k && remaining.nonEmpty) {
          val pick =
            if (round == 1) remaining.minBy { case (cid, rel) => (-rel, cid) }
            else remaining.minBy { case (cid, rel) =>
              val ms = selected.map(o => simE3(cid, o)).max
              (-(lambdaPct.toLong * rel - (100 - lambdaPct).toLong * ms), cid)
            }
          selected += pick._1
          out += ((q, pick._1, round))
          remaining = remaining.filterNot(_._1 == pick._1)
          round += 1
        }
      }
      val spark0 = candidates.sparkSession
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("q_id", candsEff.schema("q_id").dataType),
        StructField("c_id", candsEff.schema("c_id").dataType),
        StructField("mmr_round", IntegerType, nullable = false)))
      def backId(dt: DataType, v: Long): Any =
        if (dt == LongType) v else v.toInt
      val rows = out.toSeq.map { case (q, c, r) =>
        org.apache.spark.sql.Row(
          backId(schema(0).dataType, q), backId(schema(1).dataType, c), r)
      }
      return spark0.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }
    // Same zero-norm contract as marginMining: a zero/null-norm vector
    // would NaN→NULL the pairwise sim and silently skew the
    // redundancy penalty — fail loudly instead.
    val cv = candsEff.join(
        vectors.select(col(vIdCol).as("c_id"), col(vecCol).as("v"),
          when(fnorm(col(vecCol)).isNull || fnorm(col(vecCol)) === 0.0,
            raise_error(concat(
              lit("mmrRerank: zero/null-norm vector for id "),
              col(vIdCol).cast("string"))))
            .otherwise(fnorm(col(vecCol))).as("n")),
        Seq("c_id"))
      .localCheckpoint()
    val pairs = cv.as("x").join(cv.as("y"),
        col("x.q_id") === col("y.q_id") && col("x.c_id") =!= col("y.c_id"))
      .select(col("x.q_id").as("q_id"), col("x.c_id").as("c_id"),
        col("y.c_id").as("o_id"),
        floor(fdot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")) *
          lit(1000) + lit(0.5)).cast("long").as("sim_e3"))
      .localCheckpoint()
    def argmax(df: DataFrame, score: Column, round: Int): DataFrame =
      df.groupBy("q_id")
        .agg(min(struct((-score).as("ns"), col("c_id"))).as("m"))
        .select(col("q_id"), col("m.c_id").as("c_id"),
          lit(round).as("mmr_round"))
    // `selected` is re-consumed THREE ways per round (anti join, semi
    // join, union) — left lazy, round r's plan would contain round
    // r−1's twice and lineage would grow 2^k (measured 5.8 s vs 1.5 s
    // at k = 5, sf0.1). It's queries × r rows — checkpointing it each
    // round is the iteration-state discipline the graph loops use.
    var selected = argmax(cv, col("rel_e3"), 1).localCheckpoint()
    for (r <- 2 to k) {
      val remaining = cv.join(selected.select("q_id", "c_id"),
        Seq("q_id", "c_id"), "left_anti")
      val maxSim = pairs
        .join(selected.select(col("q_id"), col("c_id").as("o_id")),
          Seq("q_id", "o_id"), "left_semi")
        .groupBy("q_id", "c_id").agg(max("sim_e3").as("ms"))
      val scored = remaining.join(maxSim, Seq("q_id", "c_id"))
      selected = selected.unionByName(argmax(scored,
        lit(lambdaPct) * col("rel_e3") -
          lit(100 - lambdaPct) * col("ms"), r)).localCheckpoint()
    }
    selected
  }

  /** Binary quantization: pack each dimension's sign bit into one long
    * (dim <= 64) — 64× compression at dim 64, the cheapest embedding
    * sketch: Hamming distance on the packed longs approximates angular
    * distance (each agreeing sign bit is one hyperplane the pair
    * doesn't straddle). Pure column expression; the per-dim fold is a
    * higher-order `aggregate` — per-row dim ops on an already
    * column-pruned scan, nothing wider than (id, long) downstream.
    */
  def binaryQuantize(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // expr form: the Scala `shiftleft` overload only takes literal bit
    // counts; the SQL function shifts by a column. The caller's vector
    // column resolves through the analyzer ONCE into the internal
    // `__bq_v` alias (raw-SQL name interpolation would break on names
    // needing backquotes — the rateAnomaly discipline). Guards: > 64
    // dims would alias onto bits mod 64 (shiftleft wraps the shift
    // count) — fail loudly instead of silently corrupting sketches;
    // empty vectors would make `sequence(0, -1)` count DOWN and index
    // element 0 — they sketch to 0.
    df.select(col(idCol).as("id"), col(vecCol).as("__bq_v"))
      .select(col("id"),
        expr("""CASE
          WHEN size(__bq_v) > 64 THEN
            raise_error(concat('binaryQuantize packs into one long: dim ',
              CAST(size(__bq_v) AS STRING), ' > 64'))
          WHEN size(__bq_v) <= 0 THEN 0L
          ELSE aggregate(
            sequence(0, size(__bq_v) - 1), 0L,
            (acc, j) -> acc | IF(element_at(__bq_v, j + 1) > CAST(0 AS FLOAT),
                                 shiftleft(1L, j), 0L))
          END""").as("sketch"))

  /** Hamming top-k over binary sketches: brute scan of the packed
    * corpus against broadcast query sketches — `bit_count(xor)` per
    * candidate instead of dim float multiplies, the re-rank-free form
    * of binary-quantized retrieval. Ties break on candidate id. Same
    * scale posture as [[cosineTopK]] (corpus never shuffles; per-query
    * rank window over ≤ |queries| × |corpus| scored rows — compose with
    * [[Dedup.hammingNearPairs]]-style chunk blocking when the corpus
    * outgrows the brute scan).
    */
  def hammingTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = binaryQuantize(queries, qIdCol, vecCol)
      .select(col("id").as("q_id"), col("sketch").as("q_sk"))
    val c = binaryQuantize(candidates, cIdCol, vecCol)
      .select(col("id").as("c_id"), col("sketch").as("c_sk"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        bit_count(col("q_sk").bitwiseXOR(col("c_sk"))).as("hamming"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("hamming").asc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "hamming", "rank")
  }

  /** Two-stage retrieval: Hamming shortlist over the packed sign
    * sketches, exact cosine rerank of the shortlist — the production
    * binary-quantized serving pattern (scan cost = bit_count over 8
    * bytes/candidate; float math only on `shortlist` rows per query).
    * With `shortlist` ≳ 4-8× k the result matches exact [[cosineTopK]]
    * except where quantization genuinely reorders near-ties
    * (spec-checked on the harness corpus).
    */
  def hammingRerankTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, shortlist: Int, roundTo: Int = 3): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val short = hammingTopK(queries, candidates, qIdCol, cIdCol, vecCol,
        shortlist)
      .select(col("q_id"), col("c_id"))
    // rerank: shortlist ids join back their vectors; both sides of the
    // rerank are (queries × shortlist)-sized — AQE broadcasts them
    val q = queries.select(
      col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
      fnorm(col(vecCol)).as("q_norm"))
    val c = candidates.select(
      col(cIdCol).as("c_id"), col(vecCol).as("c_vec"),
      fnorm(col(vecCol)).as("c_norm"))
    val scored = short.join(c, Seq("c_id")).join(q, Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        round(fdot(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")), roundTo).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Recall@k of an approximate retrieval run against exact ground
    * truth — the standard ANN quality gauge (how many of the true top-k
    * the index surfaced), computed per query so degraded buckets /
    * clusters show up as low-recall rows rather than vanishing into a
    * corpus mean.
    *
    * Both inputs are (query id, candidate id, rank) rankings as produced
    * by [[cosineTopK]] / [[hammingTopK]] / [[annIvfTopK]] et al. The
    * denominator is the query's actual truth-list size (≤ k when the
    * corpus is smaller than k), so recall is 1.0 for a perfect run on a
    * short list rather than capped below it.
    *
    * Scale: the rankings are per-query top-k lists, so this only ever
    * moves |queries|·k rows — a semi join on (q_id, c_id) and one
    * aggregate; the corpus itself is never touched. The ratio divides
    * two small exact integers and rounds, so the output hashes
    * identically in any engine.
    *
    * Output: (q_id, n_truth, n_hits, recall), one row per query present
    * in the exact ranking.
    */
  def recallAtK(
      approx: DataFrame, exact: DataFrame, k: Int,
      qIdCol: String = "q_id", cIdCol: String = "c_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    def topK(df: DataFrame) = df
      .filter(col(rankCol) <= k)
      .select(col(qIdCol).cast("long").as("q_id"),
        col(cIdCol).cast("long").as("c_id"))
    val truth = topK(exact)
    val hits = truth.join(topK(approx), Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_truth"), 4).as("recall"))
  }

  /** Per-dimension scalar-quantization bounds — model-sized (dim pairs
    * of doubles), like the IVF/PQ codebooks. */
  case class SqModel(mins: Seq[Double], maxs: Seq[Double]) {
    require(mins.nonEmpty && mins.length == maxs.length,
      "SqModel needs one (min, max) pair per dimension")
    def dim: Int = mins.length
  }

  /** Train int8 scalar-quantization bounds: per-dimension min/max over
    * the corpus — ONE posexplode + map-side-combined aggregate, output
    * dim-bounded (collected like the IVF/PQ codebooks; a 4096-dim model
    * is 64 KB on the driver). Floats widen to double before the
    * min/max so the bounds equal any engine's double read of the same
    * values.
    */
  def sqTrain(df: DataFrame, vecCol: String): SqModel = {
    // Fail-loud input discipline (the krippendorffAlpha/mcnemar
    // convention): a null vector must raise, not vanish through
    // posexplode; ragged lengths and null elements must raise, not
    // skew the per-dimension bounds (min/max silently skip nulls, and
    // a short vector simply contributes nothing to its missing dims).
    val guarded = df.select(
      when(col(vecCol).isNull,
        raise_error(lit("sqTrain: null vector")))
        .otherwise(col(vecCol)).as("v"))
    val rows = guarded
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"),
        count(lit(1)).as("n"), count(col("x")).as("nx"))
      .collect()
      .sortBy(_.getInt(0))
    require(rows.nonEmpty, "sqTrain: empty corpus")
    require(rows.map(_.getLong(3)).distinct.length == 1 &&
      rows.forall(r => r.getLong(3) == r.getLong(4)),
      "sqTrain: ragged vector lengths or null elements — every vector " +
        "must carry the same non-null dimensions")
    SqModel(rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Int8 scalar quantization of a vector column against an [[SqModel]]:
    * q_i = clamp₀²⁵⁵ ⌊(x_i − min_i)/(max_i − min_i)·255 + ½⌋, a pure
    * column expression (bounds ride as literals — scan-side, zero
    * shuffle, inside codegen). A degenerate dimension (max = min) maps
    * to 0 in every engine rather than dividing by zero. The floor(·+½)
    * half-up landing is one IEEE tree — engine-reproducible, the
    * lattice discipline.
    */
  def sqQuantize(
      df: DataFrame, idCol: String, vecCol: String,
      model: SqModel): DataFrame = {
    val mins = typedLit(model.mins)
    val maxs = typedLit(model.maxs)
    // Fail-loud: a null / wrong-length / null-element vector would
    // otherwise yield NULL (or silently-zero) code elements that sqTopK
    // ranks last — and a LONGER vector would silently truncate (the
    // same skew sqTrain rejects as ragged), so the length check is
    // strict equality, not a lower bound.
    val bad = col(vecCol).isNull ||
      size(col(vecCol)) =!= lit(model.dim) ||
      exists(col(vecCol), _.isNull)
    df.select(col(idCol).as("id"),
      when(bad, raise_error(concat(
        lit("sqQuantize: null, wrong-length or null-element vector " +
          "for id "),
        col(idCol).cast("string"))))
        .otherwise(
      transform(sequence(lit(1), lit(model.dim)), i =>
        when(element_at(maxs, i) > element_at(mins, i),
          least(lit(255L), greatest(lit(0L),
            floor((element_at(col(vecCol), i).cast("double") -
              element_at(mins, i)) /
              (element_at(maxs, i) - element_at(mins, i)) * lit(255.0) +
              lit(0.5)))))
          .otherwise(lit(0L)))).as("qv"))
  }

  /** Top-k retrieval over int8-quantized vectors — the SQ8 index path
    * of a production ANN stack (4 bytes/dim → 1, memory-bound scans go
    * 4× denser; [[recallAtK]] against [[cosineTopK]] measures what the
    * compression costs). Scores are EXACT integer dot products of the
    * quantized codes (≤ 255²·dim — 64-bit safe to ~10¹⁴ dims), so the
    * ranking has no float anywhere: zip_with + aggregate inside
    * codegen, ties broken by candidate id — bit-identical in any
    * engine, no rounding contract needed at all.
    *
    * This form scores the dense broadcast grid (the [[cosineTopK]]
    * exact-baseline contract); at corpus scale the candidate gate swaps
    * for the IVF/LSH equi-joins like every other v-family scorer.
    * Output: (q_id, c_id, dot_q, rank).
    */
  def sqTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      model: SqModel, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    val q = sqQuantize(queries, qIdCol, vecCol, model)
      .select(col("id").as("q_id"), col("qv").as("q_qv"))
    val c = sqQuantize(candidates, cIdCol, vecCol, model)
      .select(col("id").as("c_id"), col("qv").as("c_qv"))
    val dot = aggregate(
      zip_with(col("q_qv"), col("c_qv"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"), dot.as("dot_q"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("dot_q").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "dot_q", "rank")
  }

  /** Exact order-independent mean of a float component on the 1e7
    * integer grid (the [[Pca]] determinism contract, applied to k-means
    * centroid updates): sum(⌊x·grid + ½⌋) in long — exact whatever the
    * partition order — finished in double. A plain `avg(double)`
    * accumulates in partition order, so two runs (or two cluster
    * layouts) can train bit-different centroids and flip rounded
    * downstream outputs.
    *
    * ⌊x+½⌋, never engine `round()` (the [[Pca.quantized]] portability
    * rule: round() disagrees within 1 ulp of half boundaries across
    * engines/versions). Long accumulation, not decimal(38,0): the
    * per-cluster sum is bounded by n_cluster · grid · |x| (≲1e16 even
    * at 1e9 rows per cell of unit-scale embeddings, far under 2⁶³),
    * it stays in primitive codegen arithmetic instead of per-row
    * BigDecimal allocations, and ANSI mode turns the pathological
    * overflow into a loud error instead of a silent wrap.
    */
  private def gridMean(x: Column, grid: Double = 1e7): Column =
    sum(floor(x * grid + lit(0.5))).cast("double") / count(lit(1)) / grid

  /** The seeded per-row sampling hash for k-means init, mod `sampleMod`:
    * xxhash64 by default; `portable` swaps in the md5-derived
    * [[Dedup.portableTokenHash]] over `"seed:id"` so an external SQL
    * oracle can reproduce the identical sliver (xxhash64 exists only in
    * Spark). Both are row-deterministic, so the init is stable across
    * partition layouts either way.
    */
  private def initHash(
      id: Column, seed: Long, sampleMod: Long, portable: Boolean): Column =
    if (portable)
      Dedup.portableTokenHash(concat(lit(s"$seed:"), id.cast("string"))) %
        sampleMod
    else pmod(xxhash64(id + seed), lit(sampleMod))

  /** Deterministic random hyperplanes (seeded) for sign-bit LSH —
    * public so a SQL oracle can embed the identical plane vectors as
    * literals (widen each float with `.toDouble` when formatting: the
    * engines compare the *widened* values, and a float's shortest
    * string re-parsed as double is not the widened double).
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Tag each row with its `planes`-bit random-hyperplane bucket id. */
  def annLshBuckets(
      df: DataFrame, vecCol: String,
      planes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val hps = hyperplanes(planes, dim, seed)
    val bucket = hps.zipWithIndex.map { case (hp, i) =>
      when(fdot(col(vecCol), typedLit(hp)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    df.withColumn("bucket", bucket)
  }

  /** Banded sign-LSH keys: `bands` independent `planesPerBand`-bit bucket
    * ids as an `array<long>` (index = band). Two vectors at angle θ share a
    * given band with probability (1 - θ/π)^planesPerBand; over `bands`
    * independent bands the miss probability decays geometrically, so
    * recall at a target cosine threshold is tunable without giving up the
    * equi-join blocking shape (posexplode → join on (band, key)). One
    * fused native expression ([[graft.functions.SignBandKeys]]) — not
    * bands × planesPerBand separate dot-product expressions.
    */
  /** The flattened bands × planesPerBand × dim hyperplane matrix
    * (deterministic per seed) — shared by [[bandedSignKeys]] and the
    * `sign_band_keys` SQL registration in [[graft.GraftExtensions]].
    */
  def flatPlanes(bands: Int, planesPerBand: Int, dim: Int, seed: Long): Array[Float] = {
    val flat = new Array[Float](bands * planesPerBand * dim)
    for (b <- 0 until bands) {
      val hps = hyperplanes(planesPerBand, dim, seed + 7919L * b)
      for (p <- 0 until planesPerBand; i <- 0 until dim)
        flat((b * planesPerBand + p) * dim + i) = hps(p)(i)
    }
    flat
  }

  def bandedSignKeys(
      vec: Column, bands: Int, planesPerBand: Int,
      dim: Int, seed: Long): Column =
    ColumnBridge.column(graft.functions.SignBandKeys(
      ColumnBridge.expression(vec),
      flatPlanes(bands, planesPerBand, dim, seed), bands, planesPerBand, dim))

  /** Trained IVF coarse quantizer: `nlist` centroids. Dimension-sized —
    * lives on the driver and broadcasts into expressions as literals.
    */
  case class IvfModel(centroids: Seq[Seq[Float]]) {
    def nlist: Int = centroids.size
  }

  /** Train an IVF coarse quantizer with seeded init + Lloyd iterations.
    * Only centroid summaries (nlist × dim doubles) ever reach the driver;
    * assignments and means stay distributed.
    */
  /** Driver-side replica of [[graft.functions.NearestSubCentroids]]'s
    * eval — the sub-cap k-means fast paths must assign bit-identically
    * to the distributed expression (same cent2 summation order, same
    * strict `<` tie-break keeping the lowest index, same short-vector
    * guard).
    */
  private def assignSubDriver(
      v: Array[Float], codebook: Array[Float], cent2: Array[Double],
      m: Int, ksub: Int, dsub: Int): Array[Int] = {
    val n = v.length
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = Double.MaxValue
      var bestC = 0
      var c = 0
      while (c < ksub) {
        val off = (j * ksub + c) * dsub
        var dot = 0.0
        var i = 0
        while (i < dsub && j * dsub + i < n) {
          dot += v(j * dsub + i).toDouble * codebook(off + i).toDouble
          i += 1
        }
        val d = cent2(j * ksub + c) - 2.0 * dot
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      codes(j) = bestC
      j += 1
    }
    codes
  }

  private def cent2Of(
      codebook: Array[Float], m: Int, ksub: Int, dsub: Int): Array[Double] = {
    val out = new Array[Double](m * ksub)
    var jc = 0
    while (jc < m * ksub) {
      var s = 0.0
      var i = 0
      while (i < dsub) { val x = codebook(jc * dsub + i).toDouble; s += x * x; i += 1 }
      out(jc) = s
      jc += 1
    }
    out
  }

  /** The [[gridMean]] lattice, driver-side: the distributed sum adds
    * integer-valued doubles (exact below 2^53), so a Long accumulator
    * reproduces it bit for bit; the two divisions replay the same IEEE
    * sequence.
    */
  private def gridMeanDriver(sum: Long, cnt: Long, grid: Double = 1e7): Double =
    sum.toDouble / cnt / grid

  def ivfTrain(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 3, seed: Long = 42L,
      portable: Boolean = false): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    // Deterministic seeded init without a corpus-wide ordering: a hash
    // filter keeps ~16×nlist expected rows (row-deterministic, so stable
    // across partition layouts), and only that sliver is top-k'd for a
    // reproducible order. The corpus-wide orderBy survives only as the
    // fallback for the astronomically unlikely under-sample.
    val sampleMod = 1000003L
    val base = df.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      initHash(col(idCol).cast("long"), seed, sampleMod, portable).as("h"))
    val n = math.max(1L, base.count())
    val cut = math.max(1L, sampleMod * 16L * nlist / n)
    def takeOrdered(d: org.apache.spark.sql.DataFrame): Seq[Seq[Float]] =
      d.orderBy("h", "id").limit(nlist).select("v").as[Seq[Float]].collect().toSeq
    var centroids: Seq[Seq[Float]] = takeOrdered(base.filter(col("h") < cut))
    if (centroids.size < nlist) centroids = takeOrdered(base)
    // Sub-cap driver fast path — the propagate/trainSoftsign discipline:
    // Lloyd state is the centroid table, assignments replay the fused
    // expression's loop ([[assignSubDriver]]) and the mean the exact
    // [[gridMean]] lattice, so a sub-cap corpus runs the iterations in
    // plain Scala (zero Spark jobs per round instead of one
    // assignment+mean aggregate each) with bit-identical centroids.
    // Over the cap (or with the twins switched off) the distributed loop
    // runs unchanged.
    if (Guards.onDriver(spark, n, Guards.DriverCapVectors)) {
      val vecs = df.select(col(vecCol)).collect()
        .flatMap(r => if (r.isNullAt(0)) None
          else Some(r.getSeq[Float](0).toArray))
      val dimMax = if (vecs.isEmpty) 0 else vecs.iterator.map(_.length).max
      for (_ <- 1 to iters) {
        val dim = centroids.head.size
        // Ragged inputs can update centroids to unequal lengths; the
        // distributed loop fails loudly via nearestSubCentroids' uniformity
        // require — fail identically here instead of silently mis-indexing
        // the flattened codebook.
        require(centroids.forall(_.size == dim),
          "codebook must be a uniform m × ksub × dsub matrix")
        val cb = centroids.flatten.toArray
        val c2 = cent2Of(cb, 1, nlist, dim)
        val sums = Array.ofDim[Long](nlist, dimMax)
        val cnts = Array.ofDim[Long](nlist, dimMax)
        for (v <- vecs) {
          val c = assignSubDriver(v, cb, c2, 1, nlist, dim)(0)
          var i = 0
          while (i < v.length) {
            sums(c)(i) += math.floor(v(i).toDouble * 1e7 + 0.5).toLong
            cnts(c)(i) += 1
            i += 1
          }
        }
        centroids = centroids.indices.map { c =>
          val ms = (0 until dimMax).filter(i => cnts(c)(i) > 0)
            .map(i => gridMeanDriver(sums(c)(i), cnts(c)(i)).toFloat)
          if (ms.nonEmpty) ms else centroids(c) // empty cluster keeps its centroid
        }
      }
      return IvfModel(centroids)
    }
    for (_ <- 1 to iters) {
      val assigned = df.withColumn("__c", nearestCentroid(col(vecCol), centroids))
      val means = assigned
        .select(col("__c"), posexplode(col(vecCol)).as(Seq("i", "x")))
        .groupBy("__c", "i").agg(gridMean(col("x")).as("m"))
        .as[(Int, Int, Double)].collect()
      val byCluster = means.groupBy(_._1)
      centroids = centroids.indices.map { c =>
        byCluster.get(c) match {
          case Some(ms) => ms.sortBy(_._2).map(_._3.toFloat).toSeq
          case None     => centroids(c) // empty cluster keeps its centroid
        }
      }
    }
    IvfModel(centroids)
  }

  /** The coarse-quantizer assignment as a projection: the input plus a
    * `cluster` column holding each row's nearest-centroid index. Centroids
    * ride into the plan as literals (driver-sized, nlist × dim), so the
    * assignment is a codegen'd map — no join, no shuffle.
    */
  def assignClusters(df: DataFrame, vecCol: String, model: IvfModel): DataFrame =
    df.withColumn("cluster", nearestCentroid(col(vecCol), model.centroids))

  /** Index of the nearest centroid by squared L2 distance — the fused
    * [[graft.functions.NearestSubCentroids]] loop (the expression-tree
    * argmin form blows past janino's method-size limit at PQ/IVF widths
    * and falls back to interpreted eval).
    */
  private def nearestCentroid(vec: Column, centroids: Seq[Seq[Float]]): Column =
    nearestCentroidIdx(vec, centroids)

  /** The query-side probe list: indexes of the `nprobe` nearest centroids. */
  private def probeList(vec: Column, centroids: Seq[Seq[Float]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x.toDouble * x).sum
      struct((lit(c2) - lit(2.0) * fdot(vec, typedLit(c))).as("d"), lit(i).as("i"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nprobe), s => s.getField("i"))
  }

  /** IVF approximate top-k: candidates are bucketed by their nearest
    * centroid (at scale: the partition/bucket key of the index); each
    * query probes its `nprobe` nearest buckets and exact-scores only those
    * candidates. `nprobe == nlist` degrades gracefully to exact search.
    */
  def annIvfTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, model: IvfModel, nprobe: Int = 4, roundTo: Int = 3): DataFrame = {
    val c = candidates.select(
      col(cIdCol).as("c_id"), col(vecCol).as("c_vec"),
      fnorm(col(vecCol)).as("c_norm"),
      nearestCentroid(col(vecCol), model.centroids).as("cluster"))
    val q = queries.select(
        col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
        fnorm(col(vecCol)).as("q_norm"),
        explode(probeList(col(vecCol), model.centroids, nprobe)).as("cluster"))
    val scored = c.join(broadcast(q), Seq("cluster"))
      .select(col("q_id"), col("c_id"),
        round(fdot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), roundTo)
          .as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Materialize the IVF index: candidates written as parquet partitioned
    * by nearest-centroid cluster — the on-disk layout of the 100-TB path,
    * where a probe reads `nprobe` partition directories instead of the
    * corpus. `repartition(cluster)` first so each partition directory
    * gets one file per shuffle partition, not one per input task.
    */
  def writeIvfIndex(
      candidates: DataFrame, cIdCol: String, vecCol: String,
      model: IvfModel, dest: String): Unit =
    candidates.select(
        col(cIdCol).as("c_id"), col(vecCol).as("c_vec"),
        fnorm(col(vecCol)).as("c_norm"),
        nearestCentroid(col(vecCol), model.centroids).as("cluster"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(dest)

  /** Probe a materialized IVF index: identical scoring to [[annIvfTopK]],
    * but the candidate side is the partitioned index scan and the
    * broadcast probe list drives *dynamic partition pruning* — only the
    * probed cluster directories are read (`SimilaritySpec` asserts the
    * pruning subquery in the scan).
    */
  def annIvfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      queries: DataFrame, qIdCol: String, vecCol: String,
      k: Int, model: IvfModel, nprobe: Int = 4, roundTo: Int = 3): DataFrame = {
    val c = spark.read.parquet(indexPath)
    val q = queries.select(
        col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
        fnorm(col(vecCol)).as("q_norm"),
        explode(probeList(col(vecCol), model.centroids, nprobe)).as("cluster"))
    val scored = c.join(broadcast(q), Seq("cluster"))
      .select(col("q_id"), col("c_id"),
        round(fdot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), roundTo)
          .as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Trained product quantizer: `m` subspaces, `ksub` centroids per
    * subspace, each of dimension dim/m. Driver-sized (m × ksub × dsub
    * floats) — rides into plans as literals, like [[IvfModel]].
    */
  case class PqModel(subCentroids: Seq[Seq[Seq[Float]]]) {
    def m: Int = subCentroids.size
    def ksub: Int = subCentroids.head.size
    def dsub: Int = subCentroids.head.head.size
  }

  private def subSlice(vec: Column, j: Int, dsub: Int): Column =
    slice(vec, j * dsub + 1, dsub)

  /** Train a product quantizer (Jégou et al. 2011): independent k-means
    * per subspace. All m subspaces train in ONE distributed plan per
    * Lloyd iteration — assignments stay per-row projections (centroid
    * literals, no join), the means come back as one
    * groupBy(subspace, code, component) aggregate, and only
    * m × ksub × dsub means ever reach the driver.
    */
  def pqTrain(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 3, seed: Long = 42L,
      portable: Boolean = false): PqModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = df.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val dsub = dim / m
    // Seeded hash-sliver init (same contract as ivfTrain: deterministic
    // across partition layouts, no corpus-wide ordering on the main path).
    val sampleMod = 1000003L
    val base = df.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      initHash(col(idCol).cast("long"), seed, sampleMod, portable).as("h"))
    val n = math.max(1L, base.count())
    val cut = math.max(1L, sampleMod * 16L * ksub / n)
    def takeOrdered(d: DataFrame): Seq[Seq[Float]] =
      d.orderBy("h", "id").limit(ksub).select("v").as[Seq[Float]].collect().toSeq
    var sample = takeOrdered(base.filter(col("h") < cut))
    if (sample.size < ksub) sample = takeOrdered(base)
    var model: Seq[Seq[Seq[Float]]] =
      (0 until m).map(j => sample.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    // Sub-cap driver fast path — same contract as [[ivfTrain]]'s: the
    // per-subspace assignment replays [[assignSubDriver]] and the means
    // the exact gridMean lattice, so the rounds run driver-side with
    // bit-identical codebooks; over the cap (or with the twins switched
    // off) the distributed loop runs unchanged.
    if (Guards.onDriver(spark, n, Guards.DriverCapVectors)) {
      val vecs = df.select(col(vecCol)).collect()
        .flatMap(r => if (r.isNullAt(0)) None
          else Some(r.getSeq[Float](0).toArray))
      for (_ <- 1 to iters) {
        // Same uniformity contract as nearestSubCentroids on the
        // distributed path: ragged updated centroids must fail loudly,
        // not silently mis-index the flattened codebook.
        require(model.forall(s => s.size == ksub && s.forall(_.size == dsub)),
          "codebook must be a uniform m × ksub × dsub matrix")
        val cb = model.flatten.flatten.toArray
        val c2 = cent2Of(cb, m, ksub, dsub)
        val sums = Array.ofDim[Long](m, ksub, dsub)
        val cnts = Array.ofDim[Long](m, ksub, dsub)
        for (v <- vecs) {
          val codes = assignSubDriver(v, cb, c2, m, ksub, dsub)
          var j = 0
          while (j < m) {
            val c = codes(j)
            var i = 0
            // the distributed slice(v, j*dsub+1, dsub) clips to the
            // vector's actual length — replicate the clip
            while (i < dsub && j * dsub + i < v.length) {
              sums(j)(c)(i) +=
                math.floor(v(j * dsub + i).toDouble * 1e7 + 0.5).toLong
              cnts(j)(c)(i) += 1
              i += 1
            }
            j += 1
          }
        }
        model = (0 until m).map { j =>
          (0 until ksub).map { c =>
            val ms = (0 until dsub).filter(i => cnts(j)(c)(i) > 0)
              .map(i => gridMeanDriver(sums(j)(c)(i), cnts(j)(c)(i)).toFloat)
            if (ms.nonEmpty) ms else model(j)(c) // empty cell keeps its centroid
          }
        }
      }
      return PqModel(model)
    }
    for (_ <- 1 to iters) {
      // one plan: fused all-subspace assignment (single eval per row), then
      // explode (subspace, code) and the subvector, average per component
      val means = df
        .select(col(vecCol).as("v"),
          nearestSubCentroids(col(vecCol), model).as("cs"))
        .select(col("v"), posexplode(col("cs")).as(Seq("j", "c")))
        .select(col("j"), col("c"),
          posexplode(slice(col("v"), col("j") * dsub + 1, lit(dsub)))
            .as(Seq("i", "x")))
        .groupBy("j", "c", "i").agg(gridMean(col("x")).as("mean"))
        .as[(Int, Int, Int, Double)].collect()
      val byJc = means.groupBy(t => (t._1, t._2))
      model = (0 until m).map { j =>
        (0 until ksub).map { c =>
          byJc.get((j, c)) match {
            case Some(ms) => ms.sortBy(_._3).map(_._4.toFloat).toSeq
            case None     => model(j)(c) // empty cell keeps its centroid
          }
        }
      }
    }
    PqModel(model)
  }

  /** Attach the `m`-byte PQ code (`array<int>`, one nearest-sub-centroid
    * index per subspace) — a pure projection against centroid literals:
    * codegen'd, no join, no shuffle. dim/m × compression vs the raw
    * vector (the storage step between int8 scaling and IVF layout).
    */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel): DataFrame =
    df.withColumn("pq_code", nearestSubCentroids(col(vecCol), model.subCentroids))

  /** The reconstructed vector for a PQ code column: concat of the coded
    * sub-centroids (literal lookup table, per-row `element_at`).
    */
  def pqReconstruct(codeCol: Column, model: PqModel): Column =
    concat((0 until model.m).map { j =>
      element_at(typedLit(model.subCentroids(j)),
        element_at(codeCol, j + 1) + 1)
    }: _*)

  /** PQ reconstruction diagnostics (the v4-int8 shape for PQ): per row,
    * the code and the relative L2 reconstruction error
    * ||v - recon|| / ||v||, computed from dot products — the raw and
    * reconstructed vectors never co-shuffle.
    */
  def pqReconError(
      df: DataFrame, idCol: String, vecCol: String,
      model: PqModel, roundTo: Int = 4): DataFrame = {
    val v = col(vecCol)
    val r = pqReconstruct(col("pq_code"), model)
    pqEncode(df, vecCol, model).select(
      col(idCol).as("id"), col("pq_code"),
      round(
        sqrt(greatest(lit(0.0),
          fdot(v, v) - lit(2.0) * fdot(v, r) + fdot(r, r))) / fnorm(v),
        roundTo).as("recon_err"))
  }

  /** PQ asymmetric-distance top-k (ADC): each query scores candidates
    * through its per-subspace lookup table — `sum_j lut[j][code_j]` —
    * never touching the raw candidate vectors. The LUT (m × ksub doubles)
    * is computed once per query row and broadcast with it; the candidate
    * side streams (id, code) pairs only. At 100 TB that is the point of
    * PQ: the scan reads m bytes per vector instead of dim floats, and the
    * scoring is m array lookups instead of dim multiplies. Sims are the
    * ADC approximation of cosine (query side exact, candidate side
    * reconstructed), rounded before ranking for reproducibility.
    */
  def pqTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, model: PqModel, roundTo: Int = 3): DataFrame = {
    val m = model.m; val dsub = model.dsub
    // candidate side: code + reconstructed norm (both tiny), raw vec dropped
    val c = pqEncode(candidates, vecCol, model)
      .select(col(cIdCol).as("c_id"), col("pq_code"),
        fnorm(pqReconstruct(col("pq_code"), model)).as("c_norm"))
    val lut = array((0 until m).map { j =>
      array((0 until model.ksub).map { kk =>
        fdot(subSlice(col(vecCol), j, dsub), typedLit(model.subCentroids(j)(kk)))
      }: _*)
    }: _*)
    val q = queries.select(
      col(qIdCol).as("q_id"), lut.as("lut"), fnorm(col(vecCol)).as("q_norm"))
    val adc = (0 until m).map { j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        round(adc / (col("q_norm") * col("c_norm")), roundTo).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Composed IVF-PQ search (the standard large-scale ANN index shape):
    * candidates carry (cluster, pq_code) only, each query probes its
    * `nprobe` nearest IVF cells and ADC-scores just those cells' codes
    * through its lookup table. Joins on the cluster key — the crossJoin
    * of plain [[pqTopK]] becomes an equi-join, so at 100 TB the scan
    * reads m code bytes per vector AND each candidate row meets only the
    * queries probing its cell. Codes quantize the raw vectors, not
    * per-cell residuals: one code table serves every cell, which keeps
    * the model driver-sized and the oracle replayable; classic
    * residual-IVFPQ trades that for tighter cells at large nlist.
    */
  def ivfPqTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, ivf: IvfModel, pq: PqModel,
      nprobe: Int = 4, roundTo: Int = 3): DataFrame = {
    val m = pq.m; val dsub = pq.dsub
    val c = pqEncode(candidates, vecCol, pq)
      .select(col(cIdCol).as("c_id"), col("pq_code"),
        fnorm(pqReconstruct(col("pq_code"), pq)).as("c_norm"),
        nearestCentroid(col(vecCol), ivf.centroids).as("cluster"))
    val lut = array((0 until m).map { j =>
      array((0 until pq.ksub).map { kk =>
        fdot(subSlice(col(vecCol), j, dsub), typedLit(pq.subCentroids(j)(kk)))
      }: _*)
    }: _*)
    val q = queries.select(
      col(qIdCol).as("q_id"), lut.as("lut"), fnorm(col(vecCol)).as("q_norm"),
      explode(probeList(col(vecCol), ivf.centroids, nprobe)).as("cluster"))
    val adc = (0 until m).map { j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = c.join(broadcast(q), Seq("cluster"))
      .select(col("q_id"), col("c_id"),
        round(adc / (col("q_norm") * col("c_norm")), roundTo).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Approximate cosine top-k: score only candidates sharing the query's
    * LSH bucket. Recall < 1 by construction; precision 1 (exact scoring
    * within the bucket).
    */
  def annLshTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, planes: Int = 8, dim: Int = 64,
      seed: Long = 42L, roundTo: Int = 3): DataFrame = {
    val q = annLshBuckets(queries, vecCol, planes, dim, seed)
      .select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
        fnorm(col(vecCol)).as("q_norm"), col("bucket"))
    val c = annLshBuckets(candidates, vecCol, planes, dim, seed)
      .select(col(cIdCol).as("c_id"), col(vecCol).as("c_vec"),
        fnorm(col(vecCol)).as("c_norm"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("q_id"), col("c_id"),
        round(fdot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), roundTo)
          .as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Maximum inner-product search (MIPS), exact: top-k candidates per
    * query by RAW dot product — the recommendation-retrieval scoring
    * mode (user × item factor models rank by inner product, where a
    * long candidate vector should win; cosine would normalize that
    * signal away). Same broadcast-queries shape as [[cosineTopK]]:
    * the corpus never shuffles, scoring is the fused codegen dot
    * kernel, ranks break ties on the ROUNDED score then id so engines
    * agree. Output: (q_id, c_id, dot, rank).
    */
  def mipsTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, roundTo: Int = 3): DataFrame = {
    val q = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(cIdCol).as("c_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        round(fdot(col("q_vec"), col("c_vec")), roundTo).as("dot"))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "dot", "rank")
  }

  /** Approximate MIPS via the norm-augmentation reduction (Shrivastava
    * & Li, NIPS 2014 asymmetric LSH; Neyshabur & Srebro 2015 L2 form):
    * append sqrt(M² − ‖x‖²) to each candidate (M = max candidate norm)
    * and 0 to each query — then cos(q̂, x̂) is a monotone transform of
    * q·x for each fixed query, so ANGULAR bucketing on the augmented
    * vectors targets high-dot pairs. Candidates colliding with a query
    * in the augmented sign-LSH bucket are scored by EXACT dot of the
    * original vectors (the asymmetric trick only steers candidate
    * generation; scores stay exact).
    *
    * The augmentation coordinate compresses the corpus into a narrow
    * cone when candidate norms cluster below M (the reduction's known
    * recall cost), so the QUERY side multi-probes: besides its own
    * bucket it probes every 1-bit-flip neighbor (planes+1 keys per
    * query — standard multi-probe LSH, query-side only, so the corpus
    * side stays one bucket key per row).
    *
    * Scale: M² is one scalar aggregate broadcast back; bucketing and
    * the bucket equi-join follow [[annLshTopK]]'s shape — the corpus
    * moves once, keyed by bucket, never all-pairs.
    */
  def annMipsTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, planes: Int = 8, dim: Int = 64,
      seed: Long = 42L, roundTo: Int = 3): DataFrame = {
    val m2 = candidates
      .select(fdot(col(vecCol), col(vecCol)).as("n2"))
      .agg(max("n2").as("m2"))
    val caug = candidates.crossJoin(broadcast(m2)).select(
      col(cIdCol).as("cid0"), col(vecCol).as("cvec0"),
      concat(col(vecCol), array(
        sqrt(greatest(col("m2") - fdot(col(vecCol), col(vecCol)), lit(0.0)))
          .cast("float"))).as("caug"))
    val qaug = queries.select(
      col(qIdCol).as("qid0"), col(vecCol).as("qvec0"),
      concat(col(vecCol), array(lit(0.0f))).as("qaug"))
    val cb = annLshBuckets(caug, "caug", planes, dim + 1, seed)
    val qb = annLshBuckets(qaug, "qaug", planes, dim + 1, seed)
      .select(col("qid0"), col("qvec0"),
        explode(array(col("bucket") +:
          (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
          : _*)).as("bucket"))
    // no pair dedup needed: a candidate holds ONE bucket key and the
    // query's probe keys are pairwise distinct, so each (q, c) pair can
    // collide on at most one key
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .select(col("qid0").as("q_id"), col("cid0").as("c_id"),
        round(fdot(col("qvec0"), col("cvec0")), roundTo).as("dot"))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "dot", "rank")
  }
  /** Simplified silhouette (the centroid form of Rousseeuw 1987) over
    * an [[IvfModel]] clustering — per cluster, how cleanly its members
    * separate from the nearest OTHER centroid: with a² the squared L2
    * distance to the assigned centroid and b² to the runner-up,
    *
    *   s = (b² − a²) / max(a², b²)  ∈ [−1, 1]
    *
    * (squared distances throughout — monotone-equivalent to the
    * classic sqrt form and it keeps the whole read inside the one
    * fused dot-product kernel, no sqrt anywhere). THE clustering-
    * quality gate before an IVF index ships: a cluster with mean s
    * near 0 is a partition boundary through a dense region — recall
    * will sag there no matter what nprobe is.
    *
    * Determinism (the d8/hashed-output discipline): a², b² come from
    * the same fixed IEEE tree both engines evaluate (|v|² + |c|² −
    * 2·v·c, sequential dot), each row's s collapses to the 1e4 lattice
    * half-away-from-zero BEFORE aggregation, and the per-cluster mean
    * is then an exact integer rational read half-up at 1e-6. The
    * assignment and the runner-up come from ONE sorted (d, i) array,
    * so tie-breaking (lowest index) is consistent by construction.
    * Output: (cluster, n_members, mean_s_e6), nlist rows.
    */
  def silhouette(
      df: DataFrame, idCol: String, vecCol: String,
      model: IvfModel): DataFrame = {
    require(model.nlist >= 2, "silhouette needs at least 2 centroids")
    val v2 = fdot(col(vecCol), col(vecCol))
    val scored = model.centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x.toDouble * x).sum
      struct((v2 + lit(c2) - lit(2.0) * fdot(col(vecCol), typedLit(c)))
        .as("d"), lit(i).as("i"))
    }
    val top2 = slice(array_sort(array(scored: _*)), 1, 2)
    val a2 = element_at(top2, 1).getField("d")
    val b2 = element_at(top2, 2).getField("d")
    val sRaw = when(greatest(a2, b2) <= 0.0, lit(0.0))
      .otherwise((b2 - a2) / greatest(a2, b2))
    val sE4 = (signum(sRaw) * floor(abs(sRaw) * 10000.0 + 0.5))
      .cast("long")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    df.select(element_at(top2, 1).getField("i").as("cluster"),
        sE4.as("s_e4"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum("s_e4").as("ssum"))
      .select(col("cluster").cast("long").as("cluster"),
        col("n_members"),
        when(col("ssum") >= 0,
          expr("(2 * ssum * 100 + n_members) div (2 * n_members)"))
          .otherwise(-expr("(-2 * ssum * 100 + n_members) div " +
            "(2 * n_members)")).as("mean_s_e6"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (Achlioptas
    * 2003's database-friendly projection, the sign variant): entry
    * (i, j) is +1 iff the portable md5-head60 of "seed:i:j" is even.
    * Model-sized (k × dim ints) and derivable by ANY engine from the
    * same string recipe — the twin regenerates it in SQL, so there is
    * no codebook to ship (the jlSigns ↔ twin contract mirrors the
    * portable MinHash coefficient recipe).
    */
  def jlSigns(k: Int, dim: Int, seed: String = "jl"): Array[Array[Int]] = {
    require(k >= 1 && dim >= 1 && k * dim <= 65536,
      s"jl sign matrix must stay model-sized (got $k x $dim)")
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, dim) { (i, j) =>
      val hex = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
  }

  /** k-dim ±1 projection of a float vector: component i is the
    * LEFT-ASSOCIATIVE sum Σ_j signs(i)(j)·v_j in ascending j — the
    * IEEE evaluation order is part of the contract (the twin writes
    * the identical parenthesized chain, so both engines produce
    * bit-equal doubles). Codegen'd arithmetic, no UDF.
    */
  def jlProjection(vec: Column, signs: Array[Array[Int]]): Column =
    array(signs.map { row =>
      row.zipWithIndex.map { case (s, j) =>
        element_at(vec, j + 1).cast("double") * lit(s.toDouble)
      }.reduce(_ + _)
    }: _*)

  /** Left-fold dot product over two array<double> columns (the
    * [[jlProjection]] order contract; the codegen kernel accumulates in
    * element order, bit-identical to the `aggregate(zip_with(...))`
    * left-fold it replaces and to the twin's list_dot_product — that
    * interpreted form allocated a zipped array and paid per-element
    * lambda eval PER PAIR inside the cross-join hot loop).
    */
  private def ddot(a: Column, b: Column): Column = dvecdot(a, b)

  /** Approximate cosine top-k THROUGH the JL sign projection — the
    * dimensionality-reduction scale path next to the IVF/LSH ones:
    * project queries and candidates to k_proj ±1-sum components at
    * the scan (dim multiplies per row, once), rank by PROJECTED
    * cosine (k_proj multiplies per pair instead of dim — the
    * candidate-scoring saving), verify recall against
    * [[cosineTopK]] via [[recallAtK]]. Ties and rounding follow the
    * v-family contract (round to `roundTo`, c_id tie-break). Output:
    * (q_id, c_id, sim, rank).
    */
  def jlTopK(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      signs: Array[Array[Int]], k: Int, roundTo: Int = 3): DataFrame = {
    // Norms are per-ROW values: compute them once per query/candidate row
    // here, not per (q, c) pair inside the cross join (same expression on
    // the same input — identical IEEE values, |Q|+|C| evaluations instead
    // of |Q|·|C|).
    val q = queries.select(col(qIdCol).as("q_id"),
        jlProjection(col(vecCol), signs).as("qp"))
      .withColumn("qn", sqrt(ddot(col("qp"), col("qp"))))
    val c = candidates.select(col(cIdCol).as("c_id"),
        jlProjection(col(vecCol), signs).as("cp"))
      .withColumn("cn", sqrt(ddot(col("cp"), col("cp"))))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        round(ddot(col("qp"), col("cp")) / (col("qn") * col("cn")),
          roundTo).as("sim"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }

  /** Rocchio pseudo-relevance feedback rerank (Rocchio 1971, the
    * positive-feedback form): take each query's [[cosineTopK]] top-k
    * as assumed-relevant, move the query toward their centroid —
    *
    *   q′ = α·q + β·mean(top-k doc vectors)
    *
    * — and re-rank the corpus by cosine to q′. THE classical
    * query-expansion baseline a dense-retrieval eval wants next to
    * the raw ranking (and the first thing to try when recall@k is the
    * bottleneck).
    *
    * Determinism contract: the centroid's per-dimension mean snaps to
    * the 1e-6 grid (both engines' round(); half-way cases cannot
    * arise from a 10-double mean at this grid) BEFORE
    * entering q′ — the one float sum whose order crosses a shuffle is
    * rounded where 10-vector accumulation error (~1e-15) cannot reach,
    * so q′ is bit-equal across engines; everything after follows the
    * v-family contract (left-fold dots, round-3 sims, c_id
    * tie-break). α/β ride as e3 integers (1000/750 = the textbook
    * 1.0/0.75). Output: (q_id, c_id, sim, rank) — the reranked top-k.
    *
    * Scale: one feedback join (queries×k rows), one dim-explode
    * aggregate over it (queries×dim out), one broadcast of the
    * expanded queries against the corpus — the cosineTopK plan with a
    * feedback preamble; nothing corpus² anywhere.
    */
  def rocchioRerank(
      queries: DataFrame, candidates: DataFrame,
      qIdCol: String, cIdCol: String, vecCol: String,
      k: Int, alphaE3: Int = 1000, betaE3: Int = 750,
      roundTo: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    val alpha = alphaE3.toDouble / 1000.0
    val beta = betaE3.toDouble / 1000.0
    val rel = cosineTopK(queries, candidates, qIdCol, cIdCol, vecCol, k)
      .select(col("q_id"), col("c_id"))
    val relVecs = rel.join(
      candidates.select(col(cIdCol).as("c_id"),
        col(vecCol).as("cv")), Seq("c_id"))
    val centroid = relVecs
      .select(col("q_id"), posexplode(col("cv")).as(Seq("pos", "x")))
      .groupBy("q_id", "pos")
      .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("m"))
      .groupBy("q_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("pm"))
      .select(col("q_id"),
        transform(col("pm"), s => s.getField("m")).as("mv"))
    val expanded = queries.select(col(qIdCol).as("q_id"),
        col(vecCol).as("qv"))
      .join(centroid, Seq("q_id"))
      .select(col("q_id"),
        zip_with(col("qv"), col("mv"),
          (x, m) => x.cast("double") * lit(alpha) + m * lit(beta))
          .as("qe"))
    // Per-row norms hoisted out of the cross join (identical IEEE values,
    // |Q|+|C| evaluations instead of |Q|·|C| — the jlTopK discipline).
    val expandedN = expanded
      .withColumn("qn", sqrt(ddot(col("qe"), col("qe"))))
    val c = candidates.select(col(cIdCol).as("c_id"),
        transform(col(vecCol), x => x.cast("double")).as("cd"))
      .withColumn("cn", sqrt(ddot(col("cd"), col("cd"))))
    val scored = c.crossJoin(broadcast(expandedN))
      .select(col("q_id"), col("c_id"),
        round(ddot(col("qe"), col("cd")) / (col("qn") * col("cn")),
          roundTo).as("sim"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "sim", "rank")
  }
}
