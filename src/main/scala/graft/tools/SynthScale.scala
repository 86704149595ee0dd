package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.Tables

/** One-time deterministic corpus scaler: writes a `factor`× re-keyed
  * replication of a harness sf dir, for sf1-class bench evidence
  * (measured decade, not probe extrapolation — the r12 verdict's top
  * ask). `runMain graft.tools.SynthScale <srcDir> <outDir> [factor]`.
  *
  * Replica r of a row re-keys every entity key as `key + r·stride`
  * (stride = max key in the source + 1, derived from the data, so the
  * tool is deterministic with no seed). Foreign keys use the stride of
  * the table they reference, so replica-r facts join replica-r dims
  * exactly as the originals did — each replica is a self-contained
  * shard, which is what 10× organic growth looks like to every
  * per-key operator while keeping global aggregates honestly 10× as
  * heavy.
  *
  * Content columns are perturbed deterministically so replicas are
  * DISTINCT corpora, not exact copies (exact copies would turn the
  * dedup family into a pathological 90%-duplicate workload — a
  * different benchmark, not a bigger one):
  *  - `documents.text`: every token of replica r ≥ 1 gets a `r<r>_`
  *    prefix — per-replica shingle/vocab spaces are disjoint, so the
  *    within-replica duplicate/near-duplicate statistics mirror the
  *    source corpus exactly at 10× the rows (vocabulary grows with
  *    the factor; real growth is sublinear, so vocab-keyed operators
  *    read slightly pessimistic here — the conservative direction).
  *  - `embeddings.embedding`: element i of replica r shifts by
  *    ((vec_id·31 + i·7 + r·13) mod 1001 − 500)·1e-4 — a ±0.05
  *    deterministic jitter that keeps replicas near but not identical,
  *    preserving ANN bucket balance without degenerate zero-distance
  *    pairs.
  *  - `events`: users and event ids re-key, timestamps keep the source
  *    window — 10× the users over the same calendar, which is how
  *    traffic actually scales (and keeps calendar-densify operators at
  *    the same grid size while their per-key loads grow 10×).
  * `nation`/`region` are dimension tables and copy as-is.
  */
object SynthScale {
  private def strideOf(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long"))).head.getLong(0) + 1L

  /** factor-way union of deterministic per-replica rewrites. */
  private def replicate(df: DataFrame, factor: Int)(
      rekey: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(r => rekey(df, r)).reduce(_ unionAll _)

  private def shift(c: String, stride: Long, r: Int) =
    (col(c) + lit(stride * r)).as(c)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1 (got $factor)")
    val spark = GraftSession.harness("synth-scale").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t(n: String) = Tables(spark, src, n)
    def write(n: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[synth-scale] $n written")
    }

    // dims copy as-is
    write("region", t("region"), 1)
    write("nation", t("nation"), 1)

    val custStride = strideOf(t("customer"), "c_custkey")
    val suppStride = strideOf(t("supplier"), "s_suppkey")
    val partStride = strideOf(t("part"), "p_partkey")
    val orderStride = strideOf(t("orders"), "o_orderkey")
    // documents and embeddings share one id space in case a consumer
    // aligns doc_id with vec_id
    val docStride = math.max(strideOf(t("documents"), "doc_id"),
      strideOf(t("embeddings"), "vec_id"))
    val eventStride = strideOf(t("events"), "event_id")
    val userStride = strideOf(t("events"), "user_id")

    write("customer", replicate(t("customer"), factor) { (df, r) =>
      df.select(shift("c_custkey", custStride, r), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, 4)
    write("supplier", replicate(t("supplier"), factor) { (df, r) =>
      df.select(shift("s_suppkey", suppStride, r), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }, 1)
    write("part", replicate(t("part"), factor) { (df, r) =>
      df.select(shift("p_partkey", partStride, r), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }, 2)
    write("orders", replicate(t("orders"), factor) { (df, r) =>
      df.select(shift("o_orderkey", orderStride, r),
        shift("o_custkey", custStride, r), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }, 8)
    write("lineitem", replicate(t("lineitem"), factor) { (df, r) =>
      df.select(shift("l_orderkey", orderStride, r),
        shift("l_partkey", partStride, r),
        shift("l_suppkey", suppStride, r), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
    }, 16)
    write("events", replicate(t("events"), factor) { (df, r) =>
      df.select(shift("event_id", eventStride, r), col("ts"),
        shift("user_id", userStride, r), col("event_type"),
        col("value"), col("props"))
    }, 8)
    write("documents", replicate(t("documents"), factor) { (df, r) =>
      val text =
        if (r == 0) col("text")
        else array_join(
          transform(split(col("text"), " "),
            x => concat(lit(s"r${r}_"), x)), " ")
      df.select(shift("doc_id", docStride, r), text.as("text"),
        col("lang"), col("source"), length(text).as("n_chars"))
    }, 8)
    write("embeddings", replicate(t("embeddings"), factor) { (df, r) =>
      val emb =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + ((col("vec_id") * 31 + i.cast("long") * 7 + lit(r * 13))
            % 1001 - 500).cast("float") * lit(1e-4f)).cast("float"))
      df.select(shift("vec_id", docStride, r), emb.as("embedding"),
        col("label"))
    }, 8)

    println(s"[synth-scale] done: $factor x $src -> $out")
    spark.stop()
  }
}
