package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.operators.ModelRegistry

/** Measures the registry producer/consumer contract per consumer
  * (r12 verdict #6): each consumer query timed COLD (empty registry,
  * durable caches wiped — the fresh-JVM worst case), DISK-WARM where a
  * durable cache exists (registry cleared again after the cold run's
  * write-through), and SESSION-WARM (after its producer ran). The
  * deltas are the measured "consumer is ~free" numbers SCALE.md cites
  * instead of asserting. `runMain graft.tools.RegistryProbe [sfDir]`.
  */
object RegistryProbe {
  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.harness("registry-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body
      (System.nanoTime() - t0) / 1e9
    }
    def run(q: String): Double =
      time(SparkEntry.queries(q)(spark, d).count())
    // (consumer, producer if separate, durable cache dir if any)
    val plan = Seq(
      ("t20_bpe_tokenize", Some("t16_bpe_merges"), None),
      ("ml2_naive_bayes", None, None),
      ("d16_cluster_resolve", Some("d6_dedup_clusters"),
        Some(SparkEntry.d6ClusterCacheDir(d))),
      ("d22_cluster_histogram", Some("d6_dedup_clusters"),
        Some(SparkEntry.d6ClusterCacheDir(d))))
    // one warmup pass so JVM/codegen heat doesn't masquerade as a
    // registry effect
    spark.read.parquet(s"$d/documents.parquet").count()
    val rows = plan.map { case (consumer, producer, cache) =>
      ModelRegistry.clear()
      cache.foreach(c => deleteRec(new java.io.File(c)))
      val cold = run(consumer)
      val diskWarm = cache.map { _ =>
        ModelRegistry.clear() // cache persists from the cold run
        run(consumer)
      }
      producer.foreach(p => run(p))
      val warm = run(consumer)
      (consumer, cold, diskWarm, warm)
    }
    println("consumer | cold_s | disk_warm_s | session_warm_s")
    rows.foreach { case (c, cold, dw, w) =>
      println(f"$c%-22s | $cold%7.2f | ${dw.map(v => f"$v%7.2f")
        .getOrElse("      -")} | $w%7.2f")
    }
    spark.stop()
  }
}
