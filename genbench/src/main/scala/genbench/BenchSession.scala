package genbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: the engine's own tuning
  * ([[graft.GraftSession.tune]]) on a fixed `local[Threads]` master, with
  * shuffle partitions matched to the thread count and every scratch
  * directory kept under the benchmark's work directory.
  */
object BenchSession {

  /** Spark worker threads. Fixed, not `nproc`, so that runs on hosts with
    * different core counts run the same plans.
    */
  val Threads = 4

  def build(work: java.io.File): SparkSession = {
    val local = new java.io.File(work, "spark-local")
    local.mkdirs()
    val spark = graft.GraftSession.tune(
        SparkSession.builder()
          .master(s"local[$Threads]")
          .appName("genbench")
          .config("spark.local.dir", local.getPath)
          .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath),
        shufflePartitions = Threads)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
