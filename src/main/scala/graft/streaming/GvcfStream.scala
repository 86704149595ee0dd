package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.vcf.{VcfFunctions, VcfPipeline}

/** Streaming gVCF ingest (reference S9, `StreamGenomicsLoader.scala`):
  * the DStream `textFileStream` + per-batch driver-side counting + the
  * `rdd.toDebugString` filename hack, re-expressed as one Structured
  * Streaming query — `readStream.text` + `input_file_name()` for
  * provenance, the *same* typed parser as batch (unified API), and a
  * partitioned parquet sink via `foreachBatch`.
  */
object GvcfStream {

  /** Parse a micro-batched text stream of gVCF lines into typed variants
    * with the batch parser ([[VcfPipeline.parseText]]): sample id from the
    * source file name, chromosome from its `.chrN.` segment (0 when there
    * is none).
    */
  def parse(spark: SparkSession, dir: String): DataFrame =
    VcfPipeline.parseText(
      spark.readStream.option("maxFilesPerTrigger", "100").text(dir),
      chromOf).toDF()

  private def chromOf(fileName: String): Int =
    fileName.split("\\.").iterator
      .find(_.startsWith("chr"))
      .flatMap(s => scala.util.Try(VcfFunctions.chromToInt(s)).toOption)
      .getOrElse(0)

  /** Run the ingest: 60 s micro-batches (reference batch interval) into
    * band-partitioned parquet. Exactly-once: `foreachBatch` is
    * at-least-once, so every write is scoped to its micro-batch id —
    * rows land under `batch=<id>` partitions with dynamic overwrite, and
    * a replayed batch REPLACES its own partitions instead of appending
    * the same variants twice (the IndexStream/DocumentStream replay
    * discipline; a blind append silently duplicated the replayed batch).
    *
    * Layout contract: `outDir` must be fresh or already in the
    * (chrom, band, batch) layout, `band` being the band start position as
    * in [[VcfPipeline.writePartitioned]]. An outDir written by the
    * pre-batch-id (chrom, band) layout or with band indexes cannot be
    * mixed in — parquet files would sit at two different partition depths,
    * or one band under two names — so [[run]] refuses it loudly
    * ([[assertLayout]]).
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    assertLayout(spark, outDir)
    parse(spark, inDir).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          batch
            .withColumn("band", VcfPipeline.band(VcfPipeline.BandWidth))
            .withColumn("batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("chrom", "band", "batch").parquet(outDir)
        }
      }
      .start()
  }

  /** Refuse an outDir this stream cannot extend: a `band=` value that is
    * not a multiple of [[VcfPipeline.BandWidth]] (the older band-index
    * layout, `band=1` for 30-60 Mbp, instead of the band start that
    * [[VcfPipeline.writePartitioned]] also writes), or a `band=` directory
    * holding data files directly instead of `batch=` subdirectories (the
    * legacy (chrom, band) layout). One driver-side walk of the partition
    * directories, listing data files under only the first band dir of each
    * chrom, so the guard costs nothing at scale.
    */
  private[streaming] def assertLayout(spark: SparkSession, outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) {
      val chromDirs = fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("chrom="))
      chromDirs.foreach { c =>
        val bandDirs = fs.listStatus(c.getPath)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
        bandDirs.foreach { b =>
          val start = b.getPath.getName.stripPrefix("band=").toLongOption
          require(start.exists(_ % VcfPipeline.BandWidth == 0),
            s"outDir $outDir holds ${b.getPath}, whose band is not a multiple " +
              s"of ${VcfPipeline.BandWidth} (the older band-index layout); " +
              "the stream writes band start positions — use a fresh outDir " +
              "or migrate the data first")
        }
        bandDirs.take(1) // one band probe per chrom is enough to classify
          .foreach { b =>
            val legacy = fs.listStatus(b.getPath).exists(f =>
              f.isFile && f.getPath.getName.endsWith(".parquet"))
            require(!legacy,
              s"outDir $outDir holds the legacy (chrom, band) layout " +
                s"(data files directly under ${b.getPath}); the stream now " +
                "writes (chrom, band, batch) for replay idempotence — " +
                "use a fresh outDir or migrate the legacy data first")
          }
      }
    }
  }
}
