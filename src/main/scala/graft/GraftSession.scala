package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Scale posture (SURVEY.md §4): AQE on (runtime coalescing + skew-join
  * splitting), shuffle partitions sized for the local harness (32) — on a
  * real cluster this is overridden per deployment; `nanosAsLong` because the
  * `events` table carries parquet TIMESTAMP(NANOS) which Spark otherwise
  * refuses to read (we treat `ts` as nanos-since-epoch INT64 end-to-end).
  */
object GraftSession {

  /** Apply the engine's standard configuration to any builder. New
    * sessions built from it also get the native expressions installed
    * ([[GraftExtensions]]) — no-op when the builder joins an existing
    * session.
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder = b
    .withExtensions(new GraftExtensions())
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Coalesce by parallelism first, with a small floor: CPU-heavy stages
    // (shingling, minhash, simhash bit-sums) have tiny byte volume, and the
    // default 1 MiB floor collapses them to 1-2 tasks. At cluster scale the
    // bytes/parallelism term dominates and this floor is never the binding
    // constraint.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Join planning (guide §3.1): the STATIC threshold works on Catalyst
    // size estimates, which for compressed column-pruned parquet scans
    // understate in-memory size severalfold — at 64 MB the planner was
    // broadcasting the 6M-row lineitem FACT side of q3 at the 10x scale
    // (a ~150 MB driver-built hash relation; the build alone cost more
    // than the join it replaced, and at 1 GB driver heap it OOMs). Keep
    // the static threshold conservative for dim tables and let AQE —
    // which sees REAL post-shuffle sizes — upgrade mid-size joins to
    // broadcast at runtime, where 64 MB of true bytes is safe.
    .config("spark.sql.autoBroadcastJoinThreshold", (16L * 1024 * 1024).toString)
    .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
      (64L * 1024 * 1024).toString)
    .config("spark.ui.enabled", "false")

  /** Cores of the local harness sessions (Bench, Verify and the tools):
    * SPARK_GRAFT_CPUS, else every core of this host — one fixed default
    * oversubscribes a small host and idles a large one.
    */
  def harnessCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Tuned builder for a `local[harnessCpus]` harness session. */
  def harness(appName: String, shufflePartitions: Int = 32): SparkSession.Builder =
    tune(SparkSession.builder().master(s"local[$harnessCpus]").appName(appName),
      shufflePartitions)

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName(appName))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
