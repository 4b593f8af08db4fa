package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's standard configuration.
 *
 * Scale posture: AQE on (runtime re-plan, skew-join splitting), shuffle
 * partitions sized for the local[32] harness (on a real cluster this is
 * overridden to ~2-3x total cores), UTC session time zone for oracle parity.
 */
object GraftSession {
  /** Size of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * a STATIC conf, default 100). The cache is keyed on (context
    * classloader, source), so driver and task threads each hold their own
    * entry per class, and the serving routes' plans overflow 100 entries
    * within one pass: an exact repeat of a request then recompiles every
    * class it needs. Sized so the serving working set stays resident. */
  val CodegenCacheEntries: Int = 4096

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              // shuffle width follows the core count (SPARK_GRAFT_CPUS)
              // so a smaller harness host doesn't pay 32-way task overhead
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the reference's ingest timestamps are nanosecond-precision; Spark
      // reads parquet TIMESTAMP(NANOS) as LongType under this flag and the
      // engine does exact integer epoch-millis math from there
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the single-drain outer stream join (streaming_attribution_outer)
      // emits its watermark-closed outer rows in the trailing no-data batch
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ensure the engine's dynamic confs on an externally created session
    * (the driver contract hands us a session we didn't build): nanos-as-long
    * affects subsequent parquet schema conversion, and the no-data
    * micro-batch flag is pinned rather than left to ambient defaults. The
    * codegen cache size is static and cannot be set here — such a session
    * keeps Spark's 100-entry default. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark
  }
}
