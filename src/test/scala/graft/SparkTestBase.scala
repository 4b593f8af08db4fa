package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Canonical datapoint frame for ONE value family: the caller supplies
    * (metric, time, <one value column>); the absent value columns
    * null-shape to their canonical types and tenant/type/tags/s_value
    * fill in. ONE copy — the tier-serving suites all ingest through it,
    * so a schema change cannot silently diverge them. */
  protected def canonicalPoints(df: org.apache.spark.sql.DataFrame,
                                mtype: graft.model.MetricType,
                                tenant: String = "t1"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    Seq("n_value" -> "double", "l_value" -> "long", "avail" -> "int")
      .foldLeft(df
        .withColumn("tenant_id", lit(tenant))
        .withColumn("mtype", lit(mtype.code.toInt))
        .withColumn("tags", map())
        .withColumn("s_value", lit(null).cast("string"))) {
        case (d, (c, t)) =>
          if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(t))
      }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the serving specs pin warm requests at zero compiles
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
