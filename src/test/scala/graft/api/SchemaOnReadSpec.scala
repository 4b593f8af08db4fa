package graft.api

import graft.SparkTestBase
import graft.model.MetricType
import graft.storage.GraftStorage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/**
 * Schema-on-read: every store opens with its canonical schema
 * ([[GraftStorage.readStore]]), so older or dataless files can neither
 * change a read's shape nor fail it.
 */
class SchemaOnReadSpec extends SparkTestBase {

  private val H = GraftStorage.RollupMs

  private def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)

  test("a raw file written without ingest_seq reads with the canonical schema") {
    val path = Files.createTempDirectory("graft-schema").toString + "/data"
    val s = spark
    import s.implicits._
    // the older write shape: same layout and types, no ingest_seq column
    canonicalPoints(Seq((100L, 1.0)).toDF("time", "n_value")
      .withColumn("metric", lit("old")), MetricType.Gauge)
      .withColumn("tags", col("tags").cast("map<string,string>"))
      .withColumn("time_slice", expr(s"time div ${GraftStorage.SliceMs}"))
      .write.partitionBy("tenant_id", "mtype", "time_slice").parquet(path)
    GraftStorage.write(canonicalPoints(Seq((200L, 2.0)).toDF("time", "n_value")
      .withColumn("metric", lit("new")), MetricType.Gauge), path)

    val df = GraftStorage.read(spark, path)
    assert(shape(df.schema) == shape(GraftStorage.Schema))
    val rows = df.select("metric", "n_value", "ingest_seq", "mtype", "time_slice")
      .orderBy("metric").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("new", "old"))
    assert(!rows(0).isNullAt(2) && rows(1).isNullAt(2),
      "the legacy file's missing ingest_seq reads as NULL")
    assert(rows.forall(r => r.getInt(3) == MetricType.Gauge.code.toInt && r.getLong(4) == 0L))
    assert(GraftStorage.readResolved(spark, path).count() == 2)
  }

  test("every tier family's files carry exactly its canonical data columns") {
    val root = Files.createTempDirectory("graft-schema-tiers").toString
    val svc = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)
      .copy(histEdges = Some((0.0, 100.0, 10)), rateHistEdges = Some((-10.0, 10.0, 10)))))
    ingest(svc)
    svc.refreshTiers()
    val t = MetricsService.defaultTiers(root)
    val families = Seq(t.gaugeSums -> GraftStorage.RollupSchema,
      t.counterSums -> GraftStorage.RollupSchema, t.avail -> GraftStorage.AvailSchema,
      t.counterIncrease -> GraftStorage.CounterSchema, t.gaugeRate -> GraftStorage.RateSchema,
      t.counterRate -> GraftStorage.RateSchema, t.gaugeHist -> GraftStorage.HistSchema,
      t.counterRateHist -> GraftStorage.HistSchema, t.gaugeRateHist -> GraftStorage.HistSchema)
    val partitionCols = Set("tenant_id", "mtype", "time_slice")
    for ((path, schema) <- families) {
      // the writer's own footer, read with inference on purpose
      val written = spark.read.parquet(path).schema.filterNot(f => partitionCols(f.name))
      assert(shape(StructType(written)) ==
        shape(schema).filterNot { case (n, _) => partitionCols(n) }, path)
      assert(shape(GraftStorage.readStore(spark, path, schema).schema) == shape(schema), path)
    }
  }

  /** Hour-spanning gauge, counter and availability points under t1. */
  private def ingest(svc: MetricsService): Unit = {
    val s = spark
    import s.implicits._
    svc.addDataPoints(canonicalPoints(
      Seq((H + 100L, 1.0), (H + 200L, 3.0), (2 * H + 100L, 10.0), (3 * H + 50L, 7.5))
        .toDF("time", "n_value").withColumn("metric", lit("g")), MetricType.Gauge))
    svc.addDataPoints(canonicalPoints(
      Seq((H + 100L, 10L), (H + 2000L, 40L), (2 * H + 500L, 130L), (3 * H + 10L, 5L))
        .toDF("time", "l_value").withColumn("metric", lit("c")), MetricType.Counter))
    svc.addDataPoints(canonicalPoints(
      Seq((H + 100L, 0), (H + 2000L, 1), (2 * H + 500L, 0), (3 * H + 10L, 1))
        .toDF("time", "avail").withColumn("metric", lit("av")), MetricType.Availability))
  }

  /** Replace a tier with what a dataless refresh leaves: a directory
    * holding only `_SUCCESS`. */
  private def emptyTier(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.mkdirs(p)
    fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS")).close()
  }

  private def body(svc: MetricsService, path: String, params: Map[String, String]): String =
    new RestRoutes(spark, svc, "t1").route("GET", path, params) match {
      case RestRoutes.Ok(df) =>
        WireCodec.render("GET", path.split("/").filter(_.nonEmpty).toList, df)
          .getOrElse(fail(s"$path answered 204"))
      case other => fail(s"$path answered $other")
    }

  test("a tier holding only _SUCCESS reads as an empty canonical frame and its " +
    "stats requests fall back to raw with unchanged bytes") {
    val root = Files.createTempDirectory("graft-schema-empty").toString
    val tiered = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))
    ingest(tiered)
    tiered.refreshTiers()
    val t = MetricsService.defaultTiers(root)
    Seq(t.gaugeSums, t.avail, t.counterRate).foreach(emptyTier)

    for ((path, schema) <- Seq(t.gaugeSums -> GraftStorage.RollupSchema,
      t.avail -> GraftStorage.AvailSchema, t.counterRate -> GraftStorage.RateSchema)) {
      val df = GraftStorage.readStore(spark, path, schema)
      assert(shape(df.schema) == shape(schema) && df.isEmpty, path)
    }

    val window = Map("start" -> H.toString, "end" -> (4 * H).toString)
    val rawOnly = new MetricsService(spark, root)
    // the rendered bodies, byte for byte, as the engine answered them
    // before stores were read with their canonical schemas
    val expected = Seq(
      ("/gauges/stats", window ++ Map("metrics" -> "g", "bucketDuration" -> "1h"),
        GaugeStats),
      ("/availability/av/stats", window ++ Map("buckets" -> "3"), AvailStats),
      ("/counters/c/rate/stats", window ++ Map("buckets" -> "3"), RateStats))
    for ((path, params, golden) <- expected) {
      val served = body(tiered, path, params)
      assert(served == body(rawOnly, path, params), path)
      assert(served == golden, path)
    }
  }

  private val GaugeStats =
    """[{"start":3600000,"end":7200000,"min":1.0,"avg":2.0,"median":2.0,"max":3.0,"sum":4.0,"samples":2,"empty":false},""" +
    """{"start":7200000,"end":10800000,"min":10.0,"avg":10.0,"median":10.0,"max":10.0,"sum":10.0,"samples":1,"empty":false},""" +
    """{"start":10800000,"end":14400000,"min":7.5,"avg":7.5,"median":7.5,"max":7.5,"sum":7.5,"samples":1,"empty":false}]"""
  private val AvailStats =
    """[{"start":3600000,"end":7200000,"durationMap":{"up":2000,"down":3598000},"upDuration":2000,"downDuration":3598000,"unknownDuration":0,"adminDuration":0,"notUpDuration":3598000,"lastNotUptime":7200000,"uptimeRatio":5.555555555555556E-4,"notUpCount":1,"upCount":1,"samples":2,"empty":false},""" +
    """{"start":7200000,"end":10800000,"durationMap":{"up":3600000},"upDuration":3600000,"downDuration":0,"unknownDuration":0,"adminDuration":0,"notUpDuration":0,"lastNotUptime":0,"uptimeRatio":1.0,"notUpCount":0,"upCount":1,"samples":1,"empty":false},""" +
    """{"start":10800000,"end":14400000,"durationMap":{"down":3600000},"upDuration":0,"downDuration":3600000,"unknownDuration":0,"adminDuration":0,"notUpDuration":3600000,"lastNotUptime":14400000,"uptimeRatio":0.0,"notUpCount":1,"upCount":0,"samples":1,"empty":false}]"""
  private val RateStats =
    """[{"start":3600000,"end":7200000,"min":947.3684210526316,"avg":947.3684210526,"median":947.3684210526316,"max":947.3684210526316,"sum":947.3684210526,"samples":1,"empty":false},""" +
    """{"start":7200000,"end":10800000,"min":1.5006252605252188,"avg":1.5006252605,"median":1.5006252605252188,"max":1.5006252605252188,"sum":1.5006252605,"samples":1,"empty":false},""" +
    """{"start":10800000,"end":14400000,"empty":true}]"""
}
