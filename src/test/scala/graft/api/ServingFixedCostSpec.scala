package graft.api

import graft.SparkTestBase
import graft.model.MetricType
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/**
 * The fixed cost of a warm REST read: an exact repeat of a dashboard
 * request through `RestRoutes.route` + `WireCodec.render` compiles no
 * generated class (the codegen cache holds the serving working set —
 * [[graft.GraftSession.CodegenCacheEntries]]), and `route` itself
 * launches no Spark job — every store opens with its canonical schema,
 * so nothing runs before the render's own action.
 */
class ServingFixedCostSpec extends SparkTestBase {

  private val H = graft.storage.GraftStorage.RollupMs
  private val Base = 1704067200000L // 2024-01-01T00:00Z, day- and hour-aligned

  /** Job starts tagged with their job group, in bus order. */
  private final class JobGroups extends SparkListener {
    val seen = new ConcurrentLinkedQueue[String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))

    /** Run a marker job and wait until the bus delivers its start: the
      * bus is ordered, so every earlier job start has been seen too. */
    def fence(): Unit = {
      val id = s"fence-${java.util.UUID.randomUUID()}"
      spark.sparkContext.setJobGroup(id, id)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(id)) {
        assert(System.currentTimeMillis() < deadline, "listener bus never delivered the fence job")
        Thread.sleep(5)
      }
    }
  }

  /** Two days of one-minute points — gauges a, b, c (tagged in the
    * catalog), counter c and availability av — with the serving tiers
    * refreshed. */
  private def tieredStore(): MetricsService = {
    val root = Files.createTempDirectory("graft-fixed-cost").toString
    val svc = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))
    for (m <- Seq("a", "b", "c"))
      svc.createMetric(graft.model.MetricId("t1", MetricType.Gauge.code, m),
        Map("env" -> "prod", "dc" -> (if (m == "c") "dc1" else "dc0")))
    val minutes = spark.range(0, 2 * 24 * 60)
      .select((lit(Base) + col("id") * 60000L).as("time"), col("id"))
    def series(mtype: MetricType, value: org.apache.spark.sql.Column, valueCol: String,
               metrics: String*) =
      canonicalPoints(minutes.select(col("time"), value.as(valueCol))
        .crossJoin(spark.createDataFrame(metrics.map(Tuple1(_))).toDF("metric")), mtype)
    svc.addDataPoints(series(MetricType.Gauge, (col("id") % 97).cast("double"), "n_value",
      "a", "b", "c"))
    svc.addDataPoints(series(MetricType.Counter, col("id") * 3, "l_value", "c"))
    svc.addDataPoints(series(MetricType.Availability, (col("id") % 5 === 0).cast("int"),
      "avail", "av"))
    svc.refreshTiers()
    svc
  }

  private def window(hours: Int) =
    Map("start" -> Base.toString, "end" -> (Base + hours * H).toString)

  test("a second pass over the six dashboard routes compiles nothing, and route() " +
    "launches no job before the render") {
    val svc = tieredStore()
    val requests = Seq(
      "raw_fetch" -> ("/gauges/a/raw", window(6)),
      "series_stats" -> ("/gauges/a/stats", window(12) ++
        Map("buckets" -> "48", "percentiles" -> "95")),
      "tier_stats" -> ("/gauges/stats", window(12) ++
        Map("metrics" -> "a,b,c", "bucketDuration" -> "1h")),
      "tag_stats" -> ("/gauges/stats", window(12) ++
        Map("tags" -> "env:prod,dc:dc0", "bucketDuration" -> "1h")),
      "rate_stats" -> ("/counters/c/rate/stats", window(12) ++ Map("buckets" -> "24")),
      "avail_stats" -> ("/availability/av/stats", window(12) ++ Map("buckets" -> "24")))
    val jobs = new JobGroups
    spark.sparkContext.addSparkListener(jobs)
    try {
      /** One request: (classes compiled, jobs launched by route, body). */
      def serve(path: String, params: Map[String, String]): (Long, Int, String) = {
        jobs.fence()
        jobs.seen.clear()
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        spark.sparkContext.setJobGroup("route", "route")
        val res = try new RestRoutes(spark, svc, "t1").route("GET", path, params,
          now = Base + 3 * 24 * H)
        finally spark.sparkContext.clearJobGroup()
        val body = res match {
          case RestRoutes.Ok(df) =>
            WireCodec.render("GET", path.split("/").filter(_.nonEmpty).toList, df)
              .getOrElse(fail(s"$path answered 204"))
          case other => fail(s"$path answered $other")
        }
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        jobs.fence()
        (compiled, jobs.seen.asScala.count(_ == "route"), body)
      }
      // the whole set cold, then the whole set again: a repeat must find
      // every class the full dashboard working set compiled, not only
      // the classes of the request just before it
      val cold = requests.map { case (_, (path, params)) => serve(path, params) }
      val warm = requests.map { case (_, (path, params)) => serve(path, params) }
      for (((name, _), (_, coldJobs, coldBody), (warmCompiles, warmJobs, warmBody)) <-
             requests.lazyZip(cold).lazyZip(warm)) {
        assert(warmBody == coldBody, name)
        assert(coldJobs == 0 && warmJobs == 0,
          s"$name: route() launched $coldJobs (cold) / $warmJobs (warm) jobs before the render")
        assert(warmCompiles == 0, s"$name: the exact repeat compiled $warmCompiles classes")
      }
    } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
