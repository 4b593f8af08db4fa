package graft.api.perfbench

import graft.api.MetricsService
import graft.model.MetricType
import graft.storage.GraftStorage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Seeded inputs: the metric store, its catalog tags and the request
  * sequences. Everything here is a pure function of the seed (and of the
  * fixed sizes below), so the same seed replays the same work. */
object Gen {
  val Hour: Long = 3600000L
  val Day: Long = 24 * Hour
  /** 2024-01-01T00:00Z: day- and hour-aligned, so windows line up with
    * store slices and rollup hours. */
  val Base: Long = 1704067200000L
  val Step: Long = 60000L
  val PointsPerDay: Int = (Day / Step).toInt

  val Types: Seq[MetricType] = Seq(MetricType.Gauge, MetricType.Counter, MetricType.Availability)
  val Envs = Seq("prod", "stage")
  val Dcs = Seq("dc0", "dc1", "dc2", "dc3")

  /** A seeded store: `tenants` × `metrics` per type × one day at 60 s. */
  final case class StoreSpec(tenants: Int, metrics: Int) {
    def tenant(i: Int): String = s"t$i"
    def points: Long = tenants.toLong * metrics * Types.size * PointsPerDay
  }

  def metricName(i: Int): String = s"m$i"

  /** Catalog tags of one metric: an (env, dc) pair. Which metric gets
    * which pair is seeded, but every pair is shared by the same number of
    * metrics, so a tag query selects as many series under every seed. */
  def tagsOf(seed: Long, tenant: String, mtype: MetricType, i: Int): Map[String, String] = {
    val pairs = for (e <- Envs; d <- Dcs) yield Map("env" -> e, "dc" -> d)
    val shift = new scala.util.Random(seed * 1000003L + (tenant + mtype.text).hashCode).nextInt(pairs.size)
    pairs((i + shift) % pairs.size)
  }

  /** The store's datapoints in the canonical write shape. Values are
    * hashes of (seed, metric, time); counters grow by at least 2 per
    * step, so no consecutive pair reads as a reset and each yields a rate. */
  def storePoints(spark: SparkSession, spec: StoreSpec, seed: Long): DataFrame = {
    val perTenant = spec.metrics.toLong * Types.size * PointsPerDay
    val idx = col("id")
    val tenantIx = (idx / perTenant).cast("int")
    val rest = idx % perTenant
    val typeIx = (rest / (spec.metrics.toLong * PointsPerDay)).cast("int")
    val metricIx = ((rest / PointsPerDay) % spec.metrics).cast("int")
    val stepIx = rest % PointsPerDay
    val h = xxhash64(lit(seed), col("tenant_id"), col("metric"), col("time"))
    val mtypeCode = Types.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (t, i)) =>
      when(typeIx === i, lit(t.code.toInt)).otherwise(acc)
    }
    spark.range(spec.tenants * perTenant)
      .select(
        concat(lit("t"), tenantIx.cast("string")).as("tenant_id"),
        mtypeCode.as("mtype"),
        concat(lit("m"), metricIx.cast("string")).as("metric"),
        (lit(Base) + stepIx * Step).as("time"),
        stepIx.as("step"), metricIx.as("mix"))
      .select(col("tenant_id"), col("mtype"), col("metric"), col("time"),
        when(col("mtype") === MetricType.Gauge.code.toInt,
          (pmod(h, lit(100000L)) / 100.0).cast("double")).as("n_value"),
        when(col("mtype") === MetricType.Counter.code.toInt,
          col("step") * (pmod(col("mix"), lit(7)) + 1) * 4 + pmod(h, lit(3))).cast("long").as("l_value"),
        when(col("mtype") === MetricType.Availability.code.toInt,
          when(pmod(h, lit(10L)) === 0, 1).otherwise(0)).cast("int").as("avail"),
        lit(null).cast("string").as("s_value"),
        lit(null).cast("map<string,string>").as("tags"))
  }

  /** Writes the store under `root` (raw tier + catalog) and refreshes its
    * serving tiers. Returns (bulk load seconds, tier refresh seconds). */
  def buildStore(spark: SparkSession, root: String, spec: StoreSpec, seed: Long,
                 trace: Tracer): (Double, Double) = {
    import spark.implicits._
    val svc = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))
    val catalog = for {
      t <- 0 until spec.tenants; mt <- Types; i <- 0 until spec.metrics
    } yield (spec.tenant(t), mt.code.toInt, metricName(i),
      tagsOf(seed, spec.tenant(t), mt, i), Option.empty[Int], GraftStorage.nextIngestSeq())
    val load = trace.timed("storage.bulk_load") {
      GraftStorage.write(storePoints(spark, spec, seed), s"$root/data")
      catalog.toDF("tenant_id", "mtype", "metric", "tags", "data_retention", "ingest_seq")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/metrics")
    }
    val refresh = trace.timed("storage.refresh_tiers") { svc.refreshTiers() }
    (load, refresh)
  }

  // ------------------------------------------------------------------
  // request sequences
  // ------------------------------------------------------------------

  /** One client request. `expect` is the value the response must carry:
    * the point count of a raw fetch, the summed bucket `samples` of a
    * stats request, the acknowledged point count of a POST. */
  final case class Req(route: String, tenant: String, method: String, path: String,
                       params: Map[String, String], expect: Long,
                       body: Seq[(String, Seq[(Long, Double)])] = Nil,
                       ticks: (Long, Long) = (0L, 0L)) {
    def isWrite: Boolean = method == "POST"
    def key: String = s"$tenant $method $path ${params.toSeq.sorted.mkString("&")}"
    def points: Int = body.map(_._2.size).sum
    /** A point value as the route takes it: counters are integral. */
    def value(v: Double): Any = if (path.startsWith("/counters")) v.toLong: Any else v
    def query: String = params.toSeq.sorted
      .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
  }

  val DashboardRoutes = Seq("raw_fetch", "series_stats", "tier_stats", "tag_stats",
    "rate_stats", "avail_stats")

  /** Skewed metric pick: low indices are hot, as on a dashboard wall. */
  private def skewed(r: scala.util.Random, n: Int): Int = math.min(n - 1, (n * math.pow(r.nextDouble(), 3)).toInt)

  private def window(start: Long, hours: Int) =
    Map("start" -> start.toString, "end" -> (start + hours * Hour).toString)

  /** Dashboard reads over a `spec` store: the six routes in equal shares,
    * round-robin so every stretch of the sequence has the same mix. */
  def dashboard(seed: Long, spec: StoreSpec, n: Int): IndexedSeq[Req] = {
    val r = new scala.util.Random(seed)
    val hoursIn6 = Seq(0, 6, 12, 18)
    val hoursIn12 = Seq(0, 6, 12)
    (0 until n).map { k =>
      val tenant = spec.tenant(r.nextInt(spec.tenants))
      val m = metricName(skewed(r, spec.metrics))
      val s12 = Base + hoursIn12(r.nextInt(hoursIn12.size)) * Hour
      DashboardRoutes(k % DashboardRoutes.size) match {
        case "raw_fetch" =>
          val s = Base + hoursIn6(r.nextInt(hoursIn6.size)) * Hour
          Req("raw_fetch", tenant, "GET", s"/gauges/$m/raw", window(s, 6), 6 * 60)
        case "series_stats" =>
          Req("series_stats", tenant, "GET", s"/gauges/$m/stats",
            window(s12, 12) ++ Map("buckets" -> "48", "percentiles" -> "95"), 12 * 60)
        case "tier_stats" =>
          val ids = Iterator.continually(metricName(skewed(r, spec.metrics))).distinct
            .take(math.min(3, spec.metrics)).toSeq
          Req("tier_stats", tenant, "GET", "/gauges/stats",
            window(s12, 12) ++ Map("metrics" -> ids.mkString(","), "bucketDuration" -> "1h"),
            ids.size * 12 * 60)
        case "tag_stats" =>
          // a pair some metric carries, so the selection is never empty
          val tags = tagsOf(seed, tenant, MetricType.Gauge, skewed(r, spec.metrics))
          val matched = (0 until spec.metrics).count(i => tagsOf(seed, tenant, MetricType.Gauge, i) == tags)
          Req("tag_stats", tenant, "GET", "/gauges/stats",
            window(s12, 12) ++ Map("tags" -> s"env:${tags("env")},dc:${tags("dc")}",
              "bucketDuration" -> "1h"), matched.toLong * 12 * 60)
        case "rate_stats" =>
          // a rate needs the point before it: the store's first point has none
          Req("rate_stats", tenant, "GET", s"/counters/$m/rate/stats",
            window(s12, 12) ++ Map("buckets" -> "24"), if (s12 == Base) 12 * 60 - 1 else 12 * 60)
        case "avail_stats" =>
          Req("avail_stats", tenant, "GET", s"/availability/$m/stats",
            window(s12, 12) ++ Map("buckets" -> "24"), 12 * 60)
      }
    }
  }

  /** Ingest tick: the synthetic clock advances three hours per written
    * point time, so a store slice (one day) closes every 8 ticks and a
    * group of ten POSTs (19 ticks) closes at least one. */
  val Tick: Long = 3 * Hour
  val WritePool = 100

  /** Writer POSTs: 9 in 10 are agent scrapes (10 metrics × 1 point), 1 in
    * 10 a backfill (100 metrics × 10 points). Each POST owns the clock
    * ticks its points sit on, starting the day after the seeded store. */
  def ingestWrites(seed: Long, spec: StoreSpec, n: Int): IndexedSeq[Req] = {
    val r = new scala.util.Random(seed ^ 0x1a2b3c4dL)
    var tick = Day / Tick
    (0 until n).map { k =>
      val tenant = spec.tenant(r.nextInt(spec.tenants))
      val (route, tpath) = if (r.nextInt(10) < 7) ("gauges", "/gauges/raw") else ("counters", "/counters/raw")
      val backfill = k % 10 == 9
      val (nMetrics, nPoints) = if (backfill) (WritePool, 10) else (10, 1)
      val ids = r.shuffle((0 until WritePool).toList).take(nMetrics).sorted
      val body = ids.map { i =>
        metricName(i) -> (0 until nPoints).map { p =>
          val t = Base + (tick + p) * Tick
          (t, if (route == "gauges") (r.nextInt(100000) / 100.0) else ((tick + p) * 10000 + i).toDouble)
        }
      }
      val req = Req(if (backfill) "backfill" else "scrape", tenant, "POST", tpath, Map.empty,
        nMetrics.toLong * nPoints, body, (tick, tick + nPoints))
      tick += nPoints
      req
    }
  }

  /** Reader picks for `ingest`: a metric from the write pool whose window
    * ends at the acknowledged frontier (resolved when the read is sent). */
  def ingestReads(seed: Long, spec: StoreSpec, n: Int): IndexedSeq[(String, String, String)] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    (0 until n).map { k =>
      val route = if (k % 2 == 0) "raw_fetch" else "series_stats"
      val mt = if (r.nextInt(10) < 7) "gauges" else "counters"
      (route, spec.tenant(r.nextInt(spec.tenants)), s"$mt/${metricName(skewed(r, WritePool))}")
    }
  }
}
