package graft.api.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftSession
import graft.api.RestRoutes.{ApiError, MetricPoints, NoContent, Ok, PointValue}
import graft.api.{HttpTransport, MetricsService, RestRoutes, WireCodec}
import graft.model.MetricType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListSet}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The benchmark program: one workload, one seed, one measured window.
 *
 *   PerfBench --workload dashboard|ingest --seed N --seconds S --trace 0|1
 *             --dir <work dir> --out <result.json>
 *
 * Untraced, client operations go over HTTP through the real serving path
 * (HttpTransport → RestRoutes → MetricsService → Spark → WireCodec) and
 * only their latency is kept. Traced, each operation runs in process
 * through the same public functions, wrapped in spans, and every read is
 * then replayed over HTTP so transport time can be told apart. The result
 * file holds raw samples; `perfbench/run.py` turns them into metrics.
 */
object PerfBench {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("dir"), m("out"))
  }

  val DashboardSpec: Gen.StoreSpec = Gen.StoreSpec(tenants = 2, metrics = 20)
  val IngestSpec: Gen.StoreSpec = Gen.StoreSpec(tenants = 2, metrics = 2)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    if (args.trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(args.trace)
    val collector = new SparkCollector
    if (args.trace) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
    }
    val run = new Run(spark, args, tracer, collector)
    val result =
      try args.workload match {
        case "dashboard" => run.dashboard()
        case "ingest" => run.ingest()
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally run.stop()
    // listener events are delivered asynchronously: let the bus drain
    if (args.trace) Thread.sleep(1500)
    collector.active = false
    val out = result ++ Map(
      "workload" -> args.workload, "seed" -> args.seed, "session_s" -> sessionS,
      "rss_peak_mb" -> Jvm.rssPeakMb, "heap_retained_mb" -> Jvm.heapRetainedMb,
      "cores" -> spark.sparkContext.defaultParallelism,
      "spans" -> tracer.spans.asScala.toList.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)),
      "spark" -> collector.snapshot())
    java.nio.file.Files.write(java.nio.file.Paths.get(args.out),
      Json.write(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Scala values → JSON through Jackson, so every string is escaped. */
object Json {
  private val mapper = new ObjectMapper()
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}

final class Run(spark: SparkSession, args: PerfBench.Args, tracer: Tracer, collector: SparkCollector) {
  import Gen._

  private val stops = mutable.ArrayBuffer.empty[() => Unit]
  def stop(): Unit = stops.reverse.foreach(f => f())

  /** One completed client operation. */
  final case class Op(route: String, start: Double, end: Double, ok: Boolean, repeat: Boolean,
                      points: Int, error: String) {
    def toMap: Map[String, Any] = Map("route" -> route, "start" -> start, "end" -> end,
      "ms" -> (end - start), "ok" -> ok, "repeat" -> repeat, "points" -> points, "error" -> error)
  }
  private val ops = new ConcurrentLinkedQueue[Op]
  private val opIds = new AtomicLong

  // ---- set-up ------------------------------------------------------

  /** Traced twin of the service: the storage write is its own span. */
  private final class TracedService(root: String)
    extends MetricsService(spark, root, Some(MetricsService.defaultTiers(root))) {
    override def addDataPoints(points: DataFrame): Unit =
      tracer.span("storage.add_points")(_ => super.addDataPoints(points))
  }

  private final class Serving(root: String) {
    val transport: HttpTransport = new HttpTransport(spark, root, tierServing = true).start()
    stops += (() => transport.stop())
    val port: Int = transport.boundPort
    lazy val svc = new TracedService(root)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** One request, timed and checked; `expect` overrides the request's
      * own expected value for reads whose answer is known only at send. */
    def exec(req: Req, expect: Long = -1): Boolean = {
      val want = if (expect >= 0) expect else req.expect
      val repeat = !seen.add(req.key)
      val t0 = tracer.now()
      val (t1, err) =
        try {
          val (status, body, t1) =
            if (!tracer.on) { val (s, b) = http(req); (s, b, tracer.now()) }
            else inProcess(req)
          (t1, check(req, status, body, want))
        } catch {
          case e: Exception => (tracer.now(), Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      ops.add(Op(req.route, t0, t1, err.isEmpty, repeat, req.points, err.getOrElse("")))
      err.isEmpty
    }

    private def http(req: Req): (Int, String) = {
      val q = if (req.params.isEmpty) "" else "?" + req.query
      val c = URI.create(s"http://127.0.0.1:$port${req.path}$q").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      try {
        c.setRequestMethod(req.method)
        c.setRequestProperty("Hawkular-Tenant", req.tenant)
        c.setRequestProperty("Accept", "application/json")
        if (req.isWrite) {
          c.setDoOutput(true)
          c.setRequestProperty("Content-Type", "application/json")
          val os = c.getOutputStream
          try os.write(postBody(req).getBytes(StandardCharsets.UTF_8)) finally os.close()
        }
        val status = c.getResponseCode
        val in = if (status >= 400) c.getErrorStream else c.getInputStream
        val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        (status, body)
      } finally c.disconnect()
    }

    private def postBody(req: Req): String = {
      Json.write(req.body.map { case (id, pts) =>
        Map("id" -> id, "data" -> pts.map { case (t, v) =>
          Map("timestamp" -> t, "value" -> req.value(v)) })
      })
    }

    /** The request through the layers' public functions, in spans. */
    private def inProcess(req: Req): (Int, String, Double) = {
      val opId = s"${args.workload}:${opIds.incrementAndGet()}"
      spark.sparkContext.setLocalProperty("perfbench.op", opId)
      val segs = req.path.split("/").filter(_.nonEmpty).toList
      val body: AnyRef =
        if (!req.isWrite) null
        else req.body.map { case (id, pts) => MetricPoints(id, pts.map { case (t, v) =>
          PointValue(t, req.value(v)) }) }
      var frame: Option[DataFrame] = None
      val (status, text) = tracer.span("op", opId) { a =>
        a("route") = req.route
        val res = tracer.span("api.route") { ra =>
          val fs0 = CountingFs.count
          val r = new RestRoutes(spark, svc, req.tenant).route(req.method, req.path, req.params, body)
          ra("fs_ops") = CountingFs.count - fs0
          r
        }
        res match {
          case Ok(df) =>
            frame = Some(df)
            tracer.span("api.encode") { ea =>
              WireCodec.render(req.method, segs, df) match {
                case Some(s) => ea("bytes") = s.length; (200, s)
                case None => (204, "")
              }
            }
          case NoContent => (204, "")
          case ApiError(s, m) => (s, m)
        }
      }
      val t1 = tracer.now()
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      // outside the op span: which tier (if any) the plan scans; a read
      // replayed over HTTP and then in process, so the two differ only by
      // the transport; the tag resolution on its own
      val extra = mutable.Map[String, Any]("op" -> opId)
      frame.foreach(df => extra("tier") = scanPaths(df).exists(_.contains("/tiers/")))
      if (!req.isWrite) {
        val h0 = tracer.now()
        http(req)
        val h1 = tracer.now()
        new RestRoutes(spark, svc, req.tenant).route(req.method, req.path, req.params) match {
          case Ok(df) => WireCodec.render(req.method, segs, df)
          case _ => None
        }
        extra("http_ms") = h1 - h0
        extra("replay_ms") = tracer.now() - h1
      }
      if (req.route == "tag_stats") {
        val expr = req.params("tags")
        val r0 = tracer.now()
        val matched = svc.findMetricIdentifiersWithFilters(req.tenant, Some(MetricType.Gauge), expr).count()
        extra("resolve_ms") = tracer.now() - r0
        extra("matched") = matched
        extra("scanned") = svc.findDefinitions(req.tenant, Some(MetricType.Gauge), None).count()
      }
      tracer.span("op.extra", opId)(a => a ++= extra)
      (status, text, t1)
    }

    private def scanPaths(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
  }

  private val mapper = new ObjectMapper()

  /** None when the answer matches the generator, else what was wrong. */
  private def check(req: Req, status: Int, body: String, want: Long): Option[String] =
    if (req.isWrite) Option.when(status / 100 != 2)(s"status $status: ${body.take(200)}")
    else if (status == 204) Option.when(want != 0)(s"204, expected $want")
    else if (status != 200) Some(s"status $status: ${body.take(200)}")
    else {
      val arr = mapper.readTree(body)
      val got =
        if (req.route == "raw_fetch") arr.size().toLong
        else arr.elements().asScala.map(n => if (n.hasNonNull("samples")) n.get("samples").asLong() else 0L).sum
      Option.when(got != want)(s"${req.route} got $got, expected $want")
    }

  /** Closed loop: `clients` threads, each sending its next request when
    * the previous one has returned, until `seconds` have passed. */
  private def closedLoop(clients: Int, deadline: Double)(next: () => Option[() => Unit]): Seq[Thread] =
    (0 until clients).map { _ =>
      val t = new Thread(() => {
        var go = true
        while (go && tracer.now() < deadline) next() match {
          case Some(f) => f()
          case None => go = false
        }
      })
      t.start(); t
    }

  /** Regular files under `dir` with their sizes. Writers and compaction
    * create and drop directories meanwhile, so a walk that loses a
    * directory under it starts again. */
  private def files(dir: String): Map[java.nio.file.Path, Long] = {
    def walk(): Map[java.nio.file.Path, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
    Iterator.continually(scala.util.Try(walk())).take(20).collectFirst { case scala.util.Success(m) => m }
      .getOrElse(walk())
  }

  private def storeBytes(root: String): Long = files(root).values.sum

  private def storedPoints(root: String): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val raw = new MetricsService(spark, root).raw()
    val r = raw.agg(count(lit(1)), countDistinct(col("tenant_id"), col("mtype"), col("metric"), col("time")))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def setupDone(build: (Double, Double), serveS: Double): Map[String, Any] =
    Map("bulk_load_s" -> build._1, "refresh_tiers_s" -> build._2, "serve_s" -> serveS)

  private def measured(t0: Double, t1: Double, gc0: Long): Map[String, Any] = {
    collector.active = false
    Map("measure_start" -> t0, "measure_end" -> t1, "gc_ms" -> (Jvm.gcMs - gc0),
      "ops" -> ops.asScala.toList.map(_.toMap))
  }

  // ---- dashboard ---------------------------------------------------

  def dashboard(): Map[String, Any] = {
    val spec = PerfBench.DashboardSpec
    val root = s"${args.dir}/store"
    val build = buildStore(spark, root, spec, args.seed, tracer)
    val s0 = tracer.now()
    val serving = new Serving(root)
    // warm-up outside the measured window: one request of each route
    // per client, from four clients
    val warm = Gen.dashboard(args.seed ^ 0x3a11L, spec, 24)
    (0 until 4).map(c => new Thread(() => warm.indices.filter(_ % 4 == c).foreach(i => serving.exec(warm(i)))))
      .map { t => t.start(); t }.foreach(_.join())
    ops.clear(); serving.seen.clear(); tracer.spans.clear()
    val serveS = (tracer.now() - s0) / 1e3
    val seq = Gen.dashboard(args.seed, spec, 20000)
    val next = new AtomicInteger
    collector.active = true
    val gc0 = Jvm.gcMs
    val t0 = tracer.now()
    closedLoop(4, t0 + args.seconds * 1e3) { () =>
      val i = next.getAndIncrement()
      Option.when(i < seq.size)(() => serving.exec(seq(i)))
    }.foreach(_.join())
    val t1 = tracer.now()
    val m = measured(t0, t1, gc0)
    m ++ setupDone(build, serveS) ++ Map(
      "store_bytes" -> storeBytes(root), "raw_bytes" -> parquet(s"$root/data").values.sum,
      "store_points" -> spec.points, "maint" -> Nil,
      "files_per_partition" -> filesPerPartition(s"$root/data"), "check_errors" -> Nil)
  }

  // ---- ingest ------------------------------------------------------

  def ingest(): Map[String, Any] = {
    val spec = PerfBench.IngestSpec
    val root = s"${args.dir}/store"
    val build = buildStore(spark, root, spec, args.seed, tracer)
    val s0 = tracer.now()
    val serving = new Serving(root)
    val writes = Gen.ingestWrites(args.seed, spec, 5000)
    val reads = Gen.ingestReads(args.seed, spec, 5000)
    // warm-up: reads of the seeded store and scrapes into a tenant of
    // its own on the seeded day, outside the measured window
    val warmReads = Gen.dashboard(args.seed ^ 0x3a11L, spec, 6)
    (0 until 3).map(c => new Thread(() => Seq(c, c + 3).foreach(i => serving.exec(warmReads(i)))))
      .map { t => t.start(); t }.foreach(_.join())
    val warmWrites = Gen.ingestWrites(args.seed ^ 0x3a11L, spec, 4).filter(_.route == "scrape")
      .zipWithIndex.map { case (w, k) =>
        w.copy(tenant = "warm", body = w.body.map { case (id, pts) =>
          id -> pts.map { case (_, v) => (Base + k * Tick, v) } })
      }
    warmWrites.foreach(serving.exec(_))
    ops.clear(); serving.seen.clear(); tracer.spans.clear()
    val serveS = (tracer.now() - s0) / 1e3

    // acknowledged points per series, and the ticks of writes in flight
    val acked = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentSkipListSet[java.lang.Long]]()
    val inflight = new ConcurrentSkipListSet[java.lang.Long]()
    val nextWrite = new AtomicInteger
    val ackedPoints = new AtomicLong
    def series(tenant: String, tpath: String, id: String) = s"$tenant/$tpath/$id"
    /** Every tick below this one belongs to an acknowledged write. */
    def frontier(): Long = this.synchronized {
      val issued = nextWrite.get()
      val top = if (issued < writes.size) writes(issued).ticks._1 else writes.last.ticks._2
      if (inflight.isEmpty) top else math.min(top, inflight.first())
    }
    // at this commit a raw read that overlaps a compaction can fail with
    // FILE_NOT_EXIST (see perfbench/README.md): reads wait, untimed, until
    // no compaction runs, and a compaction waits for the read in flight
    val compaction = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    val maint = new ConcurrentLinkedQueue[Map[String, Any]]()
    val maintSvc = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))
    val data = s"$root/data"
    val firstSlice = (Base + Day) / Day
    var nextSlice = firstSlice
    def maintain(closedSlice: Long, refresh: Boolean = true): Unit = while (nextSlice < closedSlice) {
      val s = nextSlice
      val op = s"maint:$s"
      spark.sparkContext.setLocalProperty("perfbench.op", op)
      val t0 = tracer.now()
      compaction.writeLock().lock()
      val c = try tracer.timed("storage.compact", op)(maintSvc.compressBlock(s + 1, s))
      finally compaction.writeLock().unlock()
      val rewritten = sliceFiles(data, s).values.sum
      val r = if (!refresh) 0.0 else tracer.timed("storage.refresh_tiers", op)(maintSvc.refreshTiers(s + 1, s))
      maint.add(Map("slice" -> s, "start" -> t0, "end" -> tracer.now(),
        "compact_s" -> c, "refresh_s" -> r, "rewritten_bytes" -> rewritten))
      nextSlice += 1
    }

    collector.active = true
    val gc0 = Jvm.gcMs
    val t0 = tracer.now()
    @volatile var writersDone = false
    val failures = new ConcurrentLinkedQueue[String]()
    def guarded(what: String)(f: => Unit): Unit =
      try f catch { case e: Exception => failures.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val maintainer = new Thread(() => guarded("maintenance") {
      while (!writersDone) {
        maintain((Base + frontier() * Tick) / Day)
        Thread.sleep(50)
      }
    })
    maintainer.start()
    // one writer: at HEAD two concurrent POSTs race on the store's shared
    // commit directory (see perfbench/README.md). It sends a fixed number
    // of whole groups of ten POSTs (one per eight seconds asked for), so
    // every run does the same work.
    val groups = math.max(1, args.seconds / 8)
    val writer = new Thread(() => try guarded("writer") {
      (0 until groups * 10).foreach { _ =>
        val req = this.synchronized {
          val i = nextWrite.get(); inflight.add(writes(i).ticks._1); nextWrite.incrementAndGet(); writes(i)
        }
        val tpath = req.path.split("/")(1)
        val days = (req.ticks._1 * Tick / Day) to ((req.ticks._2 - 1) * Tick / Day)
        def written() =
          if (!tracer.on) Map.empty[java.nio.file.Path, Long]
          else days.flatMap(d => sliceFiles(data, Base / Day + d)).toMap
        val before = written()
        val ok = serving.exec(req)
        if (tracer.on) {
          val added = written() -- before.keys
          tracer.span("storage.written")(a => { a("files") = added.size; a("bytes") = added.values.sum })
        }
        if (ok) {
          req.body.foreach { case (id, pts) =>
            val set = acked.computeIfAbsent(series(req.tenant, tpath, id), _ => new ConcurrentSkipListSet())
            pts.foreach(p => set.add(p._1))
          }
          ackedPoints.addAndGet(req.points)
        }
        inflight.remove(req.ticks._1)
      }
    } finally writersDone = true)
    writer.start()
    def read(i: Int): Unit = {
      val (route, tenant, tpathId) = reads(i)
      val Array(tpath, id) = tpathId.split("/")
      val end = Base + frontier() * Tick
      val start = end - 6 * Hour
      // acknowledged points, plus the seeded day's when the window reaches it
      val seeded = if (id.stripPrefix("m").toInt >= spec.metrics) 0L
        else math.max(0L, math.min(end, Base + Day) - math.max(start, Base)) / Step
      val want = seeded + Option(acked.get(series(tenant, tpath, id)))
        .map(_.subSet(start, true, end, false).size.toLong).getOrElse(0L)
      val params = Map("start" -> start.toString, "end" -> end.toString)
      val req =
        if (route == "raw_fetch") Req(route, tenant, "GET", s"/$tpath/$id/raw", params, want)
        else Req(route, tenant, "GET", s"/$tpath/$id/stats",
          params ++ Map("buckets" -> "6", "percentiles" -> "95"), want)
      serving.exec(req, want)
    }
    val nextRead = new AtomicInteger
    val reader = closedLoop(1, Double.MaxValue) { () =>
      val i = nextRead.getAndIncrement()
      Option.when(i < reads.size && !writersDone) { () =>
        compaction.readLock().lock()
        try read(i) finally compaction.readLock().unlock()
      }
    }
    (writer +: reader).foreach(_.join())
    val t1 = tracer.now()
    maintainer.join()
    val m = measured(t0, t1, gc0)
    // final compaction, then every acknowledged point must be stored
    maintain((Base + frontier() * Tick) / Day, refresh = false)
    spark.sparkContext.setLocalProperty("perfbench.op", null)
    val warmPoints = warmWrites.map(_.points).sum
    val want = spec.points + warmPoints + ackedPoints.get()
    val (stored, distinct) = storedPoints(root)
    val errors = failures.asScala.toSeq ++ Seq(
      Option.when(stored != want)(s"store holds $stored points, expected $want"),
      Option.when(distinct != stored)(s"store holds ${stored - distinct} duplicate points")).flatten
    m ++ setupDone(build, serveS) ++ Map(
      "store_bytes" -> storeBytes(root), "raw_bytes" -> parquet(data).values.sum,
      "store_points" -> stored,
      "acked_points" -> ackedPoints.get(), "maint" -> maint.asScala.toList,
      "files_per_partition" -> filesPerPartition(s"$root/data"),
      "check_errors" -> errors)
  }

  private def parquet(data: String): Map[java.nio.file.Path, Long] =
    files(data).filter(_._1.getFileName.toString.endsWith(".parquet"))

  /** Parquet files (path → bytes) of one store slice. */
  private def sliceFiles(data: String, slice: Long): Map[java.nio.file.Path, Long] =
    parquet(data).filter(_._1.getParent.getFileName.toString == s"time_slice=$slice")

  private def filesPerPartition(data: String): Double = {
    val dirs = parquet(data).keys.map(_.getParent).toList
    if (dirs.isEmpty) 0.0 else dirs.size.toDouble / dirs.distinct.size
  }
}
