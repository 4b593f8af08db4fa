package graft.api.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Checks of the harness itself; run by perfbench/tests/test_perfbench.py.
  * Prints one line per failed check and exits non-zero if any failed.
  *
  *   SelfTest <scratch dir> */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(what: String)(ok: Boolean): Unit = if (!ok) failures += what

    // the same seed gives the same request sequence; another seed does not
    val spec = Gen.StoreSpec(tenants = 2, metrics = 6)
    check("dashboard sequence is seeded")(Gen.dashboard(7, spec, 300) == Gen.dashboard(7, spec, 300))
    check("dashboard sequence depends on the seed")(Gen.dashboard(7, spec, 300) != Gen.dashboard(8, spec, 300))
    check("ingest writes are seeded")(Gen.ingestWrites(7, spec, 50) == Gen.ingestWrites(7, spec, 50))
    check("ingest reads are seeded")(Gen.ingestReads(7, spec, 50) == Gen.ingestReads(7, spec, 50))
    check("routes come in equal shares")(
      Gen.dashboard(7, spec, 600).groupBy(_.route).values.map(_.size).toSet == Set(100))
    val ticks = Gen.ingestWrites(7, spec, 50).map(_.ticks)
    check("write ticks are disjoint and ordered")(ticks.zip(ticks.tail).forall { case (a, b) => a._2 == b._1 })

    // JSON output escapes every string it carries
    val nasty = "q\"uote \\ back\nline\t\u0001 ünï"
    val parsed = new ObjectMapper().readTree(Json.write(Map(nasty -> Seq(nasty), "n" -> 1.5)))
    check("JSON keys are escaped")(parsed.has(nasty))
    check("JSON values are escaped")(parsed.get(nasty).get(0).asText() == nasty)
    check("JSON is one line")(!Json.write(Map("k" -> nasty)).contains("\n"))

    // the same seed builds a store of the same points and the same size
    val spark = graft.GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(false)
    def build(name: String, seed: Long): (Long, Set[org.apache.spark.sql.Row]) = {
      val root = s"$dir/$name"
      graft.storage.IndexStore.rmrf(spark, root)
      Gen.buildStore(spark, root, spec, seed, tracer)
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/data"))
      val bytes = try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size(_)).sum finally s.close()
      val rows = new graft.api.MetricsService(spark, root).raw()
        .drop("ingest_seq").collect().toSet
      (bytes, rows)
    }
    val a = build("a", 7)
    val b = build("b", 7)
    val c = build("c", 8)
    check("store holds every generated point")(a._2.size == spec.points)
    check("same seed, same store points")(a._2 == b._2)
    // the program stamps every write with a clock-based sequence number,
    // which compresses to a byte more or less now and then
    check(s"same seed, same store byte count (${a._1} vs ${b._1})")(math.abs(a._1 - b._1) <= a._1 / 1000)
    check("another seed, other store points")(a._2 != c._2)
    spark.stop()

    failures.foreach(f => println(s"FAILED: $f"))
    println(s"${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
