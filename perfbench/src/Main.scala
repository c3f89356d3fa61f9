package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Arguments and shared state of one benchmark run. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                     trace: Boolean, data: String, out: String, cpus: Int) {
  val tracer = new Tracer
  val listener = new GroupListener
  val result = new RunResult
  def sc: org.apache.spark.SparkContext = spark.sparkContext

  /** Elapsed seconds since `t0` (a `System.nanoTime` reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def writer(name: String): PrintWriter = new PrintWriter(new File(out, name), "UTF-8")

  /** Progress line on stderr, with the seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s] $msg")
}

/** What a workload reports: end-to-end samples, layer figures, counts. */
final class RunResult {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, JValue]
  var firstOpEpochMs = 0L

  /** Marks the start of the first timed operation (the end of set-up). */
  def startTiming(): Unit = if (firstOpEpochMs == 0L) firstOpEpochMs = System.currentTimeMillis()
}

/** Benchmark entry point. One JVM runs one workload:
  *
  * {{{
  * Main --workload adhoc|curate|stream_cdc --seed N --seconds S
  *      --trace 0|1 --data DIR --out DIR --cpus N
  * }}}
  *
  * Inputs come from DIR (written by `gen.py` from the seed); outputs the
  * DuckDB oracle checks, the spans and `result.json` go to the out DIR.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    // the host calibration is not set-up: its time is taken out of setup_s
    val cal0 = System.nanoTime()
    graft.tools.HostCal.warmup()
    val hostCalBefore = graft.tools.HostCal.unit()._1
    val calSetupS = (System.nanoTime() - cal0) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("out")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("out")}/warehouse")
      .config("spark.graft.scratchDir", s"${a("out")}/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("out"), cpus)
    if (ctx.trace) ctx.sc.addSparkListener(ctx.listener)
    ctx.log("session ready")
    val r = ctx.result
    try ctx.workload match {
      case "adhoc"      => Requests.adhoc(ctx)
      case "curate"     => Curate.run(ctx)
      case "stream_cdc" => Stream.run(ctx)
      case w            => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      if (ctx.trace) {
        val w = ctx.writer("spans.jsonl")
        try ctx.tracer.toJsonLines.foreach(w.println) finally w.close()
      }
    }
    // heap in use after full GCs, with the session and its caches alive.
    // Spark's cleaner drops unreachable broadcast and shuffle blocks on its
    // own thread once a GC has seen them go, so collect until the figure
    // holds still twice in a row.
    val mem = ManagementFactory.getMemoryMXBean
    val heaps = mutable.ArrayBuffer.empty[Double]
    def still = heaps.length >= 3 &&
      heaps.takeRight(3).sliding(2).forall(p => math.abs(p(1) - p(0)) <= 0.005 * p(0))
    while (heaps.length < 10 && !still) {
      System.gc()
      Thread.sleep(200)
      heaps += mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heapMb = heaps.last
    val hostCalAfter = graft.tools.HostCal.unit()._1
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    r.e2e("setup_s") = (r.firstOpEpochMs - jvmStart) / 1000.0 - calSetupS
    r.e2e("heap_mb") = heapMb
    r.info("spark_version") = JString(spark.version)
    r.info("jvm_version") = JString(System.getProperty("java.vm.version"))
    r.info("heap_max_mb") = JDouble(Runtime.getRuntime.maxMemory / 1048576.0)
    r.info("hostcal_before_s") = JDouble(hostCalBefore)
    r.info("hostcal_after_s") = JDouble(hostCalAfter)
    spark.stop()
    val json = JObject(
      "attempted" -> JLong(r.attempted), "failed" -> JLong(r.failed),
      "e2e" -> JObject(r.e2e.toList.map { case (k, v) => k -> JDouble(v) }),
      "layer" -> JObject(r.layer.toList.map { case (k, v) => k -> JDouble(v) }),
      "info" -> JObject(r.info.toList))
    val w = ctx.writer("result.json")
    try w.println(JsonMethods.compact(JsonMethods.render(json))) finally w.close()
  }
}
