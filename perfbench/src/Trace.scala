package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a named interval on the `System.nanoTime` clock, with the span
  * that caused it (`parent`, -1 for a unit's root) and the unit (request,
  * recipe pass or micro-batch) it belongs to. */
final case class Span(id: Int, parent: Int, unit: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, unit: Int, name: String, start: Long, end: Long): Int = {
    spans += Span(spans.length, parent, unit, name, start, end)
    spans.length - 1
  }

  /** Adds `intervals` (ns) as spans under `parent`, clipped to it and with
    * overlaps merged, minus the part its existing children already cover,
    * so concurrent work is counted once. */
  def addDisjoint(parent: Int, unit: Int, name: String, intervals: Seq[(Long, Long)]): Unit = {
    val p = spans(parent)
    val taken = spans.iterator.drop(parent).filter(_.parent == parent).map(s => (s.start, s.end)).toSeq
    for ((s, e) <- Tracer.merge(intervals.map { case (s, e) => (math.max(s, p.start), math.min(e, p.end)) });
         (a, b) <- Tracer.minus((s, e), Tracer.merge(taken)))
      add(parent, unit, name, a, b)
  }

  /** Times `f` as a span under `parent`; returns the result and the span id. */
  def span[T](parent: Int, unit: Int, name: String)(f: => T): (T, Int) = {
    val t0 = System.nanoTime()
    val r = f
    (r, add(parent, unit, name, t0, System.nanoTime()))
  }

  def toJsonLines: Iterator[String] = spans.iterator.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"unit":${s.unit},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""")
}

object Tracer {
  /** Self time of each span of `tree`, in ns: its duration minus the part
    * of its interval that its children cover (children clipped to it). */
  def selfTimes(tree: Seq[Span]): Map[Int, Long] = {
    val kids = tree.groupBy(_.parent)
    tree.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  /** Overlapping intervals merged; empty ones dropped. */
  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x)                              => x :: acc
    }.reverse

  /** `iv` minus the sorted disjoint intervals `cut`. */
  def minus(iv: (Long, Long), cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.foldLeft(Seq(iv)) { (parts, c) =>
      parts.flatMap { case (s, e) =>
        Seq((s, math.min(e, c._1)), (math.max(s, c._2), e)).filter(x => x._2 > x._1)
      }
    }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = merge(iv).map(x => x._2 - x._1).sum

  /** Offset that maps an epoch-ms listener timestamp onto the span clock. */
  def epochToNano(ms: Long): Long = ms * 1000000L - offsetNs
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
}

/** What Spark's scheduler and executors did for one job group. */
final class JobStats {
  var jobs = 0; var tasks = 0
  var cpuNs = 0L; var schedDelayMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]   // job start/end, epoch ms
  def jobWallMs: Double = Tracer.union(intervals.toSeq).toDouble
}

/** SparkListener that files jobs and task metrics under the job group the
  * benchmark set around each traced call. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stats = new ConcurrentHashMap[String, JobStats]()

  def take(group: String): JobStats = Option(stats.remove(group)).getOrElse(new JobStats)

  private def of(group: String): JobStats = stats.computeIfAbsent(group, _ => new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      of(g).synchronized { of(g).jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, g))
      jobStart.put(e.jobId, (g, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val s = of(g); s.synchronized { s.intervals += ((t0, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = of(g)
      val m = e.taskMetrics
      val info = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
}

object Listeners {
  /** Blocks until the listener bus has delivered every posted event, so a
    * traced call's metrics are complete before they are read. The bus is
    * internal to Spark, hence the reflective call; a short sleep stands in
    * where it is unavailable. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(200) }
}

/** Spark's whole-stage-codegen compile counters (Janino compiles). The
  * histogram keeps every sample until 1028 compiles, so the time sum is
  * exact below that and an estimate from the mean above it. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** (compiles so far, compile ms so far). */
  def read(): (Long, Double) = {
    val n = h.getCount
    val snap = h.getSnapshot
    val ms = if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n
    (n, ms)
  }
}

/** Per-unit layer figures, averaged over the traced units of a run. */
final class LayerSums {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var units = 0
  def add(m: Map[String, Double]): Unit = {
    units += 1
    m.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v }
  }
  def means: Map[String, Double] =
    if (units == 0) Map.empty else sums.map { case (k, v) => k -> v / units }.toMap
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The `exec.*` figures of one job group, times in ms. */
  def execMetrics(s: JobStats): Map[String, Double] = Map(
    "exec.jobs" -> s.jobs.toDouble,
    "exec.tasks" -> s.tasks.toDouble,
    "exec.job_wall_ms" -> s.jobWallMs,
    "exec.executor_cpu_ms" -> s.cpuNs / 1e6,
    "exec.scheduler_delay_ms" -> s.schedDelayMs.toDouble,
    "exec.gc_ms" -> s.gcMs.toDouble,
    "exec.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
    "exec.shuffle_read_bytes" -> s.shuffleRead.toDouble,
    "exec.spill_bytes" -> s.spill.toDouble)
}
