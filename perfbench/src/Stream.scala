package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.json4s._

import graft.Aggo
import graft.streaming.Cdc

/** A lineitem-shaped change: +1 inserts the row, -1 retracts an earlier insert. */
final case class Delta(id: Long, l_suppkey: Long, l_returnflag: String, l_quantity: Double,
                       l_extendedprice: Double, sign: Int)

/** The `stream_cdc` open-loop workload. A generator thread appends seeded
  * deltas to a `MemoryStream` every 100 ms at a fixed rate, each chunk
  * stamped with the time it was due; `Cdc.aggregateDeltas` maintains a
  * `$group` view in update mode and a `foreachBatch` sink applies it. A
  * batch's latency runs from the due time of its last chunk to the sink
  * finishing it. A second phase drains a fixed backlog as fast as it can.
  * The final view must equal a batch `$group` over the net inserted rows. */
object Stream {
  val Rate = 20000            // deltas per second, open phase
  val Backlog = 150000        // deltas per drain
  val Drains = 3
  val RetractShare = 0.2
  val Suppliers = 500         // group keys of the view
  private val TickNs = 100000000L

  private val groupSpec =
    """{"_id": "$l_suppkey", "n": {"$sum": 1}, "qty": {"$sum": "$l_quantity"},
      | "rev": {"$sum": "$l_extendedprice"}}""".stripMargin

  /** Seeded delta source; keeps the live inserts so retractions hit them. */
  final class Source(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val live = mutable.ArrayBuffer.empty[Delta]
    private var nextId = 0L
    var inserts = 0L
    var retractions = 0L

    def chunk(n: Int): Seq[Delta] = {
      val out = mutable.ArrayBuffer.empty[Delta]
      val fresh = mutable.ArrayBuffer.empty[Delta]
      for (_ <- 0 until n) {
        if (live.nonEmpty && rnd.nextDouble() < RetractShare) {
          val i = rnd.nextInt(live.length)
          val d = live(i)
          live(i) = live.last; live.remove(live.length - 1)
          out += d.copy(sign = -1); retractions += 1
        } else {
          val d = Delta(nextId, rnd.nextInt(Suppliers).toLong, Seq("A", "N", "R")(rnd.nextInt(3)),
            (1 + rnd.nextInt(50)).toDouble, math.round(rnd.nextDouble() * 1e7) / 100.0, 1)
          nextId += 1
          out += d; fresh += d; inserts += 1
        }
      }
      live ++= fresh      // retractions only ever hit earlier chunks
      out.toSeq
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val r = ctx.result
    val mem = MemoryStream[Delta]
    val src = new Source(ctx.seed)
    val due = new ConcurrentHashMap[Long, Long]()          // offset -> due ns of its chunk
    val finished = new ConcurrentHashMap[Long, Long]()     // batch id -> sink finish ns
    val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    val view = new ConcurrentHashMap[Long, Row]()
    @volatile var sinkFailed = 0

    def append(ds: Seq[Delta], dueNs: Long): Unit = {
      val off = mem.addData(ds).toString.toLong
      due.put(off, dueNs)
    }

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.put(e.progress.batchId, e.progress)
    }
    spark.streams.addListener(listener)

    val sink: (DataFrame, Long) => Unit = (df, batchId) =>
      try {
        df.collect().foreach(row => view.put(row.getAs[Long]("_id"), row))
        finished.put(batchId, System.nanoTime())
      } catch { case e: Exception => sinkFailed += 1; throw e }
    val deltas = mem.toDF().select("id", "l_suppkey", "l_returnflag", "l_quantity",
      "l_extendedprice", "sign")
    val query = Cdc.aggregateDeltas(deltas, "sign", groupSpec)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"${ctx.out}/checkpoint")
      .foreachBatch(sink)
      .start()

    /** Generator thread: one chunk per tick until `untilNs`; returns the lags. */
    def openLoop(untilNs: Long): mutable.ArrayBuffer[Double] = {
      val lags = mutable.ArrayBuffer.empty[Double]
      val per = (Rate * TickNs / 1000000000L).toInt
      val gen = new Thread(() => {
        var tick = System.nanoTime()
        while (tick < untilNs) {
          val wait = tick - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lags += (System.nanoTime() - tick) / 1e6
          append(src.chunk(per), tick)
          tick += TickNs
        }
      }, "delta-generator")
      gen.start(); gen.join()
      lags
    }

    // traced runs file the stream's jobs (group = run id) from the second
    // half of the open phase on; the first half runs without the listener
    if (ctx.trace) ctx.sc.removeSparkListener(ctx.listener)
    try {
      // warm-up: the first batches plan, compile and create the state store
      openLoop(System.nanoTime() + 1500000000L)
      query.processAllAvailable()
      val warmBatches = finished.keySet.asScala.maxOption.getOrElse(-1L)
      r.startTiming()
      val t0 = System.nanoTime()
      val half = t0 + (ctx.seconds * 5e8).toLong
      val lags = openLoop(half)
      if (ctx.trace) ctx.sc.addSparkListener(ctx.listener)
      lags ++= openLoop(t0 + (ctx.seconds * 1e9).toLong)
      query.processAllAvailable()
      val execStats =
        if (ctx.trace) { Listeners.drain(ctx.sc); ctx.listener.take(query.runId.toString) }
        else new JobStats
      val lastOpen = finished.keySet.asScala.max
      val drains = (0 until Drains).map { _ =>
        // timed from the backlog being in the source: making the deltas and
        // MemoryStream's encoding of them are the generator's work
        append(src.chunk(Backlog), System.nanoTime())
        val d0 = System.nanoTime()
        query.processAllAvailable()
        (System.nanoTime() - d0) / 1e9
      }
      // the listener hears of each batch after it commits
      val lastBatch = finished.keySet.asScala.max
      val deadline = System.nanoTime() + 10000000000L
      while (!progress.containsKey(lastBatch) && System.nanoTime() < deadline) Thread.sleep(20)

      def latency(b: Long): Option[Double] = Option(progress.get(b)).flatMap { p =>
        val end = p.sources.head.endOffset.trim.stripPrefix("\"").stripSuffix("\"").toLong
        Option(due.get(end)).map(d => (finished.get(b) - d) / 1e6)
      }
      val open = ((warmBatches + 1) to lastOpen).filter(finished.containsKey)
      val samples = open.flatMap(b => latency(b).map(b -> _))
      val lat = samples.map(_._2)
      r.e2e("latency_p50_ms") = Stats.median(lat)
      r.e2e("latency_p90_ms") = Stats.pct(lat, 90)
      r.e2e("rows_per_s") = Backlog / Stats.median(drains)
      // one unit of work here is a micro-batch: its trigger's wall
      r.e2e("job_s") = Stats.median(open.flatMap(b => Option(progress.get(b)))
        .map(_.durationMs.get("triggerExecution").doubleValue / 1000.0))
      r.info("samples") = JInt(lat.length)
      r.layer("gen.lag_p90_ms") = Stats.pct(lags.toSeq, 90)
      r.layer("work.retraction_share") = src.retractions.toDouble / (src.inserts + src.retractions)
      r.layer("work.state_rows") = view.size.toDouble
      if (ctx.trace) traced(ctx, open, progress, finished, half, samples, execStats)

      // the maintained view against a batch $group over the net inserts
      val batches = (warmBatches + 1 to lastBatch).count(finished.containsKey)
      r.attempted += batches + 1
      r.failed += sinkFailed
      val expected = Aggo.aggregate(src.live.toSeq.toDF(), s"[{\"$$group\": $groupSpec}]")
        .collect().map(row => row.getAs[Long]("_id") -> row).toMap
      val got = view.asScala.toMap
      val ok = expected.keySet == got.keySet && expected.forall { case (k, e) =>
        val g = got(k)
        Seq("n", "qty", "rev").forall(c => Check.same(
          e.getAs[Number](c).doubleValue, g.getAs[Number](c).doubleValue))
      }
      if (!ok) {
        r.failed += 1
        System.err.println(s"stream view differs: ${expected.size} groups expected, ${got.size} held")
      }
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

  /** Layer figures from the open-phase batches after `half`, which ran
    * with the job listener; the batches before it ran without, so the
    * latency gap between the halves is the tracing overhead. */
  private def traced(ctx: Ctx, open: Seq[Long], progress: ConcurrentHashMap[Long, StreamingQueryProgress],
                     finished: ConcurrentHashMap[Long, Long], half: Long,
                     samples: Seq[(Long, Double)], exec: JobStats): Unit = {
    val tr = ctx.tracer
    val r = ctx.result
    val late = open.filter(b => finished.get(b) >= half && progress.containsKey(b))
    val phases = Seq("latestOffset" -> "streaming.latest_offset",
      "queryPlanning" -> "catalyst.query_planning", "getBatch" -> "streaming.get_batch",
      "addBatch" -> "streaming.add_batch", "walCommit" -> "streaming.wal_commit",
      "commitOffsets" -> "streaming.commit_offsets")
    val figs = late.map { b =>
      val p = progress.get(b)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val end = finished.get(b)
      val root = tr.add(-1, b.toInt, "stream.batch", end - d("triggerExecution") * 1000000L, end)
      var at = tr.spans(root).start
      phases.foreach { case (k, name) =>
        tr.add(root, b.toInt, name, at, at + d(k) * 1000000L); at += d(k) * 1000000L
      }
      val tree = tr.spans.drop(root).toSeq
      val st = p.stateOperators.headOption
      Map(
        "streaming.query_planning_ms" -> d("queryPlanning").toDouble,
        "streaming.add_batch_ms" -> d("addBatch").toDouble,
        "streaming.wal_commit_ms" -> d("walCommit").toDouble,
        "streaming.state_rows" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_memory_bytes" -> st.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.state_commit_ms" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
        "streaming.rows_per_batch" -> p.numInputRows.toDouble,
        "trace.unit_ms" -> d("triggerExecution").toDouble,
        "trace.self_sum_ms" -> Tracer.selfTimes(tree).values.sum / 1e6)
    }
    figs.headOption.foreach(_.keys.foreach { k => r.layer(k) = Stats.median(figs.map(_(k))) })
    if (late.nonEmpty)
      Stats.execMetrics(exec).foreach { case (k, v) => r.layer(k) = v / late.length }
    val (after, before) = samples.partition { case (b, _) => finished.get(b) >= half }
    r.layer("trace.overhead_ms") = Stats.median(after.map(_._2)) - Stats.median(before.map(_._2))
  }
}
