package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Aggo
import graft.model.PipelineParser

/** One pipeline request: `text` over `table`, with `colls` as the named
  * collections `$lookup`/`$unionWith` may reference. */
final case class Req(key: String, text: String, table: String, colls: Seq[String])

/** The `adhoc` closed-loop workload, one client: each request is a fresh
  * `Aggo.aggregate(...).collect()` of one of the pipelines in
  * `adhoc_queries.json`.
  *
  * The timed loop runs rounds, each every query once in a seeded order,
  * until `ctx.seconds` have passed and at least one round is done, so
  * every query weighs the same in the percentiles.
  *
  * Untraced, a request is that one call. Traced, the same work is split at
  * the layer boundaries (parse, translate, optimize, plan, execute) and the
  * jobs it runs are filed under a per-request job group; traced and
  * untraced requests alternate so the difference is the tracing overhead. */
object Requests {

  /** The tables of `dir` with their row counts (from the generator's
    * `rows.json`). */
  private def load(ctx: Ctx, dir: String, names: Seq[String]) = {
    implicit val fmt: Formats = DefaultFormats
    val rows = JsonMethods.parse(new java.io.File(s"$dir/rows.json")).extract[Map[String, Long]]
    names.map(n => n -> (ctx.spark.read.parquet(s"$dir/$n.parquet"), rows(n))).toMap
  }

  private def aggregate(tables: Map[String, (DataFrame, Long)], q: Req): DataFrame =
    Aggo.aggregate(tables(q.table)._1, q.text, q.colls.map(c => c -> tables(c)._1).toMap)

  def adhoc(ctx: Ctx): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val qs = JsonMethods.parse(new java.io.File(s"${ctx.data}/adhoc_queries.json")).children
      .map(q => Req((q \ "name").extract[String], (q \ "pipeline").extract[String],
        (q \ "table").extract[String], (q \ "collections").extract[Seq[String]]))
    val tables = load(ctx, s"${ctx.data}/adhoc", (qs.map(_.table) ++ qs.flatMap(_.colls)).distinct)
    ctx.log("adhoc tables loaded")
    // warm-up, set-up and not measured: every query once, on one thread
    // per core. Its result is the reference the DuckDB oracle checks and
    // every timed run of the query is compared against
    val r = ctx.result
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    val first = qs.map(q => pool.submit(() => scala.util.Try {
      val df = aggregate(tables, q)
      val rows = df.collect()
      ctx.spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.parquet(s"${ctx.out}/adhoc/${q.key}")
      rows
    })).map(_.get())
    pool.shutdown()
    val reference = qs.zip(first).collect { case (q, scala.util.Success(rows)) => q.key -> rows }.toMap
    qs.zip(first).foreach { case (q, w) =>
      r.attempted += 1
      w.failed.foreach { e =>
        r.failed += 1
        System.err.println(s"adhoc warm-up ${q.key} failed: $e")
      }
    }
    ctx.log("adhoc warm-up done")

    val rnd = new scala.util.Random(ctx.seed)
    val walls = mutable.ArrayBuffer.empty[Double]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val layers = new LayerSums
    val seen = mutable.Set.empty[String] ++ qs.map(_.text)
    var repeats = 0
    var rowsIn = 0L
    var unit = 0
    /** Every query once in a seeded order, each result checked; returns the
      * seconds its requests took. */
    def round(): Double = {
      var sum = 0.0
      for (q <- rnd.shuffle(qs)) {
        if (seen(q.text)) repeats += 1 else seen += q.text
        val traced = ctx.trace && unit % 2 == 0
        val start = System.nanoTime()
        val rows = scala.util.Try(
          if (traced) tracedRequest(ctx, tables, q, unit, layers)
          else aggregate(tables, q).collect())
        val wall = (System.nanoTime() - start) / 1e6
        sum += wall
        walls += wall
        (if (traced) tracedWalls else untracedWalls) += wall
        val ok = rows match {
          case scala.util.Success(got) => reference.get(q.key).exists(Check.sameRows(_, got))
          case scala.util.Failure(e) =>
            System.err.println(s"request ${q.key} failed: $e")
            false
        }
        r.attempted += 1
        if (!ok) r.failed += 1
        rowsIn += (q.table +: q.colls).map(tables(_)._2).sum
        unit += 1
      }
      ctx.log(f"adhoc round: ${sum / 1000.0}%.2f s of requests")
      sum / 1000.0
    }
    r.startTiming()
    val t0 = System.nanoTime()
    while (roundWalls.isEmpty || ctx.since(t0) < ctx.seconds) roundWalls += round()
    val ws = walls.toSeq
    r.e2e("latency_p50_ms") = Stats.median(ws)
    r.e2e("latency_p90_ms") = Stats.pct(ws, 90)
    r.e2e("rows_per_s") = rowsIn / (ws.sum / 1000.0)
    // one unit of work here is a round: every query once, its requests' walls summed
    r.e2e("job_s") = Stats.median(roundWalls.toSeq)
    r.info("samples") = JInt(ws.length)
    r.info("runs_per_query") = JInt(1 + roundWalls.length)
    r.layer("work.repeat_share") = repeats.toDouble / ws.length
    if (ctx.trace) {
      r.layer ++= layers.means
      r.layer("trace.overhead_ms") =
        Stats.median(tracedWalls.toSeq) - Stats.median(untracedWalls.toSeq)
    }
  }

  /** One request split at the layer boundaries, as spans under a root. */
  private def tracedRequest(ctx: Ctx, tables: Map[String, (DataFrame, Long)], q: Req,
                            unit: Int, layers: LayerSums): Array[Row] = {
    val tr = ctx.tracer
    val group = s"unit-$unit"
    val (c0, ms0) = Codegen.read()
    ctx.sc.setJobGroup(group, q.key)
    val t0 = System.nanoTime()
    val root = tr.add(-1, unit, "request", t0, t0)
    val (stages, _) = tr.span(root, unit, "model.parse")(PipelineParser.parse(q.text))
    val (df, _) = tr.span(root, unit, "stages.translate")(
      Aggo.aggregateParsed(tables(q.table)._1, stages,
        q.colls.map(c => c -> tables(c)._1).toMap))
    tr.span(root, unit, "catalyst.optimize")(df.queryExecution.optimizedPlan)
    tr.span(root, unit, "catalyst.plan")(df.queryExecution.executedPlan)
    val (rows, exec) = tr.span(root, unit, "exec.execute")(df.collect())
    val t1 = System.nanoTime()
    ctx.sc.clearJobGroup()
    tr.spans(root) = tr.spans(root).copy(end = t1)
    val (c1, ms1) = Codegen.read()
    Listeners.drain(ctx.sc)
    val js = ctx.listener.take(group)
    val ex = tr.spans(exec)
    // compiles happen on the driver while the plan executes; their time is
    // known, their position is not, so the span sits at the start of execute
    tr.add(exec, unit, "codegen.compile", ex.start,
      math.min(ex.end, ex.start + ((ms1 - ms0) * 1e6).toLong))
    tr.addDisjoint(exec, unit, "exec.job",
      js.intervals.map { case (s, e) => (Tracer.epochToNano(s), Tracer.epochToNano(e)) }.toSeq)
    layers.add(Requests.layerFigures(ctx.tracer, root, js, c1 - c0, ms1 - ms0))
    rows
  }

  /** Per-request layer figures from the span tree under `root`. */
  def layerFigures(tr: Tracer, root: Int, js: JobStats, compiles: Long,
                   compileMs: Double): Map[String, Double] = {
    val tree = tr.spans.drop(root).toSeq.filter(_.unit == tr.spans(root).unit)
    val self = Tracer.selfTimes(tree)
    def dur(name: String) = tree.filter(_.name == name).map(_.dur).sum / 1e6
    val exec = tree.find(_.name == "exec.execute").get
    val wall = tr.spans(root).dur / 1e6
    Stats.execMetrics(js) ++ Map(
      "model.parse_ms" -> dur("model.parse"),
      "stages.translate_ms" -> dur("stages.translate"),
      "catalyst.optimize_ms" -> dur("catalyst.optimize"),
      "catalyst.plan_ms" -> dur("catalyst.plan"),
      "codegen.compile_count" -> compiles.toDouble,
      "codegen.compile_ms" -> compileMs,
      "exec.execute_ms" -> exec.dur / 1e6,
      "exec.driver_gap_ms" -> (exec.dur / 1e6 - js.jobWallMs),
      "unattributed_ms" -> (self(root) + self(exec.id)) / 1e6,
      "trace.unit_ms" -> wall,
      "trace.self_sum_ms" -> tree.map(s => self(s.id)).sum / 1e6)
  }
}

/** Result comparison inside the JVM. */
object Check {
  /** Same rows in any order; doubles equal within 1e-9 relative. A repeat
    * of a plan usually returns its rows in the same order, so that order
    * is tried before sorting. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && (a.lazyZip(b).forall(same) || {
      val sa = a.map(_.toSeq).sortBy(_.toString); val sb = b.map(_.toSeq).sortBy(_.toString)
      sa.zip(sb).forall { case (x, y) => same(x, y) }
    })

  def same(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) => a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b))) || (a.isNaN && b.isNaN)
    case (a: Float, b: Float)   => same(a.toDouble, b.toDouble)
    case (a: Row, b: Row)       => same(a.toSeq, b.toSeq)
    case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) =>
      a.length == b.length && a.zip(b).forall { case (p, q) => same(p, q) }
    case (a: scala.collection.Map[_, _], b: scala.collection.Map[_, _]) =>
      a.size == b.size && a.forall { case (k, v) => b.asInstanceOf[scala.collection.Map[Any, Any]].get(k).exists(same(v, _)) }
    case _ => x == y
  }
}
