package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._

import graft.exprs.catalyst.GraftFunctions
import graft.ext.{Corpus, Decontamination, Dedup, Similarity, TextFunctions}

/** The `curate` batch workload: a recipe pass runs seven `graft.ext`
  * operators over the generated corpus and writes each result to parquet,
  * which DuckDB/numpy check once the run ends (`oracle.py`). */
object Curate {
  private val classifierWeights: Seq[Double] = {
    val r = new scala.util.Random(7)
    Seq.fill(64)(r.nextGaussian())
  }

  /** The recipe, in order: (name, the call). */
  private def recipe(docs: DataFrame, emb: DataFrame, eval: DataFrame,
                     queries: DataFrame, cpus: Int): Seq[(String, () => DataFrame)] = Seq(
    ("curate", () => Corpus.curate(docs, "doc_id", "text", Seq("lang"),
      Corpus.CurateConfig(packSubShards = cpus))),
    ("dedupNearBy", () => Dedup.dedupNearBy(docs, "doc_id", "text",
      col("quality_hint"), threshold = 0.8)),
    ("removeDupSpans", () => Dedup.removeDupSpans(docs, "doc_id", "text", n = 8)),
    ("flagContaminated", () => Decontamination.flagContaminated(
      docs, "doc_id", "text", eval, "text", n = 13)),
    ("classifierFilter", () => TextFunctions.classifierFilter(
      docs, "text", classifierWeights, 0.0, 0.5)),
    ("ivfTopK", () => Similarity.ivfTopK(queries,
      Similarity.ivfBuild(emb, "doc_id", "embedding", nlist = 32, iterations = 2),
      "doc_id", "embedding", k = 10, nprobe = 4)),
    ("semDedup", () => Dedup.semDedup(emb, "doc_id", "embedding", k = 16,
      threshold = 0.95)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    // one partition per core, as a corpus of many files would arrive
    def input(name: String) =
      spark.read.parquet(s"${ctx.data}/curate/$name.parquet").repartition(ctx.cpus).cache()
    val docs = input("docs")
    val emb = input("emb")
    val eval = input("eval")
    val nDocs = docs.count(); emb.count(); eval.count()
    val queries = emb.filter(col("doc_id") % 50 === 0).cache()
    queries.count()
    val steps = recipe(docs, emb, eval, queries, ctx.cpus)

    // pass 0 is cold: it pays the codegen and JIT warm-up a curation job
    // pays once per application, and is set-up. The timed passes follow,
    // one operator at a time, until `ctx.seconds` have passed and at least
    // one is done; the median is reported
    val tr = ctx.tracer
    val figures = new LayerSums          // traced: per-pass figures, averaged
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val opWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def runPass(pass: Int): Unit = {
      var tracerNs = 0L                  // time spent in the tracer's own calls
      val exec = new JobStats
      val fig = mutable.Map.empty[String, Double]
      val p0 = System.nanoTime()
      val root = if (ctx.trace) tr.add(-1, pass, "pass", p0, p0) else -1
      for ((name, f) <- steps) {
        val s0 = System.nanoTime()
        if (ctx.trace) ctx.sc.setJobGroup(s"op-$pass-$name", name)
        r.attempted += 1
        try f().write.parquet(s"${ctx.out}/curate/pass-$pass/$name")
        catch { case e: Exception =>
          r.failed += 1
          System.err.println(s"curate pass $pass $name failed: $e")
        }
        val s1 = System.nanoTime()
        opWalls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (s1 - s0) / 1e6
        ctx.log(f"pass $pass $name ${(s1 - s0) / 1e9}%.2f s")
        if (ctx.trace) {
          val b0 = System.nanoTime()
          ctx.sc.clearJobGroup()
          Listeners.drain(ctx.sc)
          val js = ctx.listener.take(s"op-$pass-$name")
          val op = tr.add(root, pass, s"ext.$name", s0, s1)
          tr.addDisjoint(op, pass, "exec.job",
            js.intervals.map { case (a, b) => (Tracer.epochToNano(a), Tracer.epochToNano(b)) }.toSeq)
          fig ++= Map(
            s"ext.$name.wall_s" -> (s1 - s0) / 1e9,
            s"ext.$name.jobs" -> js.jobs.toDouble,
            s"ext.$name.driver_gap_s" -> ((s1 - s0) / 1e6 - js.jobWallMs) / 1000.0,
            s"ext.$name.executor_cpu_s" -> js.cpuNs / 1e9,
            s"ext.$name.shuffle_bytes" -> (js.shuffleRead + js.shuffleWrite).toDouble)
          exec.jobs += js.jobs; exec.tasks += js.tasks; exec.cpuNs += js.cpuNs
          exec.schedDelayMs += js.schedDelayMs; exec.gcMs += js.gcMs
          exec.shuffleRead += js.shuffleRead; exec.shuffleWrite += js.shuffleWrite
          exec.spill += js.spill; exec.intervals ++= js.intervals
          tracerNs += System.nanoTime() - b0
        }
      }
      val p1 = System.nanoTime()
      passWalls += (p1 - p0) / 1e9
      if (ctx.trace) {
        tr.spans(root) = tr.spans(root).copy(end = p1)
        val tree = tr.spans.drop(root).toSeq
        val self = Tracer.selfTimes(tree)
        val execMs = tree.filter(_.name.startsWith("ext.")).map(_.dur).sum / 1e6
        figures.add(fig.toMap ++ Stats.execMetrics(exec) ++ Map(
          "exec.execute_ms" -> execMs,
          "exec.driver_gap_ms" -> (execMs - exec.jobWallMs),
          "unattributed_ms" -> self(root) / 1e6,
          "trace.unit_ms" -> (p1 - p0) / 1e6,
          "trace.overhead_ms" -> tracerNs / 1e6,
          "trace.self_sum_ms" -> self.values.sum / 1e6))
      }
    }
    // the cold pass runs its operators side by side, one thread per core,
    // and with them the near-dup pairs for the oracle's exact-Jaccard check
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    val pairs = "pairs" -> (() => Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8))
    val cold = (steps :+ pairs).map { case (name, f) => pool.submit(() => scala.util.Try(
      f().write.parquet(s"${ctx.out}/curate/pass-0/$name"))) }.map(_.get())
    (steps :+ pairs).zip(cold).foreach { case ((name, _), t) =>
      r.attempted += 1
      t.failed.foreach { e =>
        r.failed += 1
        System.err.println(s"curate cold pass $name failed: $e")
      }
    }
    pool.shutdown()
    ctx.log("curate cold pass done")
    r.startTiming()
    val t0 = System.nanoTime()
    while (passWalls.isEmpty || ctx.since(t0) < ctx.seconds) runPass(passWalls.length + 1)
    // an operator call's latency: the median of its timed calls
    val ops = opWalls.values.map(w => Stats.median(w.toSeq)).toSeq
    val job = Stats.median(passWalls.toSeq)
    r.e2e("latency_p50_ms") = Stats.median(ops)
    r.e2e("latency_p90_ms") = Stats.pct(ops, 90)
    r.e2e("job_s") = job
    r.e2e("rows_per_s") = nDocs / job
    r.info("samples") = JInt(passWalls.length)
    r.info("docs") = JLong(nDocs)
    if (ctx.trace) {
      r.layer ++= figures.means
      r.layer ++= kernels(ctx, docs, emb)
    }
  }

  /** ns per row of each kernel: a select of the kernel's public function
    * over the corpus, minus the same select without the kernel, in
    * executor CPU time. Median of two runs each, after one untimed. */
  private def kernels(ctx: Ctx, docs: DataFrame, emb: DataFrame): Map[String, Double] = {
    val spark = ctx.spark
    GraftFunctions.register(spark)
    val k = (name: String, args: Seq[org.apache.spark.sql.Column]) => call_function(name, args: _*)
    val base = docs.select(col("doc_id"), col("text"),
      TextFunctions.tokens(col("text")).as("toks"),
      k(GraftFunctions.HashedShinglesName, Seq(col("text"), lit(3))).as("h"))
    val prep = base.join(base.select((col("doc_id") - 1).as("doc_id"), col("h").as("h2")),
      Seq("doc_id")).cache()
    val codes = emb.select(Similarity.quantizeInt8(col("embedding")).getField("codes").as("c"))
      .cache()
    val rows = prep.count().toDouble
    val nVec = codes.count().toDouble
    def cpuNs(df: DataFrame, e: org.apache.spark.sql.Column, tag: String): Double = {
      val runs = (0 until 3).map { i =>
        val g = s"kernel-$tag-$i"
        ctx.sc.setJobGroup(g, tag)
        df.agg(sum(e)).collect()
        ctx.sc.clearJobGroup()
        Listeners.drain(ctx.sc)
        ctx.listener.take(g).cpuNs.toDouble
      }
      Stats.median(runs.drop(1))
    }
    def perRow(name: String, df: DataFrame, n: Double, kernel: org.apache.spark.sql.Column,
               baseline: org.apache.spark.sql.Column): (String, Double) =
      s"kernels.$name.ns_per_row" ->
        (cpuNs(df, kernel, name) - cpuNs(df, baseline, s"$name-base")) / n
    val weights = lit(classifierWeights.toArray)
    Map(
      perRow("graft_hashed_shingles", prep, rows,
        size(k(GraftFunctions.HashedShinglesName, Seq(col("text"), lit(3)))), length(col("text"))),
      perRow("graft_minhash_sig", prep, rows,
        size(k(GraftFunctions.MinhashSigName, Seq(col("h"), lit(64), lit(42L)))), size(col("h"))),
      perRow("graft_jaccard64", prep, rows,
        k(GraftFunctions.Jaccard64Name, Seq(col("h"), col("h2"))), size(col("h")) + size(col("h2"))),
      perRow("graft_span_cut", prep, rows,
        k(GraftFunctions.SpanCutName, Seq(col("toks"), array(lit(0), lit(20), lit(40)), lit(8)))
          .getField("n_removed"), size(col("toks"))),
      perRow("graft_int8_dot", codes, nVec,
        k(GraftFunctions.Int8DotName, Seq(col("c"), col("c"))), size(col("c"))),
      perRow("graft_classifier_sum", prep, rows,
        k(GraftFunctions.ClassifierSumName, Seq(col("toks"), weights)), size(col("toks"))))
  }

}
