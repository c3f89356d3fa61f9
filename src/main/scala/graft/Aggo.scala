package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._

import graft.model.PipelineParser
import graft.stages.{PipeCtx, StageTranslator}

/** Public API — the Spark-native equivalent of the reference's
  * `Aggo.aggregate(collection, pipeline)` surface
  * (/root/reference/src/aggo/index.ts:75-97, src/index.ts:297-419).
  *
  * A collection is a `DataFrame`; a pipeline is the same JSON array of
  * `$`-stages the reference accepts. Translation folds the stages into one
  * declarative Catalyst plan — predicate pushdown, column pruning, top-k,
  * constant folding and whole-stage codegen replace the reference's three
  * hand-rolled engines (SURVEY §3-§4).
  */
object Aggo {

  /** Run a Mongo-style aggregation pipeline over a DataFrame.
    *
    * @param df           the input collection
    * @param pipelineJson JSON array of pipeline stages
    * @param collections  named foreign collections for `$lookup`/`$unionWith`
    */
  def aggregate(df: DataFrame, pipelineJson: String,
                collections: Map[String, DataFrame] = Map.empty): DataFrame =
    aggregateParsed(df, PipelineParser.parse(pipelineJson), collections)

  def aggregateParsed(df: DataFrame, stages: Seq[(String, JValue)],
                      collections: Map[String, DataFrame],
                      notes: Option[scala.collection.mutable.ListBuffer[(Int, String)]] = None): DataFrame = {
    // graft's native functions resolve by name through the registry of the
    // session that analyzes the plan: the input frame's, not the active one
    graft.exprs.catalyst.GraftFunctions.register(df.sparkSession)
    // `_seq` carries encounter order (SURVEY §7.4.3): DataFrames are
    // unordered, but `$first/$last/$push` are order-sensitive in Mongo.
    // monotonically_increasing_id is partition-prefixed — stable for a fixed
    // file layout, never a shuffle or a driver-side zipWithIndex.
    val needsSeq = needsEncounterOrder(stages)
    val ingested =
      if (needsSeq && !df.columns.contains(StageTranslator.SeqCol))
        df.withColumn(StageTranslator.SeqCol, monotonically_increasing_id())
      else df
    val init = PipeCtx(collections = collections, hasSeq = needsSeq, notes = notes)
    // Stages that create fields mark them present. $project/$addFields and
    // the union-shaped stages manage the presence set themselves (incl.
    // per-row $$REMOVE strips); for every other stage, any new top-level
    // user column it introduced ($lookup `as`, $setWindowFields outputs,
    // includeArrayIndex, $graphLookup `as`, ...) is present on every row.
    val selfManaged = Set("$project", "$addFields", "$set", "$unset", "$unionWith", "$densify")
    val (out, _) = stages.zipWithIndex.foldLeft((ingested, init)) {
      case ((d, ctx), ((name, body), i)) =>
        val (out0, ctx2) = StageTranslator(d, name, body, ctx.copy(stageIdx = i))
        val out1 =
          if (out0.columns.contains(StageTranslator.PresenceCol) && !selfManaged(name)) {
            val before = d.columns.toSet
            val created = StageTranslator.userCols(out0).filterNot(before)
            if (created.isEmpty) out0
            else out0.withColumn(StageTranslator.PresenceCol,
              StageTranslator.presencePlus(
                org.apache.spark.sql.functions.col(StageTranslator.PresenceCol), created))
          } else out0
        (out1, ctx2)
    }
    out.drop(out.columns.filter(c =>
      c == StageTranslator.SeqCol || c == StageTranslator.SeqCol2 ||
        c == StageTranslator.PresenceCol): _*)
  }

  /** `Aggo.count` (reference: src/aggo/count.ts:9-13). */
  def count(df: DataFrame, pipelineJson: String,
            collections: Map[String, DataFrame] = Map.empty): Long =
    aggregate(df, pipelineJson, collections).count()

  /** `Aggo.explain` analogue (reference: api-enhancements.ts:13-288): per-stage
    * operator mapping, pushdown summary read from the optimized scan
    * (PushedFilters / ReadSchema — the reference's "stage analyses + reason
    * codes" equivalent), then the formatted Catalyst physical plan. */
  def explain(df: DataFrame, pipelineJson: String,
              collections: Map[String, DataFrame] = Map.empty): String = {
    val stages = PipelineParser.parse(pipelineJson)
    // per-stage reason codes, collected during translation (the reference's
    // stage analyses with fallback/reason codes, api-enhancements.ts:135-288)
    val reasons = scala.collection.mutable.ListBuffer.empty[(Int, String)]
    val out = aggregateParsed(df, stages, collections, Some(reasons))
    val byStage = reasons.toList.groupBy(_._1)
    val header = stages.zipWithIndex
      .map { case ((name, _), i) =>
        f"stage $i%2d: $name%-18s → ${stageOperator(name)}" +
          byStage.getOrElse(i, Nil).map("\n           · " + _._2).mkString
      }
      .mkString("== Pipeline ==\n", "\n", "\n\n")
    val formatted = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushdown = formatted.linesIterator
      .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema") ||
        l.contains("PartitionFilters"))
      .map(_.trim).toSeq.distinct
    val pushdownBlock =
      if (pushdown.isEmpty) "== Pushdown ==\n(no file scan in plan)\n\n"
      else pushdown.mkString("== Pushdown ==\n", "\n", "\n\n")
    val estimates = scala.util.Try {
      val st = out.queryExecution.optimizedPlan.stats
      s"== Estimates ==\nsizeInBytes: ${st.sizeInBytes}" +
        st.rowCount.map(rc => s", rowCount: $rc").getOrElse("") + "\n\n"
    }.getOrElse("")
    // Exchanges are what a pipeline costs at cluster scale: each shuffle
    // exchange rewrites the data over the network; broadcasts ship one small
    // side to every executor. Counted from the pre-AQE physical plan (AQE
    // may later elide or convert some at runtime).
    val shuffleBlock = scala.util.Try {
      // exchanges are inserted by EnsureRequirements, which runs in the
      // executedPlan preparations (sparkPlan predates them); under AQE the
      // executed plan is an adaptive shell whose initialPlan holds the
      // statically-planned exchanges
      val plan = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
      val bcasts = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => e
      }.size
      s"== Shuffles ==\nshuffle exchanges: $shuffles, broadcast exchanges: $bcasts\n\n"
    }.getOrElse("")
    header + pushdownBlock + shuffleBlock + estimates + formatted
  }

  /** The Catalyst operator each pipeline stage lowers to — shown by
    * explain() so users can see what the declarative translation bought. */
  private def stageOperator(stage: String): String = stage match {
    case "$match"                  => "Filter (pushed into the scan where possible)"
    case "$project" | "$addFields" | "$set" | "$unset" | "$replaceRoot" | "$replaceWith"
                                   => "Project (column-pruned scan)"
    case "$group" | "$sortByCount" | "$count" => "HashAggregate (partial + final, map-side combine)"
    case "$sort"                   => "Sort (range-partitioned exchange; TakeOrderedAndProject when followed by $limit)"
    case "$limit" | "$skip"        => "GlobalLimit/Offset (encounter-ordered when unsorted)"
    case "$unwind"                 => "Generate (posexplode)"
    case "$lookup"                 => "Join (broadcast for small foreign sides) + aggregated collect"
    case "$graphLookup"            => "iterative Join per BFS depth"
    case "$unionWith"              => "Union"
    case "$bucket"                 => "HashAggregate over CASE bucket assignment"
    case "$bucketAuto"             => "approx-quantile boundaries + HashAggregate"
    case "$setWindowFields"        => "Window"
    case "$fill"                   => "Window (last ignoreNulls / coalesce)"
    case "$densify"                => "sequence+explode axis ⋈ left_anti gaps + Union"
    case "$facet"                  => "per-facet sub-plan + single-row cross join"
    case "$sample"                 => "TakeOrdered over deterministic hash"
    case "$out" | "$merge"         => "eager sink write"
    case other                     => "translated Column expressions"
  }

  // --- standalone per-stage API (reference: Aggo.{$match, $project, ...},
  // --- src/aggo/index.ts:75-97) ---
  def matchStage(df: DataFrame, queryJson: String): DataFrame = stage(df, "$match", queryJson)
  def projectStage(df: DataFrame, specJson: String): DataFrame = stage(df, "$project", specJson)
  def addFieldsStage(df: DataFrame, specJson: String): DataFrame = stage(df, "$addFields", specJson)
  def groupStage(df: DataFrame, specJson: String): DataFrame = stage(df, "$group", specJson)
  def sortStage(df: DataFrame, specJson: String): DataFrame = stage(df, "$sort", specJson)
  def unwindStage(df: DataFrame, spec: String): DataFrame =
    stage(df, "$unwind", if (spec.trim.startsWith("{")) spec else s""""$spec"""")
  def limitStage(df: DataFrame, n: Int): DataFrame = df.limit(n)
  def skipStage(df: DataFrame, n: Int): DataFrame = df.offset(n)

  /** Apply a single pipeline stage. */
  def stage(df: DataFrame, name: String, bodyJson: String): DataFrame =
    aggregateParsed(df, Seq(name -> org.json4s.jackson.JsonMethods.parse(bodyJson)), Map.empty)

  /** Translate a Mongo expression to a Catalyst Column against a frame —
    * the `$expression` entry point (reference: index.ts:77). */
  def expression(df: DataFrame, exprJson: String): org.apache.spark.sql.Column = {
    graft.exprs.catalyst.GraftFunctions.register(df.sparkSession)
    graft.exprs.ExprTranslator.translate(org.json4s.jackson.JsonMethods.parse(exprJson))(
      graft.exprs.ExprCtx(Some(df), rootCols = df.columns.toSeq))
  }

  /** Load a JSONL file as a collection (reference `fromJSONL`, index.ts:84)
    * with dynamic schema inference and the widen-to-string policy for
    * heterogeneous fields (SURVEY §7.4.1; reference FieldType.MIXED,
    * columnar-vectors.ts:32): a field holding conflicting JSON types across
    * documents becomes a StringType column keeping each value's raw JSON
    * token ("5", "true", ...). Pinned coercions (MixedTypesSpec): `$type`
    * answers "string" from the schema; `$sort` compares the string forms —
    * the reference's own mixed-type ordering (aggregation.ts:391-399);
    * truthiness follows the string value, so a widened "0" is truthy
    * (documented divergence from a numeric 0). Missing keys and explicit
    * nulls both ingest as null. */
  def fromJSONL(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** `fromJSONL` over in-memory lines — same inference and coercions. */
  def fromJSONL(spark: org.apache.spark.sql.SparkSession, lines: Seq[String]): DataFrame =
    spark.read.json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))

  /** `fromJSONL` with per-document field presence (reference hasOwnProperty
    * semantics, aggregation.ts:267-271): when `preserveMissing` is true the
    * frame carries a hidden `__present` path set, so `$exists` distinguishes
    * `{a: null}` from `{}` and `$push` skips missing-field documents while
    * keeping explicit nulls. `$ifNull` still treats both as null, as Mongo
    * does. Per-line cost at ingest: one `from_json` parse plus one Jackson
    * presence parse — and, when no `schema` is supplied, a schema-inference
    * scan of the input up front. Large inputs should pass the schema. */
  def fromJSONL(spark: org.apache.spark.sql.SparkSession, path: String,
                preserveMissing: Boolean,
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    if (!preserveMissing) fromJSONL(spark, path)
    else withPresence(spark.read.text(path).toDF("value"),
      schema.getOrElse(fromJSONL(spark, path).schema))

  def fromJSONL(spark: org.apache.spark.sql.SparkSession, lines: Seq[String],
                preserveMissing: Boolean): DataFrame =
    if (!preserveMissing) fromJSONL(spark, lines)
    else {
      val raw = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
      withPresence(raw, fromJSONL(spark, lines).schema)
    }

  private def withPresence(raw: DataFrame,
                           schema: org.apache.spark.sql.types.StructType): DataFrame =
    raw.filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), schema).as("__doc"),
        graft.sources.Presence.presentPathsUdf(col("value")).as(StageTranslator.PresenceCol))
      .select(col("__doc.*"), col(StageTranslator.PresenceCol))

  /** Batching/backpressure knobs for the streaming JSONL loader — the
    * Spark-native analog of the reference's `StreamLoaderOptions`
    * (api-enhancements.ts:90-113):
    *
    *  - `batchSize`/`maxMemoryBytes` bound how much one processing step
    *    swallows; here `maxFilesPerBatch` caps the files pulled per
    *    micro-batch (Structured Streaming's `maxFilesPerTrigger` — the file
    *    source's unit of backpressure);
    *  - `errorStrategy` maps onto Spark's JSON parse modes:
    *    "skip" → DROPMALFORMED (bad lines vanish), "stop" → FAILFAST
    *    (the query errors), "collect" → PERMISSIVE with the raw bad line
    *    kept in a `__corrupt` column for the caller to route;
    *  - `onBatch` is [[forEachJSONLBatch]]'s callback (`foreachBatch`).
    *
    * The JSON file source cannot infer a schema while streaming; when
    * `schema` is None the loader runs one batch-mode inference pass over
    * the files present at start (documented cost — large inputs should
    * pass the schema). */
  final case class StreamLoaderOptions(
      maxFilesPerBatch: Option[Int] = None,
      errorStrategy: String = "skip",
      schema: Option[org.apache.spark.sql.types.StructType] = None) {
    require(Set("skip", "stop", "collect")(errorStrategy),
      s"errorStrategy must be skip|stop|collect, got $errorStrategy")
  }

  /** Streaming JSONL reader over a path/glob: new files appearing under
    * `path` arrive as micro-batches, bounded by
    * [[StreamLoaderOptions.maxFilesPerBatch]]. Returns a streaming frame —
    * compose with [[aggregate]] and `writeStream`, or use
    * [[forEachJSONLBatch]] for the reference's onBatch callback shape. */
  def fromJSONLStream(spark: org.apache.spark.sql.SparkSession, path: String,
                      options: StreamLoaderOptions = StreamLoaderOptions()): DataFrame = {
    val schema = options.schema.getOrElse(spark.read.json(path).schema)
    val reader = spark.readStream
      .schema(options.errorStrategy match {
        case "collect" => schema.add("__corrupt", org.apache.spark.sql.types.StringType)
        case _         => schema
      })
      .option("mode", options.errorStrategy match {
        case "skip"    => "DROPMALFORMED"
        case "stop"    => "FAILFAST"
        case "collect" => "PERMISSIVE"
      })
      .option("columnNameOfCorruptRecord", "__corrupt")
    options.maxFilesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(path)
  }

  /** The reference loader's `onBatch` shape (api-enhancements.ts:105):
    * `onBatch(batchFrame, batchNumber)` per micro-batch, backpressured by
    * [[StreamLoaderOptions.maxFilesPerBatch]]. Blocks until the files
    * present at call time are processed, then returns the (still running)
    * query for the caller to stop or await further files on. */
  def forEachJSONLBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                        checkpointDir: String,
                        options: StreamLoaderOptions = StreamLoaderOptions())
                       (onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = fromJSONLStream(spark, path, options).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => onBatch(batch, batchId) }
      .start()
    q.processAllAvailable()
    q
  }

  /** Reference-API name for building a live collection
    * (`Aggo.createStreamingCollection`, index.ts:91). */
  def createStreamingCollection(spark: org.apache.spark.sql.SparkSession,
                                schema: org.apache.spark.sql.types.StructType,
                                collections: Map[String, DataFrame] = Map.empty): graft.streaming.StreamingCollection =
    new graft.streaming.StreamingCollection(spark, schema, collections)

  /** Time a pipeline end-to-end (reference: Aggo.benchmark,
    * api-enhancements.ts:289): returns (rows, seconds). */
  def benchmark(df: DataFrame, pipelineJson: String,
                collections: Map[String, DataFrame] = Map.empty): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = aggregate(df, pipelineJson, collections).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Only stamp the `_seq` ingest column when the pipeline actually contains
    * an order-sensitive operator — otherwise it would defeat column pruning
    * on the scan. */
  private def needsEncounterOrder(stages: Seq[(String, JValue)]): Boolean = {
    def hasOrderSensitiveAcc(body: JValue): Boolean = body match {
      case JObject(fields) => fields.exists {
        case ("_id", _) => false
        case (_, JObject(List((op, _)))) => Set("$first", "$last", "$push", "$firstN", "$lastN")(op)
        case _ => false
      }
      case _ => false
    }
    val accNeeds = stages.exists {
      case ("$group", body) => hasOrderSensitiveAcc(body)
      case ("$bucket", JObject(fs)) =>
        fs.exists { case ("output", o) => hasOrderSensitiveAcc(o); case _ => false }
      case _ => false
    }
    // $skip/$limit read "current document order" — without a preceding $sort
    // that's the encounter order, which needs the _seq stamp. After a stage
    // that discards row identity ($group & co.) _seq is gone anyway, so only
    // the prefix before such a stage counts.
    val orderDestroying = Set("$group", "$bucket", "$bucketAuto", "$sortByCount",
      "$count", "$facet", "$sample", "$graphLookup")
    var sorted = false
    var destroyed = false
    var skipLimitNeeds = false
    stages.foreach {
      case ("$sort", _) => sorted = true
      case (s, _) if orderDestroying(s) => destroyed = true
      case ("$skip" | "$limit", _) if !sorted && !destroyed => skipLimitNeeds = true
      case _ =>
    }
    accNeeds || skipLimitNeeds
  }
}
