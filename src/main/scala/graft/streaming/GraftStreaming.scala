package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.Aggo

/** Open per-key session state for [[GraftStreaming.statefulSessions]]. */
final case class OpenSession(start: Long, end: Long, n: Long)

/** A finalized session emitted by [[GraftStreaming.statefulSessions]]. */
final case class FinalSession(key: String, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long,
                              duration_ms: Long)

/** Streaming execution of Mongo-style pipelines.
  *
  * The reference's "streaming" is incremental view maintenance over a
  * mutable in-memory collection (/root/reference/src/aggo/streaming.ts:78-120
  * + crossfilter engine). Spark-first mapping (SURVEY §3 entry 3):
  *
  *  - **append-only streams** → Structured Streaming: the same stage
  *    translator emits a streaming plan; `$group` becomes a stateful
  *    streaming aggregation (update/complete mode), `$match`/`$project`/
  *    `$addFields`/`$unwind` are stateless and run in append mode.
  *    Blocking stages (`$sort`/`$limit`/`$skip`/`$facet`) are rejected by
  *    Spark's unsupported-operation checker, matching their unbounded-stream
  *    semantics.
  *  - **removals / live collections** → [[StreamingCollection]]: recompute
  *    on mutation, which is exactly the reference's own fallback when a plan
  *    cannot decrement (streaming.ts:659-672). True retraction for
  *    sum/count/avg can later ride a weighted-CDC aggregation (SURVEY §7.4.5).
  */
object GraftStreaming {

  /** Translate a pipeline over a streaming DataFrame. The caller picks the
    * output mode: "update"/"complete" when the pipeline aggregates,
    * "append" otherwise. */
  def aggregate(stream: DataFrame, pipelineJson: String,
                collections: Map[String, DataFrame] = Map.empty): DataFrame =
    Aggo.aggregate(stream, pipelineJson, collections)

  /** Event-time tumbling/sliding window aggregation with watermarking —
    * an extension beyond the reference (it has no event-time windows,
    * SURVEY §2.6). Accumulators use the same `$group` syntax. */
  def windowedAggregate(stream: DataFrame, tsCol: String, windowDuration: String,
                        slide: Option[String], watermark: String,
                        groupJson: String): DataFrame = {
    val fields = org.json4s.jackson.JsonMethods.parse(groupJson) match {
      case org.json4s.JObject(fs) => fs.filterNot(_._1 == "_id")
      case other => throw graft.model.GraftException(s"group spec must be an object, got $other")
    }
    implicit val ec: graft.exprs.ExprCtx =
      graft.exprs.ExprCtx(Some(stream), rootCols = stream.columns.toSeq)
    val aggs = fields.map { case (name, spec) =>
      val (op, arg) = spec match {
        case org.json4s.JObject(List((o, a))) if o.startsWith("$") => (o, a)
        case _ => throw graft.model.GraftException(s"accumulator for '$name' must be a $$-operator")
      }
      graft.stages.StageTranslator.accumulator(op, arg, None).as(name)
    }
    val win = slide match {
      case Some(s) => window(col(tsCol), windowDuration, s)
      case None    => window(col(tsCol), windowDuration)
    }
    stream.withWatermark(tsCol, watermark)
      .groupBy(win.as("window"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Batch-sizing / backpressure control — the Spark-first mapping of the
    * reference's adaptive delta batching (streaming-delta-optimizer.ts:1-60,
    * adaptive batch size + latency targets). Spark's micro-batch engine owns
    * admission and backpressure; the levers it actually exposes are the
    * trigger cadence and per-source rate limits, so that is the surface:
    *
    *  - `latencyTargetMs` → a ProcessingTime trigger at half the target:
    *    a batch admitted every t/2 leaves t/2 of budget for processing, the
    *    static analogue of the reference's P99-targeted batch resizing;
    *  - `maxRowsPerBatch` → per-source rate-limit reader options
    *    (`maxOffsetsPerTrigger` for Kafka, `maxFilesPerTrigger` for file
    *    sources — files are the unit Spark admits there);
    *  - `availableNow` → drain-the-backlog-then-stop batch mode.
    */
  final case class Batching(latencyTargetMs: Option[Long] = None,
                            maxRowsPerBatch: Option[Long] = None,
                            availableNow: Boolean = false) {
    def trigger: org.apache.spark.sql.streaming.Trigger = {
      import org.apache.spark.sql.streaming.Trigger
      if (availableNow) Trigger.AvailableNow()
      else latencyTargetMs match {
        case Some(t) => Trigger.ProcessingTime(math.max(t / 2, 1L))
        case None    => Trigger.ProcessingTime(0L) // as-fast-as-possible
      }
    }
    /** Reader options implementing `maxRowsPerBatch` for a source format. */
    def readerOptions(sourceFormat: String): Map[String, String] =
      maxRowsPerBatch match {
        case None => Map.empty
        case Some(n) => sourceFormat.toLowerCase match {
          case "kafka" => Map("maxOffsetsPerTrigger" -> n.toString)
          case "parquet" | "json" | "csv" | "text" | "orc" =>
            // file sources admit whole files; approximate with one file per
            // batch step and document the unit difference
            Map("maxFilesPerTrigger" -> math.max(n, 1L).toString)
          case _ => Map.empty
        }
      }
  }

  /** Streaming exact deduplication on `keyCols`. With `boundedState` (the
    * default) duplicate suppression only spans the watermark horizon —
    * Spark evicts per-key state once the watermark passes, so state stays
    * bounded on an unbounded stream (the only safe configuration at corpus
    * scale). `boundedState = false` keeps every key forever: exact global
    * dedup, state grows with distinct keys — reserve it for bounded
    * backfills. Append-mode output either way. */
  def dedupExact(stream: DataFrame, keyCols: Seq[String], tsCol: String,
                 watermark: String, boundedState: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "dedupExact needs at least one key column")
    val wm = stream.withWatermark(tsCol, watermark)
    if (boundedState) wm.dropDuplicatesWithinWatermark(keyCols)
    else wm.dropDuplicates(keyCols)
  }

  /** Streaming incremental ingest dedup: every micro-batch is deduped
    * against the accumulated parquet store at `storePath` (exact
    * content-hash tier, plus the MinHash near-dup tier when `nearThreshold`
    * is set) and the survivors are written to the store — so the store
    * converges to one copy of every distinct (or near-distinct) document
    * across the whole stream. Read the result with
    * [[graft.ext.Dedup.readStore]] (the store is a set of per-batch
    * subdirectories, not a flat parquet dir).
    *
    * Each micro-batch writes `batch-<batchId>/` subdirectories keyed by the
    * streaming batch id, so the at-least-once `foreachBatch` contract is
    * idempotent: a retried batch overwrites its own directory and its own
    * partial output is excluded from the read set (see
    * [[graft.ext.Dedup.ingestStep]] for the full layout and crash-ordering
    * contract). Per-batch cost is bounded: the exact tier reads only the
    * store's content column (column-pruned scan, hash anti-join), and the
    * near tier never re-shingles the store — survivors' MinHash signatures
    * accumulate in `storePath + "_sigs"` and each batch band-joins only its
    * own signatures against it. State is the two stores — nothing
    * driver-side. */
  /** `autoCompactMaxDirs`: when set, the sink runs
    * [[graft.ext.Dedup.autoCompactIngestStore]] after any micro-batch that
    * leaves the store holding at least that many batch dirs — the
    * between-batches maintenance window is single-writer by construction
    * (foreachBatch is serial per query), so a weeks-long stream keeps a
    * bounded dir/file count instead of accumulating one dir per
    * micro-batch until an operator remembers. Survivorship is unchanged
    * (the swap is superset-safe at every crash point — see the
    * auto-compact scaladoc). */
  def incrementalDedupSink(stream: DataFrame, idCol: String, contentCol: String,
                           storePath: String, checkpointDir: String,
                           queryName: String = "graft-incr-dedup",
                           nearThreshold: Option[Double] = None,
                           shingleSize: Int = 3, numHashes: Int = 64,
                           bands: Int = 16,
                           autoCompactMaxDirs: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    stream.writeStream.queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Dedup.ingestStep(batch, idCol, contentCol, storePath,
          nearThreshold, shingleSize, numHashes, bands,
          batchTag = Some(batchId.toString))
        autoCompactMaxDirs.foreach(m => graft.ext.Dedup.autoCompactIngestStore(
          batch.sparkSession, storePath, contentCol, m))
        ()
      }
      .start()
  }

  /** Streaming observability: one [[graft.ext.Corpus.manifest]] row set
    * per micro-batch, tagged with `batch_id`, appended to `outPath` — the
    * reproducibility receipt stream of an unbounded ingest (what arrived,
    * per shard, with an order-insensitive content fingerprint). Each batch
    * writes to a path nothing in this plan reads, so there is no
    * recache-on-append hazard; foreachBatch is at-least-once, so a crashed
    * batch can append its receipt twice — readers should keep one row set
    * per (batch_id, shard), e.g. `dropDuplicates("batch_id", shardCols)`. */
  def manifestSink(stream: DataFrame, idCol: String, contentCol: String,
                   shardCols: Seq[String], outPath: String,
                   checkpointDir: String,
                   queryName: String = "graft-manifest")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Corpus.manifest(batch, idCol, contentCol, shardCols)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
        ()
      }
      .start()

  /** Streaming corpus curation: [[incrementalDedupSink]] with the quality
    * tiers in front — each micro-batch is gated (minimum
    * [[graft.ext.TextFunctions.qualityScore]], optional Gopher rules,
    * optional LM perplexity ceiling against a static
    * [[graft.ext.LanguageModel.ngramCounts]] frame), then deduped against
    * the accumulated store. The production shard-ingest shape: junk never
    * reaches the dedup joins, the store converges to one copy of every
    * distinct clean document.
    *
    * The `lm` counts frame is static reference data (CCNet trains it once
    * on a high-quality corpus); every micro-batch replans its scoring
    * joins, so pass it persisted. `decontamBloom` is a prebuilt
    * [[graft.ext.Decontamination.evalGramBloom]] `(bytes, n)` — build it
    * once from the eval set before starting the stream; each micro-batch
    * probes it scan-side (codegen `might_contain`, no join) and drops
    * contaminated documents. Bloom false positives only ever drop CLEAN
    * documents — nothing contaminated leaks past the gate. `customGate`
    * plugs any further batch-tier transform into the gate chain (fuzzy
    * decontamination against a static eval frame, a classifier filter,
    * span removal) — it runs after the built-in tiers, must preserve
    * `idCol`/`contentCol`, and must be stateless across batches. Store
    * layout, retry idempotence and crash ordering are
    * [[graft.ext.Dedup.ingestStep]]'s contract, unchanged — every gate
    * tier is stateless and commutes with retries.
    *
    * `funnelPath` opts into per-batch funnel receipts: one
    * [[graft.ext.Corpus.curateFunnel]]-shaped row set per micro-batch
    * (`tier_idx, tier, rows, dropped, drop_ratio` + `batch_id`), appended
    * after the batch's store write — the "where did this shard's documents
    * go?" record, per batch, with the post-dedup survivor count as the
    * final `dedup_store` tier. Counting costs one extra action per active
    * tier per batch (the micro-batch is pinned for the duration so the
    * per-tier counts replay cheap cached scans, not the source); like the
    * manifest receipts, a retried batch can append its rows twice —
    * readers keep one row set per (batch_id, tier). */
  /** The per-batch gate chain of [[curatedIngestSink]], factored out so the
    * plan audit (GatePlanSpec) inspects the SAME frames the sink executes,
    * not a reconstruction. Returns the named tier frames in order —
    * `input` first, each subsequent tier derived from the previous — and
    * the last frame is what [[graft.ext.Dedup.ingestStep]] ingests; the
    * names double as the funnel-receipt tier labels. */
  private[graft] def curatedGateStages(batch: DataFrame, idCol: String,
      contentCol: String, minQuality: Double, gopherRules: Boolean,
      lm: Option[(DataFrame, Int, Double)],
      decontamBloom: Option[(Array[Byte], Int)],
      customGate: Option[DataFrame => DataFrame]): Vector[(String, DataFrame)] = {
    var stages = Vector[(String, DataFrame)]("input" -> batch)
    var b = batch.filter(
      graft.ext.TextFunctions.qualityScore(col(contentCol)) > minQuality)
    stages :+= ("quality" -> b)
    if (gopherRules) {
      b = b.filter(graft.ext.TextFunctions.gopherPass(col(contentCol)))
      stages :+= ("gopher" -> b)
    }
    lm.foreach { case (counts, order, maxPpl) =>
      b = graft.ext.LanguageModel.perplexityFilter(
        b, idCol, contentCol, counts, order, maxPpl).drop("ppl")
      stages :+= ("lm_filter" -> b)
    }
    decontamBloom.foreach { case (bloom, n) =>
      val bad = graft.ext.Decontamination.flagContaminatedBloom(
        b, idCol, contentCol, bloom, n, minHits = 1)
        .filter(col("contaminated")).select(col(idCol))
      b = b.join(bad, Seq(idCol), "left_anti")
      stages :+= ("decontam_bloom" -> b)
    }
    // escape hatch: plug ANY batch-tier op into the streaming gate
    // (fuzzy decontamination, a classifier filter, span removal...).
    // Contract: a row-filtering/rewriting transform of the batch frame;
    // it must keep idCol + contentCol and stay stateless across batches
    // (per-batch retries replay it).
    customGate.foreach { g =>
      b = g(b)
      stages :+= ("custom_gate" -> b)
    }
    stages
  }

  /** Streaming vector-index maintenance — the embedding-side counterpart
    * of [[incrementalDedupSink]]: every micro-batch of (id, embedding)
    * rows is assigned to the store's frozen coarse quantizer (the first
    * batch trains it) and appended to the IVF store at `path` via
    * [[graft.ext.Similarity.ivfIngestStep]], whose per-batch-directory
    * layout makes the at-least-once `foreachBatch` contract idempotent.
    * Read the accumulated index with [[graft.ext.Similarity.loadIvfStore]]
    * and probe with the probe-only `ivfTopK` overload — a training-data
    * pipeline embeds documents as they are curated, and this keeps the
    * ANN index current without ever rebuilding it.
    *
    * @param autoCompactMaxDirs when set, the sink runs
    *        [[graft.ext.Similarity.autoCompactIvfStore]] after any
    *        micro-batch that leaves the store holding at least that many
    *        index dirs — the same between-batches single-writer
    *        maintenance window the dedup sink uses, with the
    *        manifest-resumable swap the ANN store needs (probe results
    *        unchanged; a crashed swap is finished by the next batch's
    *        hook before anything else touches the store). */
  def vectorIndexSink(stream: DataFrame, idCol: String, vecCol: String,
                      path: String, checkpointDir: String, nlist: Int = 256,
                      queryName: String = "graft-vector-index",
                      autoCompactMaxDirs: Option[Int] = None):
      org.apache.spark.sql.streaming.StreamingQuery = {
    // the quantizer is FROZEN after the bootstrap batch, so the sink feeds
    // each call's returned centroids back as the next call's cache — the
    // steady-state batch skips the per-batch parquet-load job of an
    // immutable model. foreachBatch is serial per query, so the plain var
    // is single-writer by construction; a restarted query just reloads
    // once on its first batch.
    var model: Array[Array[Double]] = null
    stream.writeStream.queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        model = graft.ext.Similarity.ivfIngestStep(batch, idCol, vecCol, path,
          nlist, batchTag = Some(batchId.toString), cachedModel = Option(model))
        autoCompactMaxDirs.foreach(m =>
          graft.ext.Similarity.autoCompactIvfStore(batch.sparkSession, path, m))
        ()
      }
      .start()
  }

  def curatedIngestSink(stream: DataFrame, idCol: String, contentCol: String,
                        storePath: String, checkpointDir: String,
                        queryName: String = "graft-curated-ingest",
                        minQuality: Double = 0.6,
                        gopherRules: Boolean = false,
                        lm: Option[(DataFrame, Int, Double)] = None,
                        decontamBloom: Option[(Array[Byte], Int)] = None,
                        customGate: Option[DataFrame => DataFrame] = None,
                        nearThreshold: Option[Double] = None,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        bands: Int = 16,
                        funnelPath: Option[String] = None,
                        autoCompactMaxDirs: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    stream.writeStream.queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // receipts re-count every tier, whose lineages all re-derive from
        // the batch — pin it so those counts replay a cached scan instead
        // of re-executing the source read once per tier
        val batch = if (funnelPath.isDefined) batch0.persist() else batch0
        try {
        val stages = curatedGateStages(batch, idCol, contentCol, minQuality,
          gopherRules, lm, decontamBloom, customGate)
        val b = stages.last._2
        graft.ext.Dedup.ingestStep(b, idCol, contentCol, storePath,
          nearThreshold, shingleSize, numHashes, bands,
          batchTag = Some(batchId.toString))
        funnelPath.foreach { fp =>
          // survivors = exactly what ingestStep just wrote for this batch
          // (its tag is deterministic from batchId, same sanitization).
          // Read BEFORE any auto-compaction can fold the dir away.
          val survivors = batch.sparkSession.read.parquet(s"$storePath/batch-$batchId")
          graft.ext.Corpus.funnelRows(stages :+ ("dedup_store" -> survivors))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(fp)
        }
        autoCompactMaxDirs.foreach(m => graft.ext.Dedup.autoCompactIngestStore(
          batch.sparkSession, storePath, contentCol, m))
        ()
        } finally if (funnelPath.isDefined) batch.unpersist()
      }
      .start()
  }

  /** Gap-based sessionization with custom per-key state — the
    * `flatMapGroupsWithState` tier under [[graft.ext.Sessions
    * .streamingSessionCounts]]'s native `session_window`. Where
    * `session_window` can only aggregate, this operator owns the session
    * lifecycle: sessions closed *within* a batch (a later event arrives
    * more than `gap` after the open session's end) are emitted immediately,
    * and the last open session is finalized by an event-time timeout once
    * the watermark passes its end + gap — so the output stream contains
    * exactly one append-mode row per completed session.
    *
    * State per key is one `OpenSession` (start, end, count) — O(keys held
    * inside the watermark horizon), the same bound as any watermarked
    * streaming aggregation. */
  def statefulSessions(events: DataFrame, keyCol: String, tsCol: String,
                       gap: String, watermark: String): Dataset[FinalSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = scala.concurrent.duration.Duration(gap).toMillis
    require(gapMs > 0, s"gap must be positive, got $gap")
    // watermark AFTER the projection — casting a watermarked column mints a
    // new attribute and silently drops the watermark tag
    val typed = events
      .select(col(keyCol).cast("string").as("key"), col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, FinalSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state) =>
          def finalize(s: OpenSession) = FinalSession(key,
            new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end),
            s.n, s.end - s.start)
          if (state.hasTimedOut) {
            // watermark passed end + gap: no in-flight event can extend it
            val out = state.getOption.map(finalize).toSeq
            state.remove()
            out.iterator
          } else {
            val ts = rows.map(_._2.getTime).toArray.sorted
            val closed = ArrayBuffer[OpenSession]()
            var cur = state.getOption.orNull
            for (t <- ts) cur match {
              case null => cur = OpenSession(t, t, 1)
              case s if t <= s.end + gapMs =>
                cur = OpenSession(math.min(s.start, t), math.max(s.end, t), s.n + 1)
              case s =>
                closed += s
                cur = OpenSession(t, t, 1)
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.end + gapMs)
            }
            closed.map(finalize).iterator
          }
      }
  }

  /** Start a streaming pipeline run with batching control applied — the
    * `writeStream` boilerplate the reference hides behind its delta
    * optimizer. `sinkFormat` "memory" (dev/test, query-named), or any file
    * sink format with `path`. Returns the running query; callers own its
    * lifecycle. */
  def start(out: DataFrame, queryName: String, outputMode: String,
            batching: Batching = Batching(),
            sinkFormat: String = "memory", path: Option[String] = None,
            checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // rate limits are SOURCE options — they must be applied at readStream
    // time via readerOptions(); refusing beats silently ignoring the cap
    if (batching.maxRowsPerBatch.isDefined)
      throw graft.model.GraftException(
        "maxRowsPerBatch is a source-side limit: apply Batching.readerOptions(format) " +
          "to the readStream options; start() only controls the trigger")
    var w = out.writeStream.format(sinkFormat).queryName(queryName)
      .outputMode(outputMode).trigger(batching.trigger)
    path.foreach(p => w = w.option("path", p))
    checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    w.start()
  }
}

/** Adaptive mutation batching for [[StreamingCollection]] — the live-
  * collection analogue of the reference's delta-batch optimizer
  * (streaming-delta-optimizer.ts:1-60: adaptive batch sizing against a
  * latency target). Incoming documents are buffered and applied as one bulk
  * mutation; each flush's observed cost feeds an EWMA of per-document
  * recompute time, and the next batch is sized to `targetMs`:
  *
  *   batch = clamp(targetMs / ewmaPerDocCost, minBatch, maxBatch)
  *
  * so a cheap pipeline converges to near-per-document latency while an
  * expensive one automatically coarsens its batches instead of falling
  * behind. (The unbounded-stream path doesn't need this: Spark's
  * micro-batch engine owns admission there — see [[GraftStreaming.Batching]].)
  *
  * `clock` is injectable for deterministic tests. */
final class AdaptiveBatcher(coll: StreamingCollection, targetMs: Long = 100,
                            initialBatch: Int = 64, minBatch: Int = 1,
                            maxBatch: Int = 65536,
                            clock: () => Long = () => System.nanoTime()) {
  require(targetMs > 0 && initialBatch > 0 && minBatch > 0 && maxBatch >= minBatch,
    s"invalid batcher config: targetMs=$targetMs initial=$initialBatch min=$minBatch max=$maxBatch")
  private val pending = ArrayBuffer[Row]()
  private var batchSize = math.min(math.max(initialBatch, minBatch), maxBatch)
  private var ewmaPerDocNs = 0.0

  /** Queue one document; flushes when the current batch size is reached. */
  def add(row: Row): Unit = synchronized {
    pending += row
    if (pending.size >= batchSize) flush()
  }

  /** Apply all queued documents as one bulk mutation and re-size the next
    * batch from the observed cost. */
  def flush(): Unit = synchronized {
    if (pending.nonEmpty) {
      val n = pending.size
      val t0 = clock()
      coll.addBulk(pending.toSeq)
      val dt = math.max(clock() - t0, 0L)
      pending.clear()
      val perDoc = dt.toDouble / n
      ewmaPerDocNs = if (ewmaPerDocNs == 0.0) perDoc else 0.7 * ewmaPerDocNs + 0.3 * perDoc
      batchSize = math.max(minBatch,
        math.min(maxBatch.toLong, (targetMs * 1e6 / math.max(ewmaPerDocNs, 1.0)).toLong).toInt)
    }
  }

  def currentBatchSize: Int = synchronized(batchSize)
  def pendingCount: Int = synchronized(pending.size)
}

/** Incrementally-maintainable aggregation over a change stream — the
  * weighted-CDC design SURVEY §7.4.5 reserves for the retraction path.
  *
  * Input is a delta frame: each row is a document plus a sign column
  * (+1 insert, −1 delete). Accumulators that are **algebraic under
  * retraction** translate to sign-weighted aggregates:
  * `$sum e` → Σ sign·e, `$count` → Σ sign, `$avg` → Σ sign·e / Σ sign.
  * Groups whose live count reaches zero disappear, matching the reference's
  * empty-group deletion (crossfilter-operators.ts:197-306). `$min/$max/$push`
  * need ref-counted multiset state (crossfilter-ivm.ts:129-166) and are
  * rejected — use [[StreamingCollection]] recompute for those.
  *
  * Works identically on batch delta frames and on streaming frames (run
  * with outputMode "update"/"complete"); state is Spark's streaming
  * aggregation store, so this scales like any streaming groupBy.
  */
object Cdc {

  /** The group spec's `_id` expression, its accumulator fields, and the
    * context both delta aggregations translate them in (every delta
    * column but the sign). */
  private def parseGroup(deltas: DataFrame, signCol: String, groupJson: String) = {
    import org.json4s._
    val fields = org.json4s.jackson.JsonMethods.parse(groupJson) match {
      case JObject(fs) => fs
      case other       => throw graft.model.GraftException(s"group spec must be an object, got $other")
    }
    val idExpr = fields.collectFirst { case ("_id", v) => v }
      .getOrElse(throw graft.model.GraftException("delta aggregation requires _id"))
    (idExpr, fields.filterNot(_._1 == "_id"),
      graft.exprs.ExprCtx(Some(deltas), rootCols = deltas.columns.toSeq.filterNot(_ == signCol)))
  }

  def aggregateDeltas(deltas: DataFrame, signCol: String, groupJson: String): DataFrame = {
    import org.json4s._
    val (idExpr, accFields, ctx) = parseGroup(deltas, signCol, groupJson)
    implicit val ec: graft.exprs.ExprCtx = ctx
    val sign = col(signCol)
    val accs = accFields.map {
      case (name, JObject(List(("$sum", JInt(i))))) if i == 1 =>
        sum(sign).as(name)
      case (name, JObject(List(("$sum", arg)))) =>
        sum(sign * graft.exprs.ExprTranslator.translate(arg)).as(name)
      case (name, JObject(List(("$count", _)))) =>
        sum(sign).as(name)
      case (name, JObject(List(("$avg", arg)))) =>
        (sum(sign * graft.exprs.ExprTranslator.translate(arg)) / sum(sign)).as(name)
      case (name, JObject(List((op, _)))) =>
        throw graft.model.GraftException(
          s"accumulator $op is not algebraic under retraction ($name); " +
            "use Cdc.multisetDeltas ($min/$max/$addToSet/$push) or StreamingCollection recompute")
      case (name, other) =>
        throw graft.model.GraftException(s"accumulator for '$name' must be a $$-operator object, got $other")
    }
    val live = sum(sign).as("__live")
    val grouped = deltas
      .groupBy(graft.exprs.ExprTranslator.translate(idExpr).as("_id"))
      .agg(accs.head, (accs.tail :+ live): _*)
    grouped.filter(col("__live") > 0).drop("__live")
  }

  /** Ref-counted multiset retraction for the NON-algebraic accumulators —
    * the Spark equivalent of the reference's per-group multisets
    * (crossfilter-ivm.ts:129-166). Two-level aggregation, fully
    * declarative: level 1 nets the delta stream into a count per
    * (group, value); level 2 keeps values whose net count is positive and
    * folds them into the accumulator. A deleted minimum therefore yields
    * the next-smallest survivor without replaying history.
    *
    * `$min`/`$max`/`$addToSet` have exact Mongo semantics; `$push` returns
    * the surviving multiset in sorted order with multiplicity (encounter
    * order is not recoverable under retraction — documented divergence;
    * the reference's IVM path has the same limitation).
    *
    * Run on batch delta frames or per-microbatch via foreachBatch (chained
    * stateful aggregations are not available in update mode). */
  def multisetDeltas(deltas: DataFrame, signCol: String, groupJson: String): DataFrame = {
    import org.json4s._
    val (idExpr, accFields, ctx) = parseGroup(deltas, signCol, groupJson)
    implicit val ec: graft.exprs.ExprCtx = ctx
    val idCol = graft.exprs.ExprTranslator.translate(idExpr).as("_id")
    val sign = col(signCol)

    // live groups (empty-group deletion, as in aggregateDeltas)
    val liveGroups = deltas.groupBy(idCol).agg(sum(sign).as("__live"))
      .filter(col("__live") > 0).select(col("_id"))

    val parts: Seq[DataFrame] = accFields.map {
      case (name, JObject(List((op, arg)))) =>
        val value = graft.exprs.ExprTranslator.translate(arg)
        val ms = deltas.groupBy(idCol, value.as("__v"))
          .agg(sum(sign).as("__cnt")).filter(col("__cnt") > 0)
        op match {
          case "$min"      => ms.groupBy(col("_id")).agg(min(col("__v")).as(name))
          case "$max"      => ms.groupBy(col("_id")).agg(max(col("__v")).as(name))
          case "$addToSet" => ms.groupBy(col("_id")).agg(array_sort(collect_set(col("__v"))).as(name))
          case "$push" =>
            ms.groupBy(col("_id")).agg(
              flatten(transform(
                array_sort(collect_list(struct(col("__v").as("v"), col("__cnt").as("c")))),
                s => array_repeat(s.getField("v"), s.getField("c").cast("int")))).as(name))
          case other => throw graft.model.GraftException(
            s"multisetDeltas supports $$min/$$max/$$addToSet/$$push, got $other ($name)")
        }
      case (name, other) =>
        throw graft.model.GraftException(s"accumulator for '$name' must be a $$-operator object, got $other")
    }
    parts.foldLeft(liveGroups)((acc, p) => acc.join(p, Seq("_id"), "left"))
  }
}

/** Live collection with `add`/`addBulk`/`removeWhere` mutation and
  * re-aggregation — the API analogue of the reference's
  * `createStreamingCollection` (streaming.ts:78-120, index.ts:91).
  *
  * Mutations recompute registered pipelines (the reference's own fallback
  * path when incremental maintenance is impossible) and notify subscribers,
  * mirroring its `result-updated` events (streaming.ts:644-671).
  * Not a cluster-scale primitive — it exists for API parity; unbounded
  * streams belong on [[GraftStreaming.aggregate]].
  */
final class StreamingCollection(spark: SparkSession, schema: StructType,
                                collections: Map[String, DataFrame] = Map.empty) {
  private val rows = ArrayBuffer[Row]()
  private var pipelines = Map.empty[String, String]                    // name -> pipeline json
  private var listeners = List.empty[(String, DataFrame) => Unit]

  def size: Int = synchronized(rows.size)

  def toDF: DataFrame = synchronized {
    spark.createDataFrame(new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  def add(row: Row): Unit = { synchronized(rows += row); fire() }
  def addBulk(bulk: Seq[Row]): Unit = { synchronized(rows ++= bulk); fire() }

  /** Remove every document matching the `$match`-style predicate; returns
    * the number removed (reference: streaming.ts:211-260).
    *
    * SCALE BOUNDARY: the kept set round-trips through the driver
    * (`collect()`), faithful to the reference's in-memory mutable
    * collection and bounded by the rows the caller already chose to hold
    * in this driver-side collection — this surface is for
    * reference-parity workloads, NOT 100-TB frames. Batch pipelines
    * belong on [[Aggo.aggregate]] over parquet-backed frames (the
    * left-anti filter forms in `graft.ext`), unbounded streams on
    * [[GraftStreaming.aggregate]]. Collections above
    * [[StreamingCollection.RemoveWhereWarnRows]] rows log a warning. */
  def removeWhere(matchJson: String): Int = {
    val n = synchronized {
      if (rows.size > StreamingCollection.RemoveWhereWarnRows)
        org.slf4j.LoggerFactory.getLogger(classOf[StreamingCollection]).warn(
          s"removeWhere over ${rows.size} driver-held rows (> " +
            s"${StreamingCollection.RemoveWhereWarnRows}); this API is for " +
            "reference-parity workloads — use the batch/streaming paths at scale")
      val keep = Aggo.aggregate(toDF, s"""[{"$$match": {"$$nor": [$matchJson]}}]""", collections)
        .collect()
      val removed = rows.size - keep.length
      rows.clear(); rows ++= keep
      removed
    }
    fire()
    n
  }

  /** Register a pipeline; returns its current result and recomputes on every
    * mutation (reference: stream(), streaming.ts:514-565). */
  def stream(name: String, pipelineJson: String): DataFrame = {
    synchronized { pipelines += name -> pipelineJson }
    aggregate(pipelineJson)
  }

  def aggregate(pipelineJson: String): DataFrame =
    Aggo.aggregate(toDF, pipelineJson, collections)

  def onUpdate(f: (String, DataFrame) => Unit): Unit =
    synchronized { listeners ::= f }

  private def fire(): Unit = {
    val (ps, ls) = synchronized((pipelines, listeners))
    for ((name, p) <- ps; l <- ls) l(name, aggregate(p))
  }
}

object StreamingCollection {
  /** Row count above which [[StreamingCollection.removeWhere]] logs its
    * driver-materialization warning — a tripwire, not a limit (the API
    * stays correct; it just isn't the scale surface). */
  final val RemoveWhereWarnRows = 1000000
}
