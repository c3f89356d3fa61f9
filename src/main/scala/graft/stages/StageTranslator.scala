package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.exprs.{ExprCtx, ExprTranslator, MatchTranslator}
import graft.exprs.catalyst.GraftFunctions.topK
import graft.model.GraftException

/** One sort key: column path, ascending?. */
final case class SortKey(path: String, asc: Boolean)

/** Pipeline-level translation context threaded through the stage fold.
  *
  * @param collections resolver for `$lookup`/`$unionWith` foreign collections
  * @param order       sort keys established by the most recent `$sort`, used
  *                    by order-sensitive accumulators (`$first/$last/$push`)
  * @param hasSeq      whether the engine-internal `_seq` encounter-order
  *                    column is still present
  */
final case class PipeCtx(
    collections: Map[String, DataFrame] = Map.empty,
    order: Option[Seq[SortKey]] = None,
    hasSeq: Boolean = true,
    /** Per-stage "why this plan" reason codes, collected when explain() asks
      * for them (reference stage analyses, api-enhancements.ts:135-288). */
    notes: Option[scala.collection.mutable.ListBuffer[(Int, String)]] = None,
    stageIdx: Int = -1
) {
  def collection(name: String): DataFrame =
    collections.getOrElse(name, throw GraftException(s"unknown collection '$name' in $$lookup/$$unionWith"))
  def note(msg: String): Unit = notes.foreach(_ += (stageIdx -> msg))
}

/** Translates one pipeline stage into a DataFrame transformation.
  *
  * Mirrors the reference's stage dispatch loop
  * (/root/reference/src/aggo/aggregation.ts:788-852). Where the reference has
  * three hand-rolled engines (hot path / columnar / interpreter), we emit one
  * declarative Catalyst plan: predicate pushdown, column pruning, top-k
  * (TakeOrderedAndProject), constant folding and operator fusion all come
  * from the optimizer (SURVEY §4.1 — every reference rewrite is a Catalyst
  * built-in).
  */
object StageTranslator {

  val SeqCol = "_seq"
  /** Intra-document tiebreak for encounter order: $unwind duplicates a
    * document's `_seq` across its array elements, so element order needs a
    * second key (the array position). */
  val SeqCol2 = "_seq2"
  /** Per-document present-field paths, stamped by
    * `fromJSONL(preserveMissing = true)` (sources/Presence.scala) —
    * lets `$exists` and `$push` distinguish a missing key from an explicit
    * null (reference hasOwnProperty semantics, aggregation.ts:267-271). */
  val PresenceCol = "__present"

  def userCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(c => c == SeqCol || c == SeqCol2 || c == PresenceCol)

  /** Presence test for a field path, when the frame carries `__present`. */
  def presenceOf(df: DataFrame, path: String): Option[Column] =
    if (df.columns.contains(PresenceCol))
      Some(coalesce(array_contains(col(PresenceCol), path), lit(false)))
    else None

  /** Cross-engine-reproducible row key: md5 over ctrl-A-joined string
    * casts with a ctrl-B sentinel per null (concat_ws SKIPS null args, so
    * without the sentinel rows differing only in null position collide).
    * Shared by $sample and ext.Sampling so the determinism recipe an
    * external oracle replays lives in exactly one place. */
  def md5RowKey(cols: Seq[Column]): Column =
    md5(concat_ws("\u0001", cols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*))

  /** Add paths to a presence set (null-safe, deduplicated). */
  def presencePlus(pres: Column, paths: Seq[String]): Column =
    if (paths.isEmpty) pres
    else array_distinct(concat(
      coalesce(pres, array().cast("array<string>")), array(paths.map(lit): _*)))

  /** All dotted struct paths of a schema (arrays not descended), internal
    * columns excluded. */
  private def schemaPaths(schema: StructType, prefix: String = ""): Seq[String] =
    schema.fields.toSeq.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      if (prefix.isEmpty && (f.name == SeqCol || f.name == SeqCol2 || f.name == PresenceCol)) Nil
      else f.dataType match {
        case st: StructType => p +: schemaPaths(st, p)
        case _              => Seq(p)
      }
    }

  /** Per-row presence reconstructed from the data itself: a path is present
    * iff its value is non-null — exactly the default missing→null
    * normalization, expressed as a presence set. Used to stamp frames that
    * join a presence-tracked pipeline without their own ingest presence
    * (e.g. the foreign side of $unionWith). */
  def presenceFromData(df: DataFrame): Column = {
    val paths = schemaPaths(df.schema)
    if (paths.isEmpty) array().cast("array<string>")
    else filter(
      array(paths.map(p => when(col(p).isNotNull, lit(p))): _*), x => x.isNotNull)
  }

  /** After `$unwind` replaced `path`'s array with one element, rebuild that
    * subtree of the presence set from the element's non-null values —
    * per-element presence is not tracked through arrays, and non-null is
    * the normalized equivalent. Makes `$exists`/`$push` on an unwound
    * struct's fields (e.g. a $lookup match) behave sensibly. The path's
    * OWN ingest entry is kept as-is: a null element keeps the field
    * present ({a: null} EXISTS — the pinned hasOwnProperty contract; the
    * cost is that a preserved empty array also reads present, where Mongo
    * removes the field — documented approximation). */
  private def presenceAfterUnwind(df: DataFrame, path: String): DataFrame =
    if (!df.columns.contains(PresenceCol)) df
    else {
      // path was just produced by the explode, so it resolves by construction
      val subPaths: Seq[String] = df.select(col(path)).schema.head.dataType match {
        case st: StructType => path +: schemaPaths(st, path)
        case _              => Seq(path)
      }
      val fresh = filter(
        array(subPaths.map(q => when(col(q).isNotNull, lit(q))): _*), x => x.isNotNull)
      val kept = filter(coalesce(col(PresenceCol), array().cast("array<string>")),
        x => !x.startsWith(path + "."))
      df.withColumn(PresenceCol, array_distinct(concat(kept, fresh)))
    }

  private val RemoveLit = JString("$$REMOVE")

  /** Detect a `$project`/`$addFields` field expression that can yield
    * `$$REMOVE` (reference expressions.ts:453-456): the bare variable
    * (static removal) or a top-level `$cond` with a `$$REMOVE` branch
    * (per-row removal). Returns (value, removed-condition). The value is
    * null on removed rows; when the frame tracks presence the caller also
    * strips the path from `__present`, so `$exists`/`$push` see a genuinely
    * missing field. Deeper `$$REMOVE` occurrences throw in
    * ExprTranslator.variable. */
  private def removeAware(v: JValue)(implicit ec: ExprCtx): Option[(Column, Column)] = v match {
    case RemoveLit => Some((lit(null), lit(true)))
    case JObject(List(("$cond", arg))) =>
      val parts: Option[(JValue, JValue, JValue)] = arg match {
        case JArray(List(i, t, e)) => Some((i, t, e))
        case JObject(fs) => for {
          i <- fs.collectFirst { case ("if", x) => x }
          t <- fs.collectFirst { case ("then", x) => x }
          e <- fs.collectFirst { case ("else", x) => x }
        } yield (i, t, e)
        case _ => None
      }
      parts.flatMap { case (i, t, e) =>
        if (t != RemoveLit && e != RemoveLit) None
        else {
          val c = coalesce(ExprTranslator.truthy(ExprTranslator.translate(i)), lit(false))
          val value =
            if (t == RemoveLit && e == RemoveLit) lit(null)
            else if (t == RemoveLit) when(!c, ExprTranslator.translate(e))
            else when(c, ExprTranslator.translate(t))
          val removed =
            if (t == RemoveLit && e == RemoveLit) lit(true)
            else if (t == RemoveLit) c
            else !c
          Some((value, removed))
        }
      }
    case _ => None
  }

  /** Strip `path` (and its sub-paths) from a presence set on rows where
    * `removed` holds. */
  private def presenceMinus(pres: Column, path: String, removed: Column): Column =
    when(removed, filter(pres, p => !(p === lit(path) || p.startsWith(path + "."))))
      .otherwise(pres)

  private def exprCtx(df: DataFrame): ExprCtx = ExprCtx(Some(df), rootCols = userCols(df))

  /** Pin the current frame to encounter order for order-sensitive stages:
    * a no-op when a $sort is already in effect (its order stands), else an
    * orderBy on the ingest `_seq` when it was stamped. */
  private def encounterOrdered(df: DataFrame, ctx: PipeCtx): DataFrame =
    if (ctx.order.isEmpty && ctx.hasSeq && df.columns.contains(SeqCol)) {
      val keys = col(SeqCol) +:
        (if (df.columns.contains(SeqCol2)) Seq(col(SeqCol2)) else Nil)
      df.orderBy(keys: _*)
    } else df

  def apply(df: DataFrame, name: String, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = name match {
    case "$match" =>
      implicit val ec: ExprCtx = exprCtx(df)
      ctx.note("declarative Filter — eligible predicates are pushed into the scan (see Pushdown)")
      (df.filter(MatchTranslator.translate(body)), ctx)

    case "$project" => project(df, body, ctx)

    case "$addFields" | "$set" =>
      implicit val ec: ExprCtx = exprCtx(df)
      val fields = body match {
        case JObject(fs) => fs
        case _           => throw GraftException(s"$name requires an object")
      }
      // $$REMOVE (reference expressions.ts:453-456): a bare value removes
      // the field statically; a top-level $cond branch removes per-row
      // (null value + presence strip when tracked).
      val (bareRemove, restFields) = fields.partition(_._2 == RemoveLit)
      val removals = scala.collection.mutable.ListBuffer.empty[(String, Column)]
      def fieldValue(path: String, v: JValue): Column = removeAware(v) match {
        case Some((value, removed)) => removals += (path -> removed); value
        case None                   => ExprTranslator.translate(v)
      }
      // Fold field specs in order into one column per top-level name: two
      // nested paths under the same top ({"n.a": 1, "n.b": 2}) chain
      // withField on the SAME base instead of last-wins via a Map, and a
      // later spec legitimately overrides an earlier one, as in Mongo.
      val built = scala.collection.mutable.LinkedHashMap.empty[String, Column]
      restFields.foreach {
        case (path, v) if path.contains('.') =>
          val parts = path.split('.')
          val base = built.getOrElse(parts.head, col(parts.head))
          built(parts.head) = base.withField(parts.tail.mkString("."), fieldValue(path, v))
        case (k, v) => built(k) = fieldValue(k, v)
      }
      // a set field exists afterwards — record it (and its path prefixes)
      // in the presence set when one is being tracked; strip removed paths
      val setPaths = restFields.map(_._1).flatMap { p =>
        val parts = p.split('.'); (1 to parts.length).map(i => parts.take(i).mkString("."))
      }.distinct
      val presCols: Map[String, Column] =
        if (df.columns.contains(PresenceCol)) {
          val unioned = presencePlus(col(PresenceCol), setPaths)
          val afterRemovals = removals.foldLeft(unioned) { case (p, (path, removed)) =>
            presenceMinus(p, path, removed)
          }
          val afterStatic = bareRemove.map(_._1).foldLeft(afterRemovals) { (p, path) =>
            presenceMinus(p, path, lit(true))
          }
          Map(PresenceCol -> afterStatic)
        } else Map.empty
      var out = df.withColumns(built.toMap ++ presCols)
      bareRemove.map(_._1).foreach { p =>
        if (p.contains('.')) {
          val parts = p.split('.')
          if (out.columns.contains(parts.head))
            out = out.withColumn(parts.head, col(parts.head).dropFields(parts.tail.mkString(".")))
        } else out = out.drop(p)
      }
      (out, ctx)

    case "$unset" =>
      val paths = body match {
        case JString(s)   => Seq(s)
        case JArray(vals) => vals.collect { case JString(s) => s }
        case _            => throw GraftException("$unset requires a string or array of strings")
      }
      val (nested, top) = paths.partition(_.contains('.'))
      val afterTop = df.drop(top: _*)
      val out = nested.foldLeft(afterTop) { (d, p) =>
        val parts = p.split('.')
        d.withColumn(parts.head, col(parts.head).dropFields(parts.tail.mkString(".")))
      }
      (out, ctx)

    case "$group" => group(df, body, ctx)

    case "$sort" =>
      val keys = body match {
        case JObject(fs) => fs.map {
          case (f, JInt(d))    => SortKey(f, d >= 0)
          case (f, JDouble(d)) => SortKey(f, d >= 0)
          case (f, other)      => throw GraftException(s"$$sort direction for $f must be 1/-1, got $other")
        }
        case _ => throw GraftException("$sort requires an object")
      }
      val sortCols = keys.map(k => if (k.asc) col(k.path).asc_nulls_first else col(k.path).desc_nulls_last)
      (df.orderBy(sortCols: _*), ctx.copy(order = Some(keys)))

    // $skip/$limit without a preceding $sort are encounter-ordered in Mongo
    // (aggregation.ts:330-352); a bare df.limit/offset is partition-ordered,
    // which drifts after any shuffle. When no sort is in effect and the
    // ingest `_seq` survives, order by it — limit+sort fuses to
    // TakeOrderedAndProject, so this stays scale-safe.
    case "$limit" => body match {
      case JInt(n) => (encounterOrdered(df, ctx).limit(n.toInt), ctx)
      case _       => throw GraftException("$limit requires an integer")
    }

    case "$skip" => body match {
      case JInt(n) => (encounterOrdered(df, ctx).offset(n.toInt), ctx)
      case _       => throw GraftException("$skip requires an integer")
    }

    case "$unwind" => unwind(df, body, ctx)

    case "$lookup" => lookup(df, body, ctx)

    case "$count" =>
      val outName = body match {
        case JString(s) => s
        case _          => throw GraftException("$count requires a string field name")
      }
      (df.agg(count(lit(1)).as(outName)), ctx.copy(order = None, hasSeq = false))

    case "$replaceRoot" | "$replaceWith" =>
      implicit val ec: ExprCtx = exprCtx(df)
      val newRoot = name match {
        case "$replaceRoot" => body match {
          case JObject(fs) => fs.collectFirst { case ("newRoot", v) => v }
            .getOrElse(throw GraftException("$replaceRoot requires newRoot"))
          case _ => throw GraftException("$replaceRoot requires {newRoot: ...}")
        }
        case _ => body
      }
      val c = ExprTranslator.translate(newRoot)
      val keep: Seq[Column] =
        if (ctx.hasSeq && df.columns.contains(SeqCol))
          Seq(SeqCol) ++ (if (df.columns.contains(SeqCol2)) Seq(SeqCol2) else Nil) map col
        else Nil
      val tmp = df.select(keep :+ c.as("__root"): _*)
      val rootT = tmp.schema("__root").dataType match {
        case st: StructType => st
        case other          => throw GraftException(s"$name: newRoot must be a document, got $other")
      }
      (tmp.select(keep ++ rootT.fieldNames.toSeq.map(f => col("__root").getField(f).as(f)): _*), ctx)

    case "$sortByCount" =>
      implicit val ec: ExprCtx = exprCtx(df)
      val c = ExprTranslator.translate(body)
      (df.groupBy(c.as("_id")).agg(count(lit(1)).as("count"))
        .orderBy(col("count").desc, col("_id").asc_nulls_first),
        ctx.copy(order = Some(Seq(SortKey("count", asc = false), SortKey("_id", asc = true))), hasSeq = false))

    case "$unionWith" =>
      val (collName, subPipeline) = body match {
        case JString(s)  => (s, None)
        case JObject(fs) =>
          val coll = fs.collectFirst { case ("coll", JString(s)) => s }
            .getOrElse(throw GraftException("$unionWith requires coll"))
          (coll, fs.collectFirst { case ("pipeline", JArray(p)) => p })
        case _ => throw GraftException("$unionWith requires a string or object")
      }
      val foreignRaw = ctx.collection(collName)
      val foreign = subPipeline match {
        case Some(stages) => graft.Aggo.aggregateParsed(foreignRaw,
          stages.map(graft.model.PipelineParser.stageOf), ctx.collections)
        case None => foreignRaw
      }
      val fSeq0 = foreign.withColumn(SeqCol, monotonically_increasing_id() + lit(Long.MaxValue / 2))
      val fSeq1 = if (df.columns.contains(SeqCol2)) fSeq0.withColumn(SeqCol2, array(lit(0L))) else fSeq0
      // presence-tracked pipeline: the union side keeps its own presence set
      // if it has one, else reconstruct from non-null values — a null
      // `__present` would read as everything-missing on the unioned rows
      val fSeq =
        if (df.columns.contains(PresenceCol) && !fSeq1.columns.contains(PresenceCol))
          fSeq1.withColumn(PresenceCol, presenceFromData(fSeq1))
        else fSeq1
      (df.unionByName(fSeq, allowMissingColumns = true), ctx)

    case "$sample" =>
      val n = body match {
        case JObject(fs) => fs.collectFirst { case ("size", JInt(i)) => i.toInt }
          .getOrElse(throw GraftException("$sample requires {size: n}"))
        case _ => throw GraftException("$sample requires {size: n}")
      }
      ctx.note("deterministic md5 row-hash order + TakeOrderedAndProject (no global sort materialized)")
      // Deterministic seeded sample: order by a hash of the row, take n
      // (TakeOrderedAndProject — scales; no global sort materialized).
      // md5 over a ctrl-A-joined string cast of each column, rather than
      // xxhash64, so an external SQL engine (the DuckDB oracle) can
      // recompute the identical ordering: md5 is universal, xxhash64's
      // seed/variant is Spark-specific. Nulls coalesce to a ctrl-B sentinel
      // (concat_ws SKIPS null arguments, so without it {a:null,b:x} and
      // {a:x,b:null} would collide and tie-break by partition order).
      val sampleKey = md5RowKey(userCols(df).map(col))
      (df.orderBy(sampleKey).limit(n), ctx)

    case "$vectorSearch" =>
      // Mongo 7 $vectorSearch surface (extension): exact cosine scoring of
      // the current frame against a literal query vector, optional
      // Mongo-query pre-filter, top-`limit` by score. Plan: optional
      // pushed-down filter → one codegen scan (native cosine Expression) →
      // TakeOrderedAndProject — no shuffle of the corpus. `numCandidates`
      // and `index` are accepted for surface compatibility; the exact scan
      // ignores them (at corpus scale route through Similarity.ivfTopK /
      // ivfPqTopK and store the cluster id as the bucketing column).
      val fs = body match { case JObject(f) => f; case _ => throw GraftException("$vectorSearch requires an object") }
      val vPath = fs.collectFirst { case ("path", JString(s)) => s }
        .getOrElse(throw GraftException("$vectorSearch requires path"))
      val qvec = fs.collectFirst { case ("queryVector", JArray(xs)) => xs.map {
        case JDouble(d) => d
        case JInt(i)    => i.toDouble
        case other      => throw GraftException(s"$$vectorSearch queryVector must be numeric, got $other")
      }}.getOrElse(throw GraftException("$vectorSearch requires queryVector"))
      val vLimit = fs.collectFirst { case ("limit", JInt(i)) => i.toInt }
        .getOrElse(throw GraftException("$vectorSearch requires limit"))
      val scoreField = fs.collectFirst { case ("scoreField", JString(s)) => s }.getOrElse("search_score")
      val preFilter = fs.collectFirst { case ("filter", o @ JObject(_)) => o }
      ctx.note("exact cosine scan (native codegen expression) + TakeOrderedAndProject; " +
        "ties at the limit boundary are unspecified, as in Mongo")
      implicit val ec: ExprCtx = exprCtx(df)
      val pre = preFilter match {
        case Some(f) => df.filter(graft.exprs.MatchTranslator.translate(f))
        case None    => df
      }
      val vecC = ExprTranslator.translate(JString("$" + vPath))
      val score = graft.exprs.catalyst.GraftFunctions.cosine(vecC, array(qvec.map(lit): _*))
      // deterministic boundary: score ties (duplicate embeddings) are broken
      // by the md5 row key, same device as $sample — Mongo leaves tie order
      // unspecified, but a nondeterministic result SET would flake any
      // downstream comparison
      (pre.withColumn(scoreField, score)
        .orderBy(col(scoreField).desc, md5RowKey(userCols(pre).map(col))).limit(vLimit),
        ctx.copy(order = Some(Seq(SortKey(scoreField, asc = false))), hasSeq = false))

    case "$bucket" => bucket(df, body, ctx)

    case "$bucketAuto" =>
      // Equal-count buckets (extension; Mongo-compatible surface, no
      // granularity series). Numeric keys use a two-pass plan: distributed
      // approx-quantile boundaries (a bounded GK summary — no data funnels
      // through one task) followed by a codegen'd CASE bucket assignment,
      // the same shape $bucket uses. Equal key values always land in the
      // same bucket, as in Mongo. Non-numeric keys compute EXACT equal-count
      // boundaries from the distinct-key frame: per-key counts, a two-pass
      // cumulative sum in key order (local cumsum per range partition +
      // broadcast prefix offsets — no single-task window), then the
      // bounded (buckets-1) boundary keys drive the same CASE assignment.
      implicit val ec: ExprCtx = exprCtx(df)
      val fs = body match { case JObject(f) => f; case _ => throw GraftException("$bucketAuto requires an object") }
      val groupBy0 = fs.collectFirst { case ("groupBy", v) => v }
        .getOrElse(throw GraftException("$bucketAuto requires groupBy"))
      val buckets = fs.collectFirst { case ("buckets", JInt(b)) => b.toInt }
        .getOrElse(throw GraftException("$bucketAuto requires buckets"))
      val outputSpec = fs.collectFirst { case ("output", JObject(o)) => o }
        .getOrElse(List("count" -> JObject(List("$sum" -> JInt(1)))))
      val e = ExprTranslator.translate(groupBy0)
      val keyed = df.withColumn("__ba_key", e)
      val isNumeric = keyed.schema("__ba_key").dataType.isInstanceOf[NumericType]
      // bucket = number of boundaries strictly below the key; null keys
      // (null > b is null → otherwise 0) join the first bucket.
      def caseAssign(bounds: Seq[Any]): Column = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("__ba_key") > lit(b), 1).otherwise(0)
      }
      val tiled =
        if (buckets <= 1) keyed.withColumn("__tile", lit(0))
        else if (isNumeric) {
          ctx.note("approx-quantile boundaries (distributed GK sketch) + codegen CASE assignment")
          val probs = (1 until buckets).map(_.toDouble / buckets).toArray
          val bounds = keyed.na.drop(Seq("__ba_key"))
            .stat.approxQuantile("__ba_key", probs, 1e-4)
            .distinct.sorted
          keyed.withColumn("__tile", caseAssign(bounds))
        } else {
          ctx.note("exact equal-count boundaries via two-pass distinct-key cumulative counts (no global ntile)")
          val counts = keyed.na.drop(Seq("__ba_key"))
            .groupBy(col("__ba_key")).agg(count(lit(1)).as("__n"))
          val cum = twoPassRunningSum(counts,
            Seq(col("__ba_key").asc_nulls_first), col("__n"), "__cum")
          val total = cum.agg(coalesce(sum(col("__n")), lit(0L))).head.getLong(0)
          // threshold t_i = ceil(i·N/buckets); key k is the boundary (last
          // key) of bucket i iff cum(k)-n(k) < t_i ≤ cum(k) — each boundary
          // row found distributed, only buckets-1 values reach the driver.
          val ts = (1 until buckets).map(i =>
            math.ceil(i.toDouble * total / buckets).toLong).distinct
          val isBoundary = ts.map(t => col("__cum") - col("__n") < t && col("__cum") >= t)
            .reduce(_ || _)
          val bounds = cum.filter(isBoundary).orderBy(col("__ba_key").asc)
            .select(col("__ba_key")).collect().map(_.get(0)).toSeq
          try keyed.withColumn("__tile", caseAssign(bounds))
          catch { case _: RuntimeException =>
            throw GraftException("$bucketAuto: groupBy key type not supported (needs an orderable atomic type)")
          }
        }
      val accs = outputSpec.map { case (n, spec) =>
        val (op, arg) = spec match {
          case JObject(List((o, a))) => (o, a)
          case _ => throw GraftException("$bucketAuto output accumulator must be a single operator")
        }
        accumulator(op, arg, None)(exprCtx(tiled)).as(n)
      }
      val aggCols = struct(min(col("__ba_key")).as("min"), max(col("__ba_key")).as("max")).as("_id") +: accs
      val out = tiled.groupBy(col("__tile"))
        .agg(aggCols.head, aggCols.tail: _*)
        .orderBy(col("__tile"))
        .select(col("_id") +: outputSpec.map { case (n, _) => col(n) }: _*)
      (out, ctx.copy(order = None, hasSeq = false))

    case "$facet" => facet(df, body, ctx)

    // $documents (Mongo 5.1): a literal-document source — replaces the input
    // with a frame built from the given array. Mongo requires it first in
    // the pipeline; the same restriction applies here (the incoming frame is
    // discarded, so anywhere else it would silently drop prior stages).
    case "$documents" =>
      if (ctx.stageIdx > 0) throw new graft.model.ValidationError(
        "$documents must be the first stage in the pipeline")
      val docs = body match {
        case JArray(ds) => ds.map(d => org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(d)))
        case _ => throw GraftException("$documents requires an array of documents")
      }
      if (docs.isEmpty) throw GraftException("$documents needs at least one document")
      val frame = graft.Aggo.fromJSONL(df.sparkSession, docs)
        .withColumn(SeqCol, monotonically_increasing_id())
      (frame, ctx.copy(order = None, hasSeq = true))

    case "$rankFusion" => rankFusion(df, body, ctx)

    case "$scoreFusion" => scoreFusion(df, body, ctx)

    case "$setWindowFields" => setWindowFields(df, body, ctx)

    case "$out" =>
      // Sink stage (extension; the reference has no $out — SURVEY §2.2).
      // Eager, like MongoDB's $out: writes the current pipeline result and
      // passes it through unchanged so Verify/callers can still read it.
      val (path, format) = body match {
        case JString(p)  => (p, if (p.endsWith(".json") || p.endsWith(".jsonl")) "json" else "parquet")
        case JObject(fs) =>
          val p = fs.collectFirst { case ("path", JString(s)) => s }
            .getOrElse(throw GraftException("$out requires path"))
          (p, fs.collectFirst { case ("format", JString(f)) => f }.getOrElse("parquet"))
        case _ => throw GraftException("$out requires a path string or {path, format}")
      }
      df.drop(df.columns.filter(c => c == SeqCol || c == SeqCol2 || c == PresenceCol): _*)
        .write.mode("overwrite").format(format).save(path)
      (df, ctx)

    case "$merge" =>
      // Upsert into an existing parquet dataset keyed by `on` (extension).
      // Plan shape: anti-join on the key + union — one shuffle, no driver
      // data movement. The write goes through the target's Hadoop
      // FileSystem (works on HDFS/S3A/local alike): stage the merged result
      // next to the target, then swap by rename. Renames are atomic on
      // HDFS-like filesystems; object stores and multi-writer setups should
      // retarget this stage at a table format's transactional MERGE INTO
      // (Delta/Iceberg) — the join shape carries over unchanged.
      ctx.note("parquet upsert: key anti-join + union, staged write + filesystem rename swap (use a table-format MERGE INTO for transactional multi-writer guarantees)")
      val fs = body match { case JObject(f) => f; case _ => throw GraftException("$merge requires an object") }
      val into = fs.collectFirst { case ("into", JString(s)) => s }
        .getOrElse(throw GraftException("$merge requires into"))
      val on = fs.collectFirst { case ("on", JString(s)) => s }
        .getOrElse(throw GraftException("$merge requires on"))
      val whenMatched = fs.collectFirst { case ("whenMatched", JString(s)) => s }.getOrElse("merge")
      if (!Set("replace", "keepExisting", "merge", "fail")(whenMatched))
        throw new graft.model.ValidationError(
          s"$$merge whenMatched must be replace|keepExisting|merge|fail, got $whenMatched")
      val whenNotMatched = fs.collectFirst { case ("whenNotMatched", JString(s)) => s }.getOrElse("insert")
      if (!Set("insert", "discard", "fail")(whenNotMatched))
        throw new graft.model.ValidationError(
          s"$$merge whenNotMatched must be insert|discard|fail, got $whenNotMatched")
      // Spilled to durable scratch (one eager write, read back as a plain
      // scan) so the dup-key check, the matched/unmatched probes, and the
      // staged write all read ONE materialization of the incoming pipeline.
      // A persist() pin would only narrow the hazard: an evicted block
      // recomputes lineage, and a non-deterministic source could pass the
      // dup-key check yet hand different rows to the write. A scan over an
      // immutable scratch file cannot. The scratch is deleted once the
      // swap completes — a long-running session running many $merge stages
      // must not accumulate a copy of every merge's input until JVM exit.
      val (incoming, scratch) = graft.ext.Dedup.spillWithPath(
        df.drop(df.columns.filter(c => c == SeqCol || c == SeqCol2 || c == PresenceCol): _*),
        "graft-merge-incoming")
      try {
      // Mongo requires a unique index on the on-field(s), so two incoming
      // documents with the same key error instead of racing to modify one
      // target document — mirror that rather than silently fanning matched
      // rows out (inner join) or inserting duplicate keys
      val dupKey = incoming.groupBy(col(on)).count()
        .filter(col("count") > 1).limit(1).collect()
      if (dupKey.nonEmpty) throw new graft.model.ValidationError(
        s"$$merge: incoming documents contain duplicate values of on-field '$on' " +
          s"(e.g. ${dupKey.head.get(0)}); Mongo requires the on-field to be unique")
      val spark = df.sparkSession
      val target = new org.apache.hadoop.fs.Path(into)
      val hfs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val targetExists = hfs.exists(target)
      val merged =
        if (!targetExists) {
          if (whenNotMatched == "fail" && !incoming.isEmpty)
            throw new graft.model.ValidationError(
              s"$$merge whenNotMatched=fail: target $into does not exist, every document is unmatched")
          if (whenNotMatched == "discard") incoming.limit(0) else incoming
        } else {
          val existing = spark.read.parquet(into)
          // Mongo's mode matrix (documented divergence: "merge" is a
          // top-level field merge under the missing→null policy, so an
          // incoming null cannot erase an existing value — Mongo needs
          // $$REMOVE for that anyway)
          val unmatchedNew = whenNotMatched match {
            case "insert"  => incoming.join(existing.select(on), Seq(on), "left_anti")
            case "discard" => incoming.limit(0)
            case "fail" =>
              val stray = incoming.join(existing.select(on), Seq(on), "left_anti")
              if (!stray.isEmpty) throw new graft.model.ValidationError(
                s"$$merge whenNotMatched=fail: incoming documents have no match in $into")
              incoming.limit(0)
          }
          whenMatched match {
            case "keepExisting" => existing.unionByName(unmatchedNew, allowMissingColumns = true)
            case "replace" =>
              incoming.join(existing.select(on), Seq(on), "left_semi")
                .unionByName(existing.join(incoming.select(on), Seq(on), "left_anti"),
                  allowMissingColumns = true)
                .unionByName(unmatchedNew, allowMissingColumns = true)
            case "merge" =>
              // per-field merge on matched keys: incoming's non-null field
              // wins, existing's value survives otherwise; columns unique to
              // either side pass through
              val shared = existing.columns.toSet.intersect(incoming.columns.toSet) - on
              val exOnly = existing.columns.filterNot(c => shared(c) || c == on)
              val inOnly = incoming.columns.filterNot(c => shared(c) || c == on)
              val e = existing.alias("__e")
              val i = incoming.alias("__i")
              val mergedRows = i.join(e, Seq(on), "inner").select(
                col(on) +:
                  (shared.toSeq.sorted.map(c =>
                    coalesce(col(s"__i.$c"), col(s"__e.$c")).as(c)) ++
                    exOnly.map(c => col(s"__e.$c").as(c)) ++
                    inOnly.map(c => col(s"__i.$c").as(c))): _*)
              existing.join(incoming.select(on), Seq(on), "left_anti")
                .unionByName(mergedRows, allowMissingColumns = true)
                .unionByName(unmatchedNew, allowMissingColumns = true)
            case "fail" =>
              if (!incoming.join(existing.select(on), Seq(on), "left_semi").isEmpty)
                throw new graft.model.ValidationError(
                  s"$$merge whenMatched=fail: incoming documents collide with $into on $on")
              existing.unionByName(unmatchedNew, allowMissingColumns = true)
          }
        }
      // Spark cannot overwrite a path it is reading from, so stage + swap.
      val tmp = new org.apache.hadoop.fs.Path(into + ".graft-merge-tmp")
      val old = new org.apache.hadoop.fs.Path(into + ".graft-merge-old")
      merged.write.mode("overwrite").parquet(tmp.toString)
      if (hfs.exists(old)) hfs.delete(old, true)
      if (targetExists && !hfs.rename(target, old))
        throw GraftException(s"$$merge: could not stage-out existing $into")
      if (!hfs.rename(tmp, target)) {
        if (targetExists) hfs.rename(old, target) // restore
        throw GraftException(s"$$merge: could not swap staged result into $into")
      }
      if (hfs.exists(old)) hfs.delete(old, true)
      (spark.read.parquet(into), ctx.copy(order = None, hasSeq = false))
      } finally {
        val sfs = scratch.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        sfs.delete(scratch, true)
      }

    case "$fill" => fill(df, body, ctx)

    case "$densify" => densify(df, body, ctx)

    case "$graphLookup" => graphLookup(df, body, ctx)

    case other => throw GraftException(s"unknown pipeline stage $other")
  }

  /** The exported stage registry: every name [[apply]] dispatches on.
    * DocsDriftSpec keeps this honest in BOTH directions — each entry is
    * probed against the real dispatch (a listed-but-unhandled name would
    * surface as "unknown pipeline stage"), and the docs tables are diffed
    * against it (an undocumented stage, or a documented-but-removed one,
    * fails the spec by name). Keep in the same order as the match arms. */
  val supportedStages: Seq[String] = Seq(
    "$match", "$project", "$addFields", "$set", "$unset", "$group", "$sort",
    "$limit", "$skip", "$unwind", "$lookup", "$count", "$replaceRoot",
    "$replaceWith", "$sortByCount", "$unionWith", "$sample", "$vectorSearch",
    "$bucket", "$bucketAuto", "$facet", "$documents", "$rankFusion",
    "$scoreFusion", "$setWindowFields", "$out", "$merge", "$fill",
    "$densify", "$graphLookup")

  // --------------------------------------------------------------------------
  // $project (aggregation.ts:72-89; expression objects expressions.ts:252-403)
  // --------------------------------------------------------------------------
  private def project(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val fields = body match {
      case JObject(fs) => fs
      case _           => throw GraftException("$project requires an object")
    }
    def isInclude(v: JValue): Boolean = v match {
      case JInt(i)    => i != 0
      case JDouble(d) => d != 0
      case JBool(b)   => b
      case _          => false
    }
    def isExclude(v: JValue): Boolean = v match {
      case JInt(i)    => i == 0
      case JDouble(d) => d == 0.0
      case JBool(b)   => !b
      case _          => false
    }
    // Any non-exclude value (including {_id: 1}) puts the projection in
    // inclusion mode; Mongo default-includes _id in inclusion mode.
    val hasInclusion = fields.exists { case (_, v) => !isExclude(v) }

    if (!hasInclusion) {
      // exclusion mode: drop listed fields
      val (nested, top) = fields.map(_._1).partition(_.contains('.'))
      val out = nested.foldLeft(df.drop(top: _*)) { (d, p) =>
        val parts = p.split('.')
        d.withColumn(parts.head, col(parts.head).dropFields(parts.tail.mkString(".")))
      }
      (out, ctx)
    } else {
      // inclusion mode: build the output column list. Nested include paths
      // are rebuilt as (recursively) nested structs.
      sealed trait Node
      final case class Leaf(c: Column) extends Node
      final class Branch extends Node {
        val children = scala.collection.mutable.LinkedHashMap[String, Node]()
      }
      val root = new Branch
      def insert(node: Branch, parts: List[String], c: Column): Unit = parts match {
        case last :: Nil => node.children(last) = Leaf(c)
        case head :: rest =>
          node.children.getOrElseUpdate(head, new Branch) match {
            case b: Branch => insert(b, rest, c)
            case _: Leaf   => throw GraftException(s"$$project: conflicting paths at $head")
          }
        case Nil => throw GraftException("$project: empty path")
      }
      // Mongo default-includes _id unless explicitly excluded
      if (df.columns.contains("_id") && !fields.exists(_._1 == "_id"))
        insert(root, List("_id"), col("_id"))
      val removals = scala.collection.mutable.ListBuffer.empty[(String, Column)]
      fields.foreach {
        case ("_id", v) if isExclude(v) => // excluded
        case (k, v) if isExclude(v)     => // ignore explicit excludes in inclusion mode
        case (path, v) if isInclude(v)  =>
          // Mongo silently omits an included field that doesn't resolve
          // (missing top-level name or nested path) — same missing→null
          // policy as ExprTranslator.fieldPath, rather than an
          // AnalysisException from col(path).
          if (ec.typeOf(col(path)).isDefined) insert(root, path.split('.').toList, col(path))
        case (_, RemoveLit) => // $$REMOVE as the whole value: statically omitted
        case (path, v) =>
          removeAware(v) match {
            case Some((value, removed)) =>
              removals += (path -> removed) // per-row $$REMOVE via $cond branch
              insert(root, path.split('.').toList, value)
            case None =>
              insert(root, path.split('.').toList, ExprTranslator.translate(v))
          }
      }
      def build(node: Node): Column = node match {
        case Leaf(c)   => c
        case b: Branch => struct(b.children.toSeq.map { case (n, ch) => build(ch).as(n) }: _*)
      }
      val outCols: Seq[Column] = root.children.toSeq.map { case (name, node) => build(node).as(name) }
      val withSeq =
        if (ctx.hasSeq && df.columns.contains(SeqCol))
          outCols ++ (Seq(SeqCol) ++ (if (df.columns.contains(SeqCol2)) Seq(SeqCol2) else Nil)).map(col)
        else outCols
      // presence set travels through projection: fields dropped from the
      // schema become statically missing anyway; computed fields exist in
      // every output document, so union their paths in
      val withPresence =
        if (df.columns.contains(PresenceCol)) {
          val computed = fields.collect {
            case (p, v) if !isInclude(v) && !isExclude(v) && v != RemoveLit =>
              val parts = p.split('.'); (1 to parts.length).map(i => parts.take(i).mkString("."))
          }.flatten.distinct
          val unioned = presencePlus(col(PresenceCol), computed)
          val pres = removals.foldLeft(unioned) { case (p, (path, removed)) =>
            presenceMinus(p, path, removed)
          }.as(PresenceCol)
          withSeq :+ pres
        } else withSeq
      (df.select(withPresence: _*), ctx)
    }
  }

  // --------------------------------------------------------------------------
  // $group (aggregation.ts:541-580; accumulators.ts:20-317)
  // --------------------------------------------------------------------------
  private def group(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val fields = body match {
      case JObject(fs) => fs
      case _           => throw GraftException("$group requires an object")
    }
    val idExpr = fields.collectFirst { case ("_id", v) => v }
      .getOrElse(throw GraftException("$group requires _id"))
    val accs = fields.filterNot(_._1 == "_id")

    val orderSensitive = accs.exists { case (_, spec) => spec match {
      case JObject(List((op, _))) => Set("$first", "$last", "$push", "$firstN", "$lastN")(op)
      case _                      => false
    }}
    // encounterOrder may restamp the frame (two-pass global rank) when the
    // order basis can't be struct-encoded — aggregate over the restamped df.
    val (aggSrc, orderKey) =
      if (orderSensitive) { val (d, k) = encounterOrder(df, ctx); (d, Some(k)) }
      else (df, None)

    val aggCols: Seq[Column] = accs.map { case (outName, spec) =>
      val (op, arg) = spec match {
        case JObject(List((o, a))) if o.startsWith("$") => (o, a)
        case _ => throw GraftException(s"accumulator for '$outName' must be a single $$-operator object")
      }
      accumulator(op, arg, orderKey).as(outName)
    }

    val idCol = ExprTranslator.translate(idExpr).as("_id")
    val out =
      if (aggCols.isEmpty) df.groupBy(idCol).agg(count(lit(1)).as("__cnt")).drop("__cnt")
      else aggSrc.groupBy(idCol).agg(aggCols.head, aggCols.tail: _*)
    (out, ctx.copy(order = None, hasSeq = false))
  }

  /** Scale-safe global running sum of `value` in `orderCols` order:
    * range-partition on the order columns, sum locally per partition, then
    * add broadcast per-partition prefix totals. Two shuffles of the frame's
    * own data, no single-task global Window — the same two-pass recipe
    * `unpartitionedTwoPass` uses for `$setWindowFields`. The prefix window
    * runs over the tiny per-partition stats frame only (bounded by the
    * shuffle partition count). */
  private def twoPassRunningSum(df: DataFrame, orderCols: Seq[Column],
                                value: Column, outName: String): DataFrame = {
    val parted = df.repartitionByRange(orderCols: _*).withColumn("__gp", spark_partition_id())
    val lw = Window.partitionBy(col("__gp")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__grun", sum(value).over(lw).cast(LongType))
    val stats = local.groupBy(col("__gp")).agg(coalesce(sum(value), lit(0L)).as("__ptot"))
    val pw = Window.orderBy(col("__gp")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = stats.select(col("__gp"),
      coalesce(sum(col("__ptot")).over(pw), lit(0L)).as("__poff"))
    local.join(broadcast(offsets), "__gp")
      .withColumn(outName, col("__grun") + col("__poff"))
      .drop("__gp", "__grun", "__poff")
  }

  /** Scale-safe global row number: a two-pass running sum of 1 (the ROWS
    * frame makes the local sum exactly the local row number). */
  private def globalRowNumber(df: DataFrame, orderCols: Seq[Column], outName: String): DataFrame =
    twoPassRunningSum(df, orderCols, lit(1L), outName)

  /** A monotonically-increasing key encoding the current encounter order, for
    * `$first/$last/$push` (accumulators.ts:96-168). After a `$sort` the order
    * is the sort key (ascending-encoded); otherwise the ingest `_seq`.
    * Order bases a struct key can't encode (descending string keys; a lost
    * `_seq`) are restamped onto the frame as a two-pass global row number —
    * returns the (possibly restamped) frame alongside the key column. */
  private def encounterOrder(df: DataFrame, ctx: PipeCtx): (DataFrame, Column) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val RankCol = "__graft_rank"
    // Sort keys may have been projected away since the $sort — only encode
    // keys that still resolve; otherwise fall back to `_seq` (the current
    // frame is still in sorted order, so _seq is NOT the sort order — but a
    // dropped sort column means the user has discarded that ordering basis;
    // Mongo reads "current document order", which the fallback preserves
    // through the row-number restamp).
    val usable = ctx.order.filter(_.forall(k => ec.typeOf(col(k.path)).isDefined))
    usable match {
      case Some(keys) =>
        val encoded: Seq[Option[Column]] = keys.map { k =>
          val c = col(k.path)
          if (k.asc) Some(c)
          else ec.typeOf(c) match {
            case Some(_: NumericType)           => Some(-c)
            case Some(TimestampType)            => Some(-unix_millis(c))
            case Some(DateType)                 => Some(-unix_date(c))
            case _                              => None
          }
        }
        if (encoded.forall(_.isDefined)) {
          val tiebreak =
            if (ctx.hasSeq && df.columns.contains(SeqCol))
              (Seq(SeqCol) ++ (if (df.columns.contains(SeqCol2)) Seq(SeqCol2) else Nil)).map(col)
            else Nil
          ctx.note("encounter order: sort keys struct-encoded into the aggregate (no extra pass)")
          (df, struct(encoded.flatten ++ tiebreak: _*))
        } else {
          val sortCols = keys.map(k => if (k.asc) col(k.path).asc_nulls_first else col(k.path).desc_nulls_last) ++
            (if (ctx.hasSeq && df.columns.contains(SeqCol))
              col(SeqCol) +: (if (df.columns.contains(SeqCol2)) Seq(col(SeqCol2)) else Nil)
            else Nil)
          ctx.note("encounter order: two-pass global-rank restamp (order basis not struct-encodable, e.g. descending string key)")
          (globalRowNumber(df, sortCols, RankCol), col(RankCol))
        }
      case None =>
        if (ctx.hasSeq && df.columns.contains(SeqCol)) {
          if (df.columns.contains(SeqCol2)) (df, struct(col(SeqCol), col(SeqCol2)))
          else (df, col(SeqCol))
        } else {
          ctx.note("encounter order: two-pass restamp over a row fingerprint (ingest _seq not available)")
          (globalRowNumber(df, Seq(to_json(struct(col("*")))), RankCol), col(RankCol))
        }
    }
  }

  /** `$group` accumulator → Spark aggregate Column (accumulators.ts:20-317).
    * All reference accumulators map to Catalyst built-ins (SURVEY §7.3). */
  def accumulator(op: String, arg: JValue, orderKey: Option[Column])(implicit ec: ExprCtx): Column = {
    def e: Column = ExprTranslator.translate(arg)
    op match {
      case "$sum" => arg match {
        case JInt(i) if i == 1 => count(lit(1))
        case _                 => coalesce(sum(e), lit(0))
      }
      // Parity flag (COVERAGE.md): the reference's $avg divides the numeric
      // sum by the GROUP SIZE, yielding 0 for an all-null group
      // (accumulators.ts:90-94); SQL avg divides by the numeric count and
      // yields null. Default follows SQL (it is what the DuckDB oracle and
      // every SQL user expects); set graft.parity.avg=reference to match the
      // reference bit-for-bit.
      case "$avg" =>
        val reference = ec.df.exists(_.sparkSession.conf
          .getOption("graft.parity.avg").contains("reference"))
        if (reference)
          coalesce(sum(e.cast("double")), lit(0.0)) / count(lit(1))
        else avg(e)
      case "$min"          => min(e)
      case "$max"          => max(e)
      case "$count"        => count(lit(1))
      case "$stdDevPop"    => stddev_pop(e)
      case "$stdDevSamp"   => stddev_samp(e)
      case "$variancePop"  => var_pop(e)
      case "$varianceSamp" => var_samp(e)
      case "$first" =>
        orderKey.map(k => min_by(e, k)).getOrElse(first(e, ignoreNulls = false))
      case "$last" =>
        orderKey.map(k => max_by(e, k)).getOrElse(last(e, ignoreNulls = false))
      case "$push" =>
        // Mongo's $push skips a document whose field is MISSING but pushes an
        // explicit null (accumulators.ts:142-163). With a presence set on the
        // frame and a plain field-path argument, guard with it: when() yields
        // a null pair for missing rows and collect_list drops bare nulls.
        val presenceGuard: Option[Column] = arg match {
          case JString(s) if s.startsWith("$") && !s.startsWith("$$") =>
            ec.df.flatMap(presenceOf(_, s.substring(1)))
          case _ => None
        }
        orderKey match {
          case Some(k) =>
            // collect (orderKey, value) pairs, sort by key, strip the key —
            // deterministic encounter order independent of partitioning.
            val pair = struct(k.as("o"), e.as("v"))
            val guarded = presenceGuard.map(g => when(g, pair)).getOrElse(pair)
            transform(array_sort(collect_list(guarded)), x => x.getField("v"))
          case None =>
            collect_list(presenceGuard.map(g => when(g, e)).getOrElse(e))
        }
      case "$addToSet" => array_sort(collect_set(e))
      case "$approxDistinct" => approx_count_distinct(e) // extension: HLL sketch
      // N-variants (extension; Mongo 5.2 surface): every one lowers to the
      // bounded-heap BoundedTopKAggregate — O(k) per-group state for ANY
      // orderable key type (numbers, strings, timestamps, encounter-order
      // structs), where collect_list+slice would buffer the whole group.
      case "$minN" | "$maxN" =>
        val fs = arg match { case JObject(f) => f; case _ => throw GraftException(s"$op requires {input, n}") }
        val in = fs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
          .getOrElse(throw GraftException(s"$op requires input"))
        val n = fs.collectFirst { case ("n", JInt(i)) => i.toInt }
          .getOrElse(throw GraftException(s"$op requires n"))
        topK(in, in, n, smallest = op == "$minN")
      case "$firstN" | "$lastN" =>
        val fs = arg match { case JObject(f) => f; case _ => throw GraftException(s"$op requires {input, n}") }
        val in = fs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
          .getOrElse(throw GraftException(s"$op requires input"))
        val n = fs.collectFirst { case ("n", JInt(i)) => i.toInt }
          .getOrElse(throw GraftException(s"$op requires n"))
        val k = orderKey.getOrElse(throw GraftException(s"$op requires encounter order"))
        if (op == "$firstN") topK(k, in, n, smallest = true)
        // last n, re-reversed back into encounter order
        else reverse(topK(k, in, n, smallest = false))
      // Percentiles (Mongo 7.0 surface; extension). Mongo's default method
      // is approximate t-digest; we use Spark's exact `percentile`/`median`
      // (linear interpolation, same definition DuckDB's quantile_cont uses)
      // — deterministic and oracle-checkable. At extreme cardinalities
      // switch to percentile_approx.
      case "$median" =>
        val fs = arg match { case JObject(f) => f; case _ => throw GraftException("$median requires {input}") }
        val in = fs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
          .getOrElse(throw GraftException("$median requires input"))
        call_function("median", in)
      case "$percentile" =>
        val fs = arg match { case JObject(f) => f; case _ => throw GraftException("$percentile requires {input, p}") }
        val in = fs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
          .getOrElse(throw GraftException("$percentile requires input"))
        val ps = fs.collectFirst { case ("p", JArray(items)) => items.map {
          case JDouble(d) => d
          case JInt(i)    => i.toDouble
          case other      => throw GraftException(s"$$percentile p values must be numeric, got $other")
        }}.getOrElse(throw GraftException("$percentile requires p array"))
        // method "approximate" is Mongo's default (t-digest); here it maps
        // to Spark's percentile_approx sketch — bounded memory at any group
        // size, the right tier at corpus scale. Our default stays "exact"
        // (linear-interpolation definition DuckDB's quantile_cont shares) so
        // the oracle gate is hash-checkable; flip per call when groups are
        // huge. Mongo 7.0 surface: {input, p, method}.
        val method = fs.collectFirst { case ("method", JString(m)) => m }.getOrElse("exact")
        method match {
          case "exact" => call_function("percentile", in, array(ps.map(lit): _*))
          case "approximate" =>
            call_function("percentile_approx", in, array(ps.map(lit): _*), lit(10000))
          case other => throw new graft.model.ValidationError(
            s"$$percentile method must be exact|approximate, got $other")
        }
      // $top/$bottom(/N) (Mongo 5.2 surface; extension): output expression
      // of the first/last document(s) under the accumulator's own sortBy.
      // Bounded heap; desc directions are encoded by numeric/date
      // negation (desc on string keys is not supported here).
      case "$top" | "$bottom" | "$topN" | "$bottomN" =>
        val fs = arg match { case JObject(f) => f; case _ => throw GraftException(s"$op requires {output, sortBy}") }
        val out = fs.collectFirst { case ("output", v) => ExprTranslator.translate(v) }
          .getOrElse(throw GraftException(s"$op requires output"))
        val sortKeys = fs.collectFirst { case ("sortBy", JObject(s)) => s.map {
          case (f, JInt(d)) => SortKey(f, d >= 0)
          case (f, other)   => throw GraftException(s"$op sortBy direction for $f must be 1/-1, got $other")
        }}.getOrElse(throw GraftException(s"$op requires sortBy"))
        val n = fs.collectFirst { case ("n", JInt(i)) => i.toInt }
        if ((op == "$topN" || op == "$bottomN") && n.isEmpty)
          throw GraftException(s"$op requires n")
        val encoded = sortKeys.map { k =>
          val c = ExprTranslator.translate(JString("$" + k.path))
          if (k.asc) c
          else ec.typeOf(c) match {
            case Some(_: NumericType) => -c
            case Some(TimestampType)  => -unix_micros(c)
            case Some(DateType)       => -unix_date(c)
            case other => throw GraftException(s"$op: descending sortBy on ${k.path} ($other) not supported")
          }
        }
        val key = if (encoded.size == 1) struct(encoded.head.as("k0"))
          else struct(encoded.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
        op match {
          case "$top"     => try_element_at(topK(key, out, 1, smallest = true), lit(1))
          case "$bottom"  => try_element_at(topK(key, out, 1, smallest = false), lit(1))
          case "$topN"    => topK(key, out, n.get, smallest = true)
          // bottom n, re-reversed back into sortBy order
          case "$bottomN" => reverse(topK(key, out, n.get, smallest = false))
        }
      case "$mergeObjects" => throw GraftException("$mergeObjects accumulator not supported")
      case other => throw GraftException(s"unknown accumulator $other")
    }
  }

  // --------------------------------------------------------------------------
  // $unwind (aggregation.ts:414-535)
  // --------------------------------------------------------------------------
  private def unwind(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val (path, includeIdx, preserve) = body match {
      case JString(p) => (p.stripPrefix("$"), None, false)
      case JObject(fs) =>
        val p = fs.collectFirst { case ("path", JString(s)) => s.stripPrefix("$") }
          .getOrElse(throw GraftException("$unwind requires path"))
        val idx = fs.collectFirst { case ("includeArrayIndex", JString(s)) => s }
        val pres = fs.collectFirst { case ("preserveNullAndEmptyArrays", JBool(b)) => b }.getOrElse(false)
        (p, idx, pres)
      case _ => throw GraftException("$unwind requires a string path or object")
    }
    // When encounter order is tracked, the array position becomes the
    // intra-document tiebreak `_seq2` — without it every element of one
    // document ties on `_seq` and $limit/$push after $unwind would be
    // partition-order-dependent. `_seq2` is an array<bigint> of positions,
    // one entry per chained $unwind, so the combined order is exactly the
    // reference's lexicographic (outer, inner) element order
    // (aggregation.ts:414-535) at any chain depth — Spark compares arrays
    // lexicographically, so struct(_seq, _seq2) ordering just works.
    val needSeq2 = ctx.hasSeq && df.columns.contains(SeqCol)
    val hadSeq2 = df.columns.contains(SeqCol2)
    def seq2Of(pos: Column): Column = {
      val entry = array(coalesce(pos.cast(LongType), lit(0L)))
      if (hadSeq2) concat(col(SeqCol2), entry) else entry
    }
    if (path.contains('.')) {
      // Nested path at any depth: explode `a.b...z` and substitute the
      // element back at the same path (Mongo keeps the unwound value in
      // place). withField resolves the dotted remainder recursively.
      val parts = path.split('.')
      val (top, sub) = (parts.head, parts.tail.mkString("."))
      val posName = includeIdx.getOrElse("__upos")
      val usePos = includeIdx.isDefined || needSeq2
      val gen = (usePos, preserve) match {
        case (true, true)   => posexplode_outer(col(path)).as(Seq(posName, "__u"))
        case (true, false)  => posexplode(col(path)).as(Seq(posName, "__u"))
        case (false, true)  => explode_outer(col(path)).as("__u")
        case (false, false) => explode(col(path)).as("__u")
      }
      var exploded = df.select(col("*"), gen)
        .withColumn(top, col(top).withField(sub, col("__u")))
        .drop("__u")
      if (needSeq2) exploded = exploded.withColumn(SeqCol2, seq2Of(col(posName)))
      if (usePos && includeIdx.isEmpty) exploded = exploded.drop(posName)
      val withIdx = includeIdx.map(ix => exploded.withColumn(ix, col(ix).cast(LongType)))
        .getOrElse(exploded)
      return (presenceAfterUnwind(withIdx, path), ctx)
    }
    implicit val ec: ExprCtx = exprCtx(df)
    val isArr = ec.typeOf(col(path)) match {
      case Some(_: ArrayType) => true
      case _                  => false
    }
    if (!isArr) {
      // non-array values pass through unchanged; null/missing dropped unless
      // preserved. No row multiplication happens, so an existing `_seq2`
      // stays valid as-is; absent one, position 0 keeps downstream
      // struct(_seq, _seq2) tiebreaks well-typed.
      val out = if (preserve) df else df.filter(col(path).isNotNull)
      val withSeq2 =
        if (needSeq2 && !hadSeq2) out.withColumn(SeqCol2, array(lit(0L))) else out
      val withIdx = includeIdx.map(ix => withSeq2.withColumn(ix, lit(null).cast(LongType))).getOrElse(withSeq2)
      return (withIdx, ctx)
    }
    val originalOrder = df.columns.toSeq
    val others = originalOrder.filterNot(_ == path).map(col)
    val posName = includeIdx.getOrElse("__upos")
    val usePos = includeIdx.isDefined || needSeq2
    var exploded = (usePos, preserve) match {
      case (true, true)   => df.select(others :+ posexplode_outer(col(path)).as(Seq(posName, path)): _*)
      case (true, false)  => df.select(others :+ posexplode(col(path)).as(Seq(posName, path)): _*)
      case (false, true)  => df.select(others :+ explode_outer(col(path)).as(path): _*)
      case (false, false) => df.select(others :+ explode(col(path)).as(path): _*)
    }
    if (needSeq2) exploded = exploded.withColumn(SeqCol2, seq2Of(col(posName)))
    val idxCast = includeIdx.map(ix => exploded.withColumn(ix, col(ix).cast(LongType))).getOrElse(exploded)
    val finalOrder = (originalOrder ++ includeIdx.filterNot(originalOrder.contains)) ++
      (if (needSeq2 && !originalOrder.contains(SeqCol2)) Seq(SeqCol2) else Nil)
    (presenceAfterUnwind(idxCast.select(finalOrder.map(col): _*), path), ctx)
  }

  // --------------------------------------------------------------------------
  // $lookup (aggregation.ts:652-730)
  // --------------------------------------------------------------------------
  private def lookup(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val fs = body match {
      case JObject(f) => f
      case _          => throw GraftException("$lookup requires an object")
    }
    def str(n: String): Option[String] = fs.collectFirst { case (`n`, JString(s)) => s }
    val from = str("from").getOrElse(throw GraftException("$lookup requires from"))
    val asName = str("as").getOrElse(throw GraftException("$lookup requires as"))
    val foreign = ctx.collection(from)

    val pipelineOpt = fs.collectFirst { case ("pipeline", JArray(p)) => p }
    (str("localField"), str("foreignField"), pipelineOpt) match {
      case (Some(lf), Some(ff), None) =>
        equalityLookup(df, foreign, lf, ff, asName, ctx)
      case (Some(lf), Some(ff), Some(pipeline)) =>
        // Mongo 5.0 concise correlated form: equality condition plus a
        // sub-pipeline on the matched documents — desugars to the let/$expr
        // form with a synthesized equality conjunct.
        val eqStage: JValue = JObject(List("$match" -> JObject(List(
          "$expr" -> JObject(List("$eq" -> JArray(List(
            JString("$$__lf"), JString("$" + ff)))))))))
        val letBindings = fs.collectFirst { case ("let", JObject(l)) => l }.getOrElse(Nil) :+
          ("__lf" -> (JString("$" + lf): JValue))
        pipelineLookup(df, foreign, letBindings, eqStage +: pipeline, asName, ctx)
      case (_, _, Some(pipeline)) =>
        val letBindings = fs.collectFirst { case ("let", JObject(l)) => l }.getOrElse(Nil)
        pipelineLookup(df, foreign, letBindings, pipeline, asName, ctx)
      case _ =>
        throw GraftException("$lookup requires localField/foreignField or pipeline")
    }
  }

  /** Equality `$lookup`: pre-aggregate the foreign side per key (one shuffle,
    * broadcastable when small), then a single left join. Scales: no
    * per-row subqueries, no driver collect. */
  private def equalityLookup(df: DataFrame, foreign: DataFrame, lf: String, ff: String,
                             asName: String, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val fCols = foreign.columns.toSeq
    val grouped =
      if (df.isStreaming) {
        // monotonically_increasing_id is rejected anywhere in a streaming
        // plan; give up deterministic within-array order on streams.
        foreign.groupBy(col(ff).as("__graft_k"))
          .agg(collect_list(struct(fCols.map(col): _*)).as(asName))
      } else {
        val fSeq = foreign.withColumn("__fseq", monotonically_increasing_id())
        fSeq.groupBy(col(ff).as("__graft_k"))
          .agg(transform(
            array_sort(collect_list(struct(col("__fseq").as("o"), struct(fCols.map(col): _*).as("v")))),
            x => x.getField("v")).as(asName))
      }
    ctx.note("equality join on a pre-aggregated foreign side — Catalyst broadcasts it when small, AQE decides otherwise")
    val joined = df.join(grouped, df(lf) <=> grouped("__graft_k"), "left").drop("__graft_k")
    val elemType = grouped.schema(asName).dataType
    val out = joined.withColumn(asName, coalesce(col(asName), array().cast(elemType)))
    (out, ctx)
  }

  /** Pipeline-form `$lookup` with `let` bindings
    * (aggregation.ts:700-730 + aggregateWithBindings :585-646).
    *
    * Decorrelation strategy (SURVEY §7.4.6): split the sub-pipeline's leading
    * `$match` into (a) var-free conjuncts → pre-filter on the foreign side,
    * (b) `$expr` equality between a `$$var` and a foreign field → join keys,
    * (c) residual var-referencing conjuncts → per-element array filter after
    * the join. Then `$sort` → array_sort on the collected matches,
    * `$skip/$limit` → slice, `$project` → transform. No lateral join, no
    * per-outer-row execution: one shuffle on the foreign side + one join.
    */
  private def pipelineLookup(df: DataFrame, foreign: DataFrame,
                             letBindings: List[(String, JValue)], pipeline: List[JValue],
                             asName: String, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val localCtx: ExprCtx = exprCtx(df)
    val letCols: Map[String, Column] = letBindings.map { case (n, v) =>
      n -> ExprTranslator.translate(v)
    }.toMap

    val stages = pipeline.map(graft.model.PipelineParser.stageOf)

    // Split leading $match stages into conjuncts
    var joinKeys = List.empty[(Column, String)] // (local expr, foreign field)
    var residual = List.empty[JValue]           // $expr conjuncts with vars, non-equi
    var foreignFiltered = foreign
    var rest = stages
    while (rest.nonEmpty && rest.head._1 == "$match") {
      val (_, mbody) = rest.head
      val conjuncts: List[(String, JValue)] = mbody match {
        case JObject(fs) => fs
        case _           => throw GraftException("$match requires an object")
      }
      conjuncts.foreach {
        case ("$expr", e) =>
          flattenAnd(e).foreach { conj =>
            equiKey(conj, letCols.keySet) match {
              case Some((varName, fField)) => joinKeys ::= (letCols(varName), fField)
              case None =>
                if (referencesVars(conj)) residual ::= conj
                else {
                  val fc: ExprCtx = ExprCtx(Some(foreignFiltered), rootCols = foreignFiltered.columns.toSeq)
                  foreignFiltered = foreignFiltered.filter(
                    ExprTranslator.truthy(ExprTranslator.translate(conj)(fc))(fc))
                }
            }
          }
        case (field, spec) =>
          val fc: ExprCtx = ExprCtx(Some(foreignFiltered), rootCols = foreignFiltered.columns.toSeq)
          foreignFiltered = foreignFiltered.filter(MatchTranslator.fieldCondition(field, spec)(fc))
      }
      rest = rest.tail
    }
    if (joinKeys.isEmpty && residual.isEmpty) {
      // Uncorrelated sub-pipeline: every outer row gets the same matches.
      // Run it once, aggregate to a single-row array, broadcast cross join —
      // one tiny broadcast, no per-row execution (Mongo's uncorrelated
      // $lookup subquery pattern).
      ctx.note("uncorrelated sub-pipeline: run once, single-row broadcast cross join (no per-row execution)")
      val subResult = graft.Aggo.aggregateParsed(foreignFiltered, rest, ctx.collections)
        .coalesce(1) // keep the (bounded) sub-result's row order in the array
      val arr = subResult.agg(
        collect_list(struct(subResult.columns.map(col): _*)).as(asName))
      return (df.crossJoin(broadcast(arr)), ctx)
    }
    if (joinKeys.isEmpty)
      throw GraftException("$lookup pipeline form requires an $expr equality join key (or a fully uncorrelated pipeline)")

    // Collect matches per join key
    ctx.note("correlated sub-pipeline decorrelated: var-free conjuncts pre-filter the foreign side, $expr equalities become join keys, residuals filter the collected array")
    val fCols = foreignFiltered.columns.toSeq
    val fSeq = foreignFiltered.withColumn("__fseq", monotonically_increasing_id())
    val keyCols = joinKeys.map(_._2).distinct
    val grouped = fSeq.groupBy(keyCols.map(k => col(k).as(s"__graft_$k")): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("__fseq").as("o"), struct(fCols.map(col): _*).as("v")))),
        x => x.getField("v")).as(asName))
    val joinCond = joinKeys.map { case (localExpr, ff) => localExpr <=> grouped(s"__graft_$ff") }
      .reduceLeft(_ && _)
    var joined = df.join(grouped, joinCond, "left").drop(keyCols.map(k => s"__graft_$k"): _*)
    val elemType = grouped.schema(asName).dataType
    joined = joined.withColumn(asName, coalesce(col(asName), array().cast(elemType)))

    // Residual var-referencing predicates → per-element filter
    residual.foreach { conj =>
      joined = joined.withColumn(asName, filter(col(asName), elem => {
        val ec2 = ExprCtx(None, vars = letCols, rootCols = Nil).copy(vars = letCols)
        ExprTranslator.truthy(translateOnElem(conj, elem, letCols))(ec2)
      }))
    }

    // Remaining simple stages applied to the collected array
    rest.foreach {
      case ("$sort", JObject(sortFs)) =>
        val keys = sortFs.map {
          case (f, JInt(d)) => (f, d >= 0)
          case (f, _)       => throw GraftException(s"$$sort direction for $f must be int")
        }
        // comparator-based array_sort: handles every key type (strings,
        // dates, ...) in either direction, nulls lowest like Mongo
        joined = joined.withColumn(asName,
          array_sort(col(asName), (l, r) =>
            keys.foldRight(lit(0)) { case ((f, asc), acc) =>
              val (lk, rk) = (l.getField(f), r.getField(f))
              val (lt, gt) = if (asc) (lit(-1), lit(1)) else (lit(1), lit(-1))
              when(lk.isNull && rk.isNull, acc)
                .when(lk.isNull, lt).when(rk.isNull, gt)
                .when(lk < rk, lt).when(lk > rk, gt)
                .otherwise(acc)
            }))
      case ("$limit", JInt(n)) =>
        joined = joined.withColumn(asName, slice(col(asName), 1, n.toInt))
      case ("$skip", JInt(n)) =>
        joined = joined.withColumn(asName,
          slice(col(asName), lit(n.toInt + 1), greatest(size(col(asName)) - n.toInt, lit(0))))
      case ("$project", JObject(projFs)) =>
        val includes = projFs.collect { case (f, JInt(i)) if i != 0 && f != "_id" => f }
        if (includes.nonEmpty)
          joined = joined.withColumn(asName, transform(col(asName), e =>
            struct(includes.map(f => e.getField(f).as(f)): _*)))
      case (s, _) => throw GraftException(s"$$lookup sub-pipeline stage $s not supported after $$match")
    }
    (joined, ctx)
  }

  /** Flatten an `$and` tree of $expr conjuncts. */
  private def flattenAnd(e: JValue): List[JValue] = e match {
    case JObject(List(("$and", JArray(items)))) => items.flatMap(flattenAnd)
    case other                                  => List(other)
  }

  /** Recognize {$eq: ["$$var", "$field"]} (either order) → (var, field). */
  private def equiKey(e: JValue, vars: Set[String]): Option[(String, String)] = e match {
    case JObject(List(("$eq", JArray(List(JString(a), JString(b)))))) =>
      (a, b) match {
        case (va, fb) if va.startsWith("$$") && fb.startsWith("$") && !fb.startsWith("$$")
          && vars(va.substring(2)) => Some((va.substring(2), fb.substring(1)))
        case (fa, vb) if vb.startsWith("$$") && fa.startsWith("$") && !fa.startsWith("$$")
          && vars(vb.substring(2)) => Some((vb.substring(2), fa.substring(1)))
        case _ => None
      }
    case _ => None
  }

  private def referencesVars(e: JValue): Boolean = e match {
    case JString(s)  => s.startsWith("$$") && !Set("$$ROOT", "$$CURRENT", "$$NOW").contains(s)
    case JArray(xs)  => xs.exists(referencesVars)
    case JObject(fs) => fs.exists { case (_, v) => referencesVars(v) }
    case _           => false
  }

  /** Translate an expression where `$field` paths resolve against an array
    * element (struct) and `$$vars` against outer-row columns. */
  private def translateOnElem(e: JValue, elem: Column, vars: Map[String, Column]): Column = e match {
    case JString(s) if s.startsWith("$$") =>
      val parts = s.substring(2).split('.')
      parts.tail.foldLeft(vars.getOrElse(parts.head,
        throw GraftException(s"unknown variable $s")))(_ getField _)
    case JString(s) if s.startsWith("$") =>
      s.substring(1).split('.').foldLeft(elem)(_ getField _)
    case JObject(List((op, arg))) if op.startsWith("$") =>
      // delegate through ExprTranslator with a ctx whose vars pre-resolve
      implicit val ec: ExprCtx = ExprCtx(None, vars = vars + ("__elem" -> elem))
      // Simple binary/n-ary ops recursively on elements:
      op match {
        case "$eq"  => argPair(arg).map { case (x, y) => translateOnElem(x, elem, vars) <=> translateOnElem(y, elem, vars) }.get
        case "$ne"  => argPair(arg).map { case (x, y) => !(translateOnElem(x, elem, vars) <=> translateOnElem(y, elem, vars)) }.get
        case "$gt"  => argPair(arg).map { case (x, y) => translateOnElem(x, elem, vars) > translateOnElem(y, elem, vars) }.get
        case "$gte" => argPair(arg).map { case (x, y) => translateOnElem(x, elem, vars) >= translateOnElem(y, elem, vars) }.get
        case "$lt"  => argPair(arg).map { case (x, y) => translateOnElem(x, elem, vars) < translateOnElem(y, elem, vars) }.get
        case "$lte" => argPair(arg).map { case (x, y) => translateOnElem(x, elem, vars) <= translateOnElem(y, elem, vars) }.get
        case "$and" => argItems(arg).map(a => translateOnElem(a, elem, vars)).reduceLeft(_ && _)
        case "$or"  => argItems(arg).map(a => translateOnElem(a, elem, vars)).reduceLeft(_ || _)
        case _ => throw GraftException(s"$op not supported in $$lookup residual predicate")
      }
    case lit0 => ExprTranslator.litOf(lit0)
  }

  private def argPair(v: JValue): Option[(JValue, JValue)] = v match {
    case JArray(List(a, b)) => Some((a, b))
    case _                  => None
  }
  private def argItems(v: JValue): List[JValue] = v match {
    case JArray(items) => items
    case single        => List(single)
  }

  // --------------------------------------------------------------------------
  // $bucket — extension (Mongo-compatible; not in the reference, SURVEY §2.2)
  // --------------------------------------------------------------------------
  private def bucket(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$bucket requires an object") }
    val groupBy0 = fs.collectFirst { case ("groupBy", v) => v }.getOrElse(throw GraftException("$bucket requires groupBy"))
    val boundaries = fs.collectFirst { case ("boundaries", JArray(bs)) => bs.map(ExprTranslator.litOf) }
      .getOrElse(throw GraftException("$bucket requires boundaries"))
    val default = fs.collectFirst { case ("default", v) => ExprTranslator.litOf(v) }
    val outputSpec = fs.collectFirst { case ("output", JObject(o)) => o }
      .getOrElse(List("count" -> JObject(List("$sum" -> JInt(1)))))

    val e = ExprTranslator.translate(groupBy0)
    val inRange = boundaries.sliding(2).toSeq.collect { case Seq(lo, hi) =>
      (e >= lo && e < hi, lo)
    }
    val bucketId = inRange.tail.foldLeft(when(inRange.head._1, inRange.head._2)) {
      case (acc, (c, v)) => acc.when(c, v)
    }
    val withDefault = default match {
      case Some(d) => bucketId.otherwise(d)
      case None    => bucketId
    }
    // Mirror group(): order-sensitive output accumulators need the
    // encounter-order key (Aggo stamps _seq for $bucket exactly for this).
    val orderSensitive = outputSpec.exists { case (_, spec) => spec match {
      case JObject(List((op, _))) => Set("$first", "$last", "$push", "$firstN", "$lastN")(op)
      case _                      => false
    }}
    val (aggSrc, orderKey) =
      if (orderSensitive) { val (d, k) = encounterOrder(df, ctx); (d, Some(k)) }
      else (df, None)
    val accs = outputSpec.map { case (name, spec) =>
      val (op, arg) = spec match {
        case JObject(List((o, a))) => (o, a)
        case _ => throw GraftException("$bucket output accumulator must be a single operator")
      }
      accumulator(op, arg, orderKey).as(name)
    }
    val filtered = if (default.isDefined) aggSrc else aggSrc.filter(withDefault.isNotNull)
    (filtered.groupBy(withDefault.as("_id")).agg(accs.head, accs.tail: _*),
      ctx.copy(order = None, hasSeq = false))
  }

  // --------------------------------------------------------------------------
  // $facet — run sub-pipelines over the same input, one row of array results
  // --------------------------------------------------------------------------
  private def facet(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$facet requires an object") }
    val facets: Seq[DataFrame] = fs.map { case (name, pipe) =>
      val stages = pipe match {
        case JArray(p) => p.map(graft.model.PipelineParser.stageOf)
        case _         => throw GraftException(s"$$facet $name must be a pipeline array")
      }
      // Facet outputs are bounded/small (they sit in one output row), so
      // coalesce(1) is safe and pins collect_list to the sub-pipeline's row
      // order — multi-partition partial-merge order is unspecified, which
      // would scramble a trailing $sort (same reason pipelineLookup's
      // uncorrelated branch coalesces).
      val sub = graft.Aggo.aggregateParsed(df, stages, ctx.collections).coalesce(1)
      sub.agg(collect_list(struct(sub.columns.map(col): _*)).as(name))
    }
    ctx.note("each facet sub-result coalesced to one partition (bounded single-row output) to pin array order")
    (facets.reduceLeft(_ crossJoin _), ctx.copy(order = None, hasSeq = false))
  }

  // --------------------------------------------------------------------------
  // $rankFusion — MongoDB 8.0 hybrid-search combiner: reciprocal-rank fusion
  // over named ranked sub-pipelines ([[graft.ext.Retrieval.rrfFuse]] is the
  // library form; this is the pipeline-language face).
  // --------------------------------------------------------------------------
  private def rankFusion(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$rankFusion requires an object") }
    val pipelines = fs.collectFirst { case ("input", JObject(in)) => in }
      .flatMap(_.collectFirst { case ("pipelines", JObject(p)) => p })
      .getOrElse(throw GraftException("$rankFusion requires input.pipelines"))
    if (pipelines.isEmpty) throw GraftException("$rankFusion needs at least one pipeline")
    val weights: Map[String, Double] = fs.collectFirst { case ("combination", JObject(c)) => c }
      .flatMap(_.collectFirst { case ("weights", JObject(w)) => w.map {
        case (n, JInt(i))    => n -> i.toDouble
        case (n, JDouble(d)) => n -> d
        case (n, other)      => throw GraftException(s"$$rankFusion weight for $n must be numeric, got $other")
      }.toMap })
      .getOrElse(Map.empty)
    weights.foreach { case (n, w) =>
      if (w < 0) throw new graft.model.ValidationError(
        s"$$rankFusion weight for $n must be non-negative, got $w")
    }
    val unknown = weights.keySet -- pipelines.map(_._1).toSet
    if (unknown.nonEmpty) throw new graft.model.ValidationError(
      s"$$rankFusion weights name unknown pipelines: ${unknown.mkString(", ")}")
    val scoreDetails = fs.collectFirst { case ("scoreDetails", JBool(b)) => b }.getOrElse(false)
    val rrfK = 60 // Mongo's fixed RRF constant
    val docCols = df.columns.filterNot(c => c == SeqCol || c == SeqCol2 || c == PresenceCol)

    val legs = pipelines.map { case (name, pipe) =>
      val stages = pipe match {
        case JArray(p) => p.map(graft.model.PipelineParser.stageOf)
        case _         => throw GraftException(s"$$rankFusion pipeline $name must be an array")
      }
      val sub = graft.Aggo.aggregateParsed(df, stages, ctx.collections)
      val missing = docCols.toSet -- sub.columns.toSet
      if (missing.nonEmpty) throw new graft.model.ValidationError(
        s"$$rankFusion pipeline '$name' must preserve the document shape " +
          s"(selection/sort/limit stages only); dropped: ${missing.mkString(", ")}")
      // Ranked legs must be bounded — enforced, not just contractual: the
      // coalesce(1) below funnels the leg through one task, so an unbounded
      // leg would pull the whole table into a single partition's memory.
      val lastSort = stages.lastIndexWhere(_._1 == "$sort")
      if (!stages.drop(lastSort + 1).exists(_._1 == "$limit"))
        throw new graft.model.ValidationError(
          s"$$rankFusion pipeline '$name' must bound its result with a $$limit " +
            "after its final $sort (ranked legs are fused on one task; an " +
            "unbounded leg would funnel the whole collection through it)")
      // coalesce(1) pins the leg's row
      // order — a sorted frame's partitions are range-ordered, and coalesce
      // concatenates them without a shuffle — and monotonically_increasing_id
      // on the single partition is then 0..n-1 in exactly that order, giving
      // the 1-based rank without an unpartitioned data-sized window.
      val w = weights.getOrElse(name, 1.0)
      sub.select(docCols.map(col): _*).coalesce(1)
        .withColumn("__rid", monotonically_increasing_id())
        .select(struct(docCols.map(col): _*).as("__doc"),
          (lit(w) / (col("__rid") + 1 + rrfK)).as("__contrib"))
    }
    ctx.note("each ranked leg coalesced to one partition (bounded by contract) to pin rank order; " +
      "fused score = Σ weight/(60+rank), 1e-6-quantized for a stable total order")
    val fused = legs.reduceLeft(_ unionByName _)
      .groupBy("__doc")
      .agg((floor(sum(col("__contrib")) * 1e6 + 0.5) / 1e6).as("__score"))
      .orderBy(col("__score").desc, col("__doc"))
    val out =
      if (scoreDetails) fused.select(col("__doc.*") +: Seq(col("__score").as("score")): _*)
      else fused.select(col("__doc.*"))
    (out, ctx.copy(order = None, hasSeq = false))
  }

  // --------------------------------------------------------------------------
  // $scoreFusion — MongoDB 8.1 score-based hybrid-search combiner: each leg
  // is a SCORED sub-pipeline (it must yield a `score` column, e.g. from
  // $vectorSearch's scoreField or an $addFields expression); scores are
  // normalized per leg, weighted, and averaged across the legs a document
  // appears in. Where $rankFusion discards magnitudes and fuses ranks,
  // $scoreFusion preserves them.
  // --------------------------------------------------------------------------
  private def scoreFusion(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$scoreFusion requires an object") }
    val input = fs.collectFirst { case ("input", JObject(in)) => in }
      .getOrElse(throw GraftException("$scoreFusion requires input"))
    val pipelines = input.collectFirst { case ("pipelines", JObject(p)) => p }
      .getOrElse(throw GraftException("$scoreFusion requires input.pipelines"))
    if (pipelines.isEmpty) throw GraftException("$scoreFusion needs at least one pipeline")
    val normalization = input.collectFirst { case ("normalization", JString(n)) => n }.getOrElse("none")
    if (!Set("none", "sigmoid", "minMaxScaler")(normalization))
      throw new graft.model.ValidationError(
        s"$$scoreFusion normalization must be none|sigmoid|minMaxScaler, got $normalization")
    val combination = fs.collectFirst { case ("combination", JObject(c)) => c }.getOrElse(Nil)
    combination.collectFirst { case ("method", JString(m)) if m != "avg" =>
      throw new graft.model.ValidationError(s"$$scoreFusion combination.method supports only avg, got $m") }
    val weights: Map[String, Double] = combination.collectFirst { case ("weights", JObject(w)) => w.map {
      case (n, JInt(i))    => n -> i.toDouble
      case (n, JDouble(d)) => n -> d
      case (n, other)      => throw GraftException(s"$$scoreFusion weight for $n must be numeric, got $other")
    }.toMap }.getOrElse(Map.empty)
    weights.foreach { case (n, w) =>
      if (w < 0) throw new graft.model.ValidationError(
        s"$$scoreFusion weight for $n must be non-negative, got $w")
    }
    val unknown = weights.keySet -- pipelines.map(_._1).toSet
    if (unknown.nonEmpty) throw new graft.model.ValidationError(
      s"$$scoreFusion weights name unknown pipelines: ${unknown.mkString(", ")}")
    val scoreDetails = fs.collectFirst { case ("scoreDetails", JBool(b)) => b }.getOrElse(false)
    val docCols = df.columns.filterNot(c => c == SeqCol || c == SeqCol2 || c == PresenceCol || c == "score")

    val legs = pipelines.map { case (name, pipe) =>
      val stages = pipe match {
        case JArray(p) => p.map(graft.model.PipelineParser.stageOf)
        case _         => throw GraftException(s"$$scoreFusion pipeline $name must be an array")
      }
      val sub = graft.Aggo.aggregateParsed(df, stages, ctx.collections)
      val missing = docCols.toSet -- sub.columns.toSet
      if (missing.nonEmpty) throw new graft.model.ValidationError(
        s"$$scoreFusion pipeline '$name' must preserve the document shape; dropped: ${missing.mkString(", ")}")
      if (!sub.columns.contains("score")) throw new graft.model.ValidationError(
        s"$$scoreFusion pipeline '$name' must be a scored pipeline (yield a 'score' column, " +
          "e.g. $vectorSearch's scoreField or an $addFields expression)")
      val scored = sub.select((docCols.map(col) :+ col("score").cast("double").as("__s")): _*)
      // normalization is per leg; minMaxScaler's leg-wide min/max come from
      // a single-row aggregate broadcast back in (no unpartitioned window)
      val normed = normalization match {
        case "none"    => scored.withColumn("__norm", col("__s"))
        case "sigmoid" => scored.withColumn("__norm", lit(1.0) / (lit(1.0) + exp(-col("__s"))))
        case "minMaxScaler" =>
          val mm = scored.agg(min(col("__s")).as("__mn"), max(col("__s")).as("__mx"))
          scored.crossJoin(broadcast(mm)).withColumn("__norm",
            when(col("__mx") > col("__mn"),
              (col("__s") - col("__mn")) / (col("__mx") - col("__mn")))
              .otherwise(lit(1.0)))
      }
      normed.select(struct(docCols.map(col): _*).as("__doc"),
        (col("__norm") * weights.getOrElse(name, 1.0)).as("__contrib"))
    }
    ctx.note(s"per-leg $normalization normalization (minMax via broadcast single-row aggregate); " +
      "fused score = avg of weighted normalized scores over the legs containing the document, 1e-6-quantized")
    val fused = legs.reduceLeft(_ unionByName _)
      .groupBy("__doc")
      .agg((floor(sum(col("__contrib")) / count(lit(1)) * 1e6 + 0.5) / 1e6).as("__score"))
      .orderBy(col("__score").desc, col("__doc"))
    val out =
      if (scoreDetails) fused.select(col("__doc.*") +: Seq(col("__score").as("score")): _*)
      else fused.select(col("__doc.*"))
    (out, ctx.copy(order = None, hasSeq = false))
  }

  // --------------------------------------------------------------------------
  // $setWindowFields — extension (window functions; reference has none,
  // SURVEY §2.6 — "Spark's Window is available for our added ops")
  // --------------------------------------------------------------------------
  private def setWindowFields(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$setWindowFields requires an object") }
    val partitionBy = fs.collectFirst { case ("partitionBy", v) => v }
    val sortBy = fs.collectFirst { case ("sortBy", JObject(s)) => s.map {
      case (f, JInt(d)) => SortKey(f, d >= 0)
      case (f, _)       => throw GraftException(s"sortBy direction for $f must be 1/-1")
    }}
    val output = fs.collectFirst { case ("output", JObject(o)) => o }
      .getOrElse(throw GraftException("$setWindowFields requires output"))

    // $expMovingAvg is a sequential recurrence (EMA_t = α·x_t + (1-α)·EMA_{t-1})
    // no window frame can express: compute it with one hash repartition on
    // the partition key + sortWithinPartitions + a per-partition streaming
    // pass (the SURVEY §7.3 "mapPartitions as a last resort" case — state
    // is one double per group). Remaining outputs continue on the result.
    val (emaOuts, restOuts) = output.partition {
      case (_, JObject(fs)) => fs.exists(_._1 == "$expMovingAvg")
      case _                => false
    }
    if (emaOuts.nonEmpty) {
      val part = partitionBy.map(ExprTranslator.translate)
        .getOrElse(throw GraftException("$expMovingAvg requires partitionBy"))
      val keys = sortBy.getOrElse(throw GraftException("$expMovingAvg requires sortBy"))
      var frame = df
      emaOuts.foreach { case (name, spec) =>
        val fs = spec match { case JObject(s) => s; case _ => throw GraftException(s"output $name must be an object") }
        val efs = fs.collectFirst { case ("$expMovingAvg", JObject(e)) => e }
          .getOrElse(throw GraftException(s"$name: $$expMovingAvg requires an object"))
        val in = efs.collectFirst { case ("input", v) => ExprTranslator.translate(v)(exprCtx(frame)) }
          .getOrElse(throw GraftException("$expMovingAvg requires input"))
        val alpha = efs.collectFirst { case ("alpha", JDouble(a)) => a }
          .orElse(efs.collectFirst { case ("N", JInt(n)) => 2.0 / (n.toDouble + 1) })
          .getOrElse(throw GraftException("$expMovingAvg requires alpha or N"))
        frame = expMovingAvg(frame, part, keys, in, alpha, name)
      }
      if (restOuts.isEmpty) return (frame, ctx)
      return setWindowFields(frame,
        JObject(fs.filterNot(_._1 == "output") :+ ("output" -> JObject(restOuts))), ctx)
    }

    // Unpartitioned window + sortBy: try the scale-safe two-pass rewrite
    // (range repartition + local windows + broadcast prefix offsets) before
    // falling back to the single-task global window.
    if (partitionBy.isEmpty && sortBy.isDefined) {
      unpartitionedTwoPass(df, sortBy.get, output) match {
        case Some(out) =>
          ctx.note("two-pass rewrite applied: unpartitioned window → range partition + local windows + broadcast prefix offsets")
          return (out, ctx)
        case None =>
          ctx.note("fallback: single-task global window (operator mix not two-pass-rewritable)")
      }
    } else if (partitionBy.isDefined)
      ctx.note("partitioned Window — one hash shuffle on the partition key")

    var w = partitionBy match {
      case Some(p) => Window.partitionBy(ExprTranslator.translate(p))
      case None    => Window.partitionBy()
    }
    sortBy.foreach { keys =>
      w = w.orderBy(keys.map(k => if (k.asc) col(k.path).asc_nulls_first else col(k.path).desc_nulls_last): _*)
    }

    val newCols = output.map { case (name, spec) =>
      val specFs = spec match { case JObject(s) => s; case _ => throw GraftException(s"output $name must be an object") }
      val (op, arg) = specFs.collectFirst { case (o, a) if o.startsWith("$") => (o, a) }
        .getOrElse(throw GraftException(s"output $name requires an operator"))
      val windowed = specFs.collectFirst { case ("window", JObject(wf)) => wf } match {
        case Some(wf) =>
          val docs = wf.collectFirst { case ("documents", JArray(List(a, b))) => (frameBound(a), frameBound(b)) }
          val rng = wf.collectFirst { case ("range", JArray(List(a, b))) => (frameBound(a), frameBound(b)) }
          (docs, rng) match {
            case (Some((lo, hi)), _) => w.rowsBetween(lo, hi)
            case (None, Some((lo, hi))) => w.rangeBetween(lo, hi)
            case _ => w
          }
        case None =>
          // Mongo's default window is the whole partition ([unbounded,
          // unbounded]) for accumulator operators — notably making
          // $first/$last the partition's first/last, not the current row.
          if (Set("$sum", "$avg", "$min", "$max", "$count", "$push",
            "$stdDevPop", "$stdDevSamp", "$first", "$last")(op) && sortBy.isDefined)
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          else w
      }
      val c = op match {
        case "$rank"           => rank().over(windowed)
        case "$denseRank"      => dense_rank().over(windowed)
        case "$documentNumber" => row_number().over(windowed)
        case "$shift" =>
          val sfs = arg match { case JObject(s) => s; case _ => throw GraftException("$shift requires object") }
          val out = sfs.collectFirst { case ("output", v) => ExprTranslator.translate(v) }
            .getOrElse(throw GraftException("$shift requires output"))
          val by = sfs.collectFirst { case ("by", JInt(i)) => i.toInt }.getOrElse(1)
          val dflt = sfs.collectFirst { case ("default", v) => ExprTranslator.litOf(v) }
          val shifted = if (by >= 0) lead(out, by).over(windowed) else lag(out, -by).over(windowed)
          dflt.map(d => coalesce(shifted, d)).getOrElse(shifted)
        case "$sum"        => sum(ExprTranslator.translate(arg)).over(windowed)
        case "$avg"        => avg(ExprTranslator.translate(arg)).over(windowed)
        case "$min"        => min(ExprTranslator.translate(arg)).over(windowed)
        case "$max"        => max(ExprTranslator.translate(arg)).over(windowed)
        case "$count"      => count(lit(1)).over(windowed)
        case "$stdDevPop"  => stddev_pop(ExprTranslator.translate(arg)).over(windowed)
        case "$stdDevSamp" => stddev_samp(ExprTranslator.translate(arg)).over(windowed)
        // Median/percentile/covariance are unordered aggregates Spark will
        // not evaluate over an ordered frame — they compute over the whole
        // partition (Mongo's default window for them).
        case "$median" =>
          val mfs = arg match { case JObject(s) => s; case _ => throw GraftException("$median requires {input}") }
          val in = mfs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
            .getOrElse(throw GraftException("$median requires input"))
          call_function("median", in).over(wholePartition(partitionBy))
        case "$percentile" =>
          val pfs = arg match { case JObject(s) => s; case _ => throw GraftException("$percentile requires {input, p}") }
          val in = pfs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
            .getOrElse(throw GraftException("$percentile requires input"))
          val ps = pfs.collectFirst { case ("p", JArray(items)) => items.map {
            case JDouble(d) => d; case JInt(i) => i.toDouble
            case other => throw GraftException(s"$$percentile p values must be numeric, got $other")
          }}.getOrElse(throw GraftException("$percentile requires p array"))
          call_function("percentile", in, array(ps.map(lit): _*)).over(wholePartition(partitionBy))
        case "$covariancePop" =>
          val (x, y) = arg match {
            case JArray(List(a, b)) => (ExprTranslator.translate(a), ExprTranslator.translate(b))
            case _ => throw GraftException("$covariancePop requires [x, y]")
          }
          covar_pop(x.cast("double"), y.cast("double")).over(wholePartition(partitionBy))
        case "$covarianceSamp" =>
          val (x, y) = arg match {
            case JArray(List(a, b)) => (ExprTranslator.translate(a), ExprTranslator.translate(b))
            case _ => throw GraftException("$covarianceSamp requires [x, y]")
          }
          covar_samp(x.cast("double"), y.cast("double")).over(wholePartition(partitionBy))
        // struct-wrap so null elements survive (collect_list drops bare
        // nulls; Mongo's $push keeps them) — same trick the $group path uses
        // via its orderKey wrapper.
        case "$push" =>
          transform(collect_list(struct(ExprTranslator.translate(arg).as("v"))).over(windowed),
            x => x.getField("v"))
        case "$first"      => first(ExprTranslator.translate(arg)).over(windowed)
        case "$last"       => last(ExprTranslator.translate(arg)).over(windowed)
        // rate/area window operators (Mongo 5.0 surface; extension).
        // $derivative: (Δ value)/(Δ sort key) across the frame, scaled to
        // `unit` seconds when the sort key is time-valued (here: treated as
        // already unit-scaled numeric — callers pass epoch columns).
        case "$derivative" =>
          val sfs = arg match { case JObject(s) => s; case _ => throw GraftException("$derivative requires object") }
          val in = sfs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
            .getOrElse(throw GraftException("$derivative requires input"))
          val keys = sortBy.getOrElse(throw GraftException("$derivative requires sortBy"))
          val xc = col(keys.head.path).cast("double")
          val dv = last(in.cast("double"), ignoreNulls = true).over(windowed) -
            first(in.cast("double"), ignoreNulls = true).over(windowed)
          val dx = last(xc, ignoreNulls = true).over(windowed) - first(xc, ignoreNulls = true).over(windowed)
          when(dx =!= 0.0, dv / dx)
        // $integral: running trapezoidal area under (sortKey, value)
        case "$integral" =>
          val sfs = arg match { case JObject(s) => s; case _ => throw GraftException("$integral requires object") }
          val in = sfs.collectFirst { case ("input", v) => ExprTranslator.translate(v) }
            .getOrElse(throw GraftException("$integral requires input"))
          val keys = sortBy.getOrElse(throw GraftException("$integral requires sortBy"))
          val xc = col(keys.head.path).cast("double")
          val v = in.cast("double")
          val area = (v + lag(v, 1).over(w)) / 2 * (xc - lag(xc, 1).over(w))
          coalesce(sum(area).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), lit(0.0))
        // gap-filling window operators (Mongo 5.3 surface; extension)
        case "$locf" =>
          last(ExprTranslator.translate(arg), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case "$linearFill" =>
          val e = ExprTranslator.translate(arg)
          val sortKeys = sortBy.getOrElse(throw GraftException("$linearFill requires sortBy"))
          val xc = col(sortKeys.head.path).cast("double")
          val point = when(e.isNotNull, struct(xc.as("x"), e.cast("double").as("v")))
          val prev = last(point, ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          val nxt = first(point, ignoreNulls = true)
            .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          when(e.isNotNull, e.cast("double")).otherwise(
            when(prev.isNotNull && nxt.isNotNull,
              // equal-x guard: Mongo requires unique sortBy values; with
              // ties we carry the previous value instead of dividing by 0
              when(nxt.getField("x") === prev.getField("x"), prev.getField("v"))
                .otherwise(prev.getField("v") + (nxt.getField("v") - prev.getField("v")) *
                  (xc - prev.getField("x")) / (nxt.getField("x") - prev.getField("x")))))
        case o             => throw GraftException(s"window operator $o not supported")
      }
      name -> c
    }
    (df.withColumns(newCols.toMap), ctx)
  }

  /** Whole-partition (unordered, unframed) window for aggregates Spark
    * rejects over ordered frames. */
  private def wholePartition(partitionBy: Option[JValue])(implicit ec: ExprCtx)
      : org.apache.spark.sql.expressions.WindowSpec = partitionBy match {
    case Some(p) => Window.partitionBy(ExprTranslator.translate(p))
    case None    => Window.partitionBy()
  }

  /** One sequential EMA pass: hash-repartition on the partition key so each
    * group is contiguous in one task, sort groups + sort keys within the
    * partition, then stream rows carrying one double of state per group.
    * Null inputs emit null and leave the state untouched. */
  private def expMovingAvg(df: DataFrame, part: Column, keys: Seq[SortKey],
                           in: Column, alpha: Double, outName: String): DataFrame = {
    val prepared = df.withColumn("__ema_pk", part).withColumn("__ema_in", in.cast("double"))
    val sortCols = col("__ema_pk") +:
      keys.map(k => if (k.asc) col(k.path).asc_nulls_first else col(k.path).desc_nulls_last)
    val sorted = prepared.repartition(col("__ema_pk")).sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add(outName, DoubleType)
    val pkIdx = sorted.schema.fieldIndex("__ema_pk")
    val inIdx = sorted.schema.fieldIndex("__ema_in")
    val enc = org.apache.spark.sql.Encoders.row(schema)
    sorted.mapPartitions { rows =>
      var curKey: Any = null
      var hasKey = false
      var ema: java.lang.Double = null
      rows.map { r =>
        val k = r.get(pkIdx)
        if (!hasKey || k != curKey) { curKey = k; hasKey = true; ema = null }
        val x = r.get(inIdx)
        val out: java.lang.Double =
          if (x == null) null
          else {
            val xv = x.asInstanceOf[Double]
            ema = if (ema == null) xv else alpha * xv + (1 - alpha) * ema
            ema
          }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ out)
      }
    }(enc).drop("__ema_pk", "__ema_in")
  }

  /** Scale-safe rewrite of an UNPARTITIONED sorted window: Spark would
    * funnel every row through a single task (`Window.partitionBy()` with an
    * ORDER BY has one partition). Instead:
    *
    *   1. `repartitionByRange` on the sort keys — equal keys land in the
    *      same partition, partition index order == key order;
    *   2. compute each window function locally per range partition;
    *   3. aggregate one stats row per partition (row counts, running totals
    *      at partition end — all read off the local window columns with
    *      `max`/`max_by`), prefix-combine them with a window over this
    *      tiny frame (≤ shuffle-partition rows), and broadcast-join the
    *      prior-partition offsets back;
    *   4. correct the local values with the offsets.
    *
    * Supports ranking ($documentNumber/$rank/$denseRank — no key straddles
    * a range boundary, so local rank + prior row count is exact; dense rank
    * offsets by the sum of per-partition distinct counts) and running
    * [unbounded, current] aggregates ($sum/$avg/$min/$max/$count). Returns
    * None for any other operator/frame mix (caller falls back to the global
    * window). */
  private def unpartitionedTwoPass(df: DataFrame, keys: Seq[SortKey],
                                   output: List[(String, JValue)]): Option[DataFrame] = {
    implicit val ec: ExprCtx = exprCtx(df)
    final case class Out(name: String, op: String, arg: JValue, running: Boolean)
    val parsed: Option[List[Out]] = {
      val outs = output.map { case (name, spec) =>
        val specFs = spec match { case JObject(s) => s; case _ => return None }
        val (op, arg) = specFs.collectFirst { case (o, a) if o.startsWith("$") => (o, a) }
          .getOrElse(return None)
        val frame = specFs.collectFirst { case ("window", JObject(wf)) => wf }
        val isRunningFrame = frame.exists(_.exists {
          case ("documents", JArray(List(JString("unbounded"), JString("current")))) => true
          case _ => false
        })
        val ranking = Set("$documentNumber", "$rank", "$denseRank")(op)
        val runningAgg = Set("$sum", "$avg", "$min", "$max", "$count")(op) && isRunningFrame
        if (ranking && frame.isEmpty) Out(name, op, arg, running = false)
        else if (runningAgg) Out(name, op, arg, running = true)
        else return None
      }
      Some(outs)
    }
    parsed.map { outs =>
      val orderCols = keys.map(k =>
        if (k.asc) col(k.path).asc_nulls_first else col(k.path).desc_nulls_last)
      val parted = df.repartitionByRange(orderCols: _*).withColumn("__wp", spark_partition_id())
      val lw = Window.partitionBy(col("__wp")).orderBy(orderCols: _*)
      val lwRun = lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)

      // pass 1: local window columns (one per output; $avg needs sum+count)
      var local = parted.withColumn("__wrn", row_number().over(lw))
      outs.zipWithIndex.foreach { case (o, i) =>
        def e: Column = ExprTranslator.translate(o.arg)(exprCtx(parted))
        o.op match {
          case "$documentNumber" => // __wrn is the local value
          case "$rank"           => local = local.withColumn(s"__l$i", rank().over(lw))
          case "$denseRank"      => local = local.withColumn(s"__l$i", dense_rank().over(lw))
          case "$sum"            => local = local.withColumn(s"__l$i", sum(e).over(lwRun))
          case "$min"            => local = local.withColumn(s"__l$i", min(e).over(lwRun))
          case "$max"            => local = local.withColumn(s"__l$i", max(e).over(lwRun))
          case "$count"          => local = local.withColumn(s"__l$i", count(lit(1)).over(lwRun))
          case "$avg" =>
            local = local.withColumn(s"__l${i}s", sum(e.cast("double")).over(lwRun))
              .withColumn(s"__l${i}c", count(e).over(lwRun))
        }
      }

      // per-partition stats: the value of each running column at the
      // partition's last row (max_by on the local row number), plus row and
      // distinct counts for the ranking offsets
      val statAggs: Seq[Column] = max(col("__wrn")).as("__rows") +:
        outs.zipWithIndex.flatMap { case (o, i) =>
          o.op match {
            case "$documentNumber" | "$rank" => Nil
            case "$denseRank" => Seq(max(col(s"__l$i")).as(s"__t$i"))
            case "$avg" => Seq(max_by(col(s"__l${i}s"), col("__wrn")).as(s"__t${i}s"),
              max_by(col(s"__l${i}c"), col("__wrn")).as(s"__t${i}c"))
            case _ => Seq(max_by(col(s"__l$i"), col("__wrn")).as(s"__t$i"))
          }
        }
      val stats = local.groupBy(col("__wp")).agg(statAggs.head, statAggs.tail: _*)

      // prefix offsets over the tiny stats frame (bounded by the shuffle
      // partition count — a global window here is deliberate and cheap)
      val pw = Window.orderBy(col("__wp")).rowsBetween(Window.unboundedPreceding, -1)
      val offsetCols: Seq[Column] = coalesce(sum(col("__rows")).over(pw), lit(0L)).as("__prows") +:
        outs.zipWithIndex.flatMap { case (o, i) =>
          o.op match {
            case "$documentNumber" | "$rank" => Nil
            case "$denseRank" => Seq(coalesce(sum(col(s"__t$i")).over(pw), lit(0L)).as(s"__p$i"))
            case "$sum"       => Seq(sum(col(s"__t$i")).over(pw).as(s"__p$i"))
            case "$count"     => Seq(coalesce(sum(col(s"__t$i")).over(pw), lit(0L)).as(s"__p$i"))
            case "$min"       => Seq(min(col(s"__t$i")).over(pw).as(s"__p$i"))
            case "$max"       => Seq(max(col(s"__t$i")).over(pw).as(s"__p$i"))
            case "$avg" => Seq(sum(col(s"__t${i}s")).over(pw).as(s"__p${i}s"),
              coalesce(sum(col(s"__t${i}c")).over(pw), lit(0L)).as(s"__p${i}c"))
          }
        }
      val offsets = stats.select(col("__wp") +: offsetCols: _*)

      // pass 2: broadcast the offsets back and correct the local values
      val joined = local.join(broadcast(offsets), "__wp")
      val corrected: Seq[(String, Column)] = outs.zipWithIndex.map { case (o, i) =>
        val c = o.op match {
          // cast back to int: the single-window path returns IntegerType for
          // the ranking family and the long offsets must not widen it
          case "$documentNumber" => (col("__wrn") + col("__prows")).cast("int")
          case "$rank"           => (col(s"__l$i") + col("__prows")).cast("int")
          case "$denseRank"      => (col(s"__l$i") + col(s"__p$i")).cast("int")
          case "$count"          => col(s"__l$i") + col(s"__p$i")
          case "$sum" =>
            when(col(s"__l$i").isNull && col(s"__p$i").isNull, lit(null))
              .otherwise(coalesce(col(s"__l$i"), lit(0)) + coalesce(col(s"__p$i"), lit(0)))
          case "$min" => least(col(s"__p$i"), col(s"__l$i"))
          case "$max" => greatest(col(s"__p$i"), col(s"__l$i"))
          case "$avg" =>
            val cnt = col(s"__l${i}c") + col(s"__p${i}c")
            when(cnt > 0,
              (coalesce(col(s"__l${i}s"), lit(0.0)) + coalesce(col(s"__p${i}s"), lit(0.0))) / cnt)
        }
        o.name -> c
      }
      val helperCols = joined.columns.filter(c => c.startsWith("__l") || c.startsWith("__p") ||
        c == "__wp" || c == "__wrn" || c.startsWith("__t"))
      corrected.foldLeft(joined) { case (d, (n, c)) => d.withColumn(n, c) }
        .drop(helperCols: _*)
    }
  }

  // --------------------------------------------------------------------------
  // $fill — gap filling (extension; locf via ignore-nulls window)
  // --------------------------------------------------------------------------
  private def fill(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$fill requires an object") }
    val output = fs.collectFirst { case ("output", JObject(o)) => o }
      .getOrElse(throw GraftException("$fill requires output"))
    val partitionBy = fs.collectFirst { case ("partitionBy", v) => ExprTranslator.translate(v) }
    val sortFields = fs.collectFirst { case ("sortBy", JObject(s)) => s.map {
      case (f, JInt(d)) => (f, d >= 0)
      case (f, _)       => throw GraftException(s"$$fill sortBy direction for $f must be 1/-1")
    }}
    val sortBy = sortFields.map(_.map { case (f, asc) =>
      if (asc) col(f).asc_nulls_first else col(f).desc_nulls_last })
    // Unpartitioned sorted locf: same single-task global-window hazard as
    // $setWindowFields — rewrite as local locf per range partition plus a
    // broadcast carry-in of each prior partition's last non-null value.
    val locfFields = output.collect { case (f, JObject(List(("method", JString("locf"))))) => f }
    val valueFields = output.collect { case (f, JObject(List(("value", v)))) => f -> v }
    if (partitionBy.isEmpty && sortBy.isDefined &&
        locfFields.nonEmpty && locfFields.size + valueFields.size == output.size) {
      ctx.note("two-pass rewrite applied: unpartitioned locf → local fill per range partition + broadcast carry-in")
      val orderCols = sortBy.get
      val parted = df.repartitionByRange(orderCols: _*).withColumn("__wp", spark_partition_id())
      val lwBase = Window.partitionBy(col("__wp")).orderBy(orderCols: _*)
      val lw = lwBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      var local = parted.withColumn("__wrn", row_number().over(lwBase))
      locfFields.zipWithIndex.foreach { case (f, i) =>
        local = local.withColumn(s"__f$i", last(col(f), ignoreNulls = true).over(lw))
      }
      val statAggs = locfFields.indices.map(i => max_by(col(s"__f$i"), col("__wrn")).as(s"__t$i"))
      val stats = local.groupBy(col("__wp")).agg(statAggs.head, statAggs.tail: _*)
      val pw = Window.orderBy(col("__wp")).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = stats.select(col("__wp") +:
        locfFields.indices.map(i => last(col(s"__t$i"), ignoreNulls = true).over(pw).as(s"__p$i")): _*)
      var joined = local.join(broadcast(offsets), "__wp")
      locfFields.zipWithIndex.foreach { case (f, i) =>
        joined = joined.withColumn(f, coalesce(col(s"__f$i"), col(s"__p$i")))
      }
      valueFields.foreach { case (f, v) =>
        joined = joined.withColumn(f, coalesce(col(f), ExprTranslator.translate(v)))
      }
      val helpers = joined.columns.filter(c => c == "__wp" || c == "__wrn" ||
        c.startsWith("__f") || c.startsWith("__p") || c.startsWith("__t"))
      return (joined.drop(helpers: _*), ctx)
    }

    lazy val baseW = {
      val base = partitionBy.map(Window.partitionBy(_)).getOrElse(Window.partitionBy())
      sortBy.map(s => base.orderBy(s: _*)).getOrElse(base)
    }
    lazy val w = baseW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lazy val wNext = baseW.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val newCols = output.map {
      case (field, JObject(List(("method", JString("locf"))))) =>
        field -> last(col(field), ignoreNulls = true).over(w)
      case (field, JObject(List(("method", JString("linear"))))) =>
        // interpolate between the surrounding non-null values by the first
        // sort key — same formula as the $linearFill window operator
        val sf = sortFields.getOrElse(throw GraftException("$fill method linear requires sortBy"))
        val xc = col(sf.head._1).cast("double")
        val e = col(field)
        val point = when(e.isNotNull, struct(xc.as("x"), e.cast("double").as("v")))
        val prev = last(point, ignoreNulls = true).over(w)
        val nxt = first(point, ignoreNulls = true).over(wNext)
        field -> when(e.isNotNull, e.cast("double")).otherwise(
          when(prev.isNotNull && nxt.isNotNull,
            when(nxt.getField("x") === prev.getField("x"), prev.getField("v"))
              .otherwise(prev.getField("v") + (nxt.getField("v") - prev.getField("v")) *
                (xc - prev.getField("x")) / (nxt.getField("x") - prev.getField("x")))))
      case (field, JObject(List(("value", v)))) =>
        field -> coalesce(col(field), ExprTranslator.translate(v))
      case (field, other) =>
        throw GraftException(s"$$fill output for $field must be {method: locf|linear} or {value: expr}, got $other")
    }
    (df.withColumns(newCols.toMap), ctx)
  }

  // --------------------------------------------------------------------------
  // $densify — emit missing steps of a numeric field (extension). The dense
  // axis is built per partition (or globally / fixed bounds) with
  // sequence+explode, then left-joined against the existing rows — two
  // shuffles total, no driver-side generation.
  // --------------------------------------------------------------------------
  private def densify(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$densify requires an object") }
    val field = fs.collectFirst { case ("field", JString(s)) => s }
      .getOrElse(throw GraftException("$densify requires field"))
    val partitions = fs.collectFirst { case ("partitionByFields", JArray(p)) =>
      p.collect { case JString(s) => s } }.getOrElse(Nil)
    val range = fs.collectFirst { case ("range", JObject(r)) => r }
      .getOrElse(throw GraftException("$densify requires range"))
    // integral step → LONG axis, fractional → DOUBLE; with a `unit` the
    // axis is TIMESTAMP and the step an interval (Mongo time-series form).
    // Bounds are cast to the axis type so `sequence` typechecks regardless
    // of the field's width.
    val unit = range.collectFirst { case ("unit", JString(u)) => u }
    val (step, axisType: DataType) = unit match {
      case Some(u) =>
        val n = range.collectFirst {
          case ("step", JInt(s)) => s.toLong
        }.getOrElse(throw GraftException("$densify range requires an integer step with unit"))
        val valid = Set("year", "quarter", "month", "week", "day", "hour", "minute", "second", "millisecond")
        if (!valid(u)) throw GraftException(s"$$densify: unsupported unit $u")
        val iv = if (u == "millisecond") s"interval ${n} millisecond" else s"interval $n $u"
        (expr(iv), TimestampType)
      case None => range.collectFirst {
        case ("step", JInt(s))    => (lit(s.toLong), LongType)
        case ("step", JDouble(s)) => (lit(s), DoubleType)
      }.getOrElse(throw GraftException("$densify range requires numeric step"))
    }
    val boundsSpec = range.collectFirst { case ("bounds", v) => v }.getOrElse(JString("partition"))

    val pcols = partitions.map(col)
    val fieldC = col(field).cast(axisType)
    val bounds = boundsSpec match {
      case JString("partition") =>
        df.groupBy(pcols: _*).agg(min(fieldC).as("__lo"), max(fieldC).as("__hi"))
      case JString("full") =>
        val mm = df.agg(min(fieldC).as("__lo"), max(fieldC).as("__hi"))
        if (partitions.isEmpty) mm
        else df.select(pcols: _*).distinct().crossJoin(broadcast(mm))
      case JArray(List(lo, hi)) =>
        val mm = df.sparkSession.range(1).select(
          ExprTranslator.litOf(lo).cast(axisType).as("__lo"),
          ExprTranslator.litOf(hi).cast(axisType).as("__hi"))
        if (partitions.isEmpty) mm
        else df.select(pcols: _*).distinct().crossJoin(broadcast(mm))
      case other => throw GraftException(s"$$densify bounds must be 'full', 'partition' or [lo, hi], got $other")
    }
    // Mongo $densify never removes documents: output = all original rows
    // plus one gap row (nulls outside field/partition columns) for each
    // on-grid step value that has no exact match.
    // Mongo's explicit [lo, hi] bounds are half-open: hi itself is excluded
    // from the generated grid (partition/full bounds stay inclusive of the
    // observed max, which is an existing document anyway).
    val axisRaw = bounds.select(pcols :+ explode(sequence(col("__lo"), col("__hi"), step)).as(field): _*)
    val axis = boundsSpec match {
      case JArray(List(_, hi)) => axisRaw.filter(col(field) < ExprTranslator.litOf(hi).cast(axisType))
      case _                   => axisRaw
    }
    val existing = df.select(pcols :+ fieldC.as(field): _*).distinct()
    val gaps0 = axis.join(existing, partitions :+ field, "left_anti")
    // under presence tracking a gap document carries exactly the axis and
    // partition fields (Mongo's densify documents contain only those)
    val gaps =
      if (df.columns.contains(PresenceCol))
        gaps0.withColumn(PresenceCol, array((field +: partitions).map(lit): _*))
      else gaps0
    (df.withColumn(field, fieldC).unionByName(gaps, allowMissingColumns = true),
      ctx.copy(order = None))
  }

  // --------------------------------------------------------------------------
  // $graphLookup — BFS over a foreign collection (extension; Mongo-compatible
  // surface incl. restrictSearchWithMatch and array-valued startWith /
  // connectFromField traversal). Iterative distributed joins, one per depth
  // level; the frontier is deduplicated against the visited set per start
  // row, so cycles terminate. Depth capped (default 20).
  // --------------------------------------------------------------------------
  private def graphLookup(df: DataFrame, body: JValue, ctx: PipeCtx): (DataFrame, PipeCtx) = {
    implicit val ec: ExprCtx = exprCtx(df)
    val fs = body match { case JObject(f) => f; case _ => throw GraftException("$graphLookup requires an object") }
    def str(n: String): Option[String] = fs.collectFirst { case (`n`, JString(s)) => s }
    val foreign0 = ctx.collection(str("from").getOrElse(throw GraftException("$graphLookup requires from")))
    // restrictSearchWithMatch: a $match document applied to the foreign
    // collection at EVERY traversal step (Mongo semantics: a restricted
    // document can't be visited, so chains stop at it rather than passing
    // through). The restriction is traversal-invariant, so it pushes down
    // to ONE filter on the foreign scan instead of a per-level re-filter.
    val foreign = fs.collectFirst { case ("restrictSearchWithMatch", m) => m } match {
      case Some(m @ JObject(_)) => foreign0.filter(MatchTranslator.translate(m)(exprCtx(foreign0)))
      case Some(other) => throw GraftException(
        s"$$graphLookup restrictSearchWithMatch must be a query document, got $other")
      case None => foreign0
    }
    val startWith = fs.collectFirst { case ("startWith", v) => v }
      .getOrElse(throw GraftException("$graphLookup requires startWith"))
    val connectFrom = str("connectFromField").getOrElse(throw GraftException("$graphLookup requires connectFromField"))
    val connectTo = str("connectToField").getOrElse(throw GraftException("$graphLookup requires connectToField"))
    val asName = str("as").getOrElse(throw GraftException("$graphLookup requires as"))
    val maxDepth = fs.collectFirst { case ("maxDepth", JInt(d)) => d.toInt }.getOrElse(20)
    val depthField = str("depthField")
    ctx.note("iterative BFS: one distributed equi-join per depth level; per-level durable spill truncates plan lineage, level scratch deleted before the stage returns")

    val withId = df.withColumn("__gid", monotonically_increasing_id())
    val fCols = foreign.columns.toSeq
    val fStruct = struct(fCols.map(col): _*)

    // Per-level lineage truncation via durable spill — the same
    // checkpoint-interval recipe as Dedup.clusterPairs, and for the same
    // reason: `visited` unions every frontier and each frontier anti-joins
    // `visited`, so a persist()-only loop DOUBLES the logical plan per BFS
    // level (persist caches row data, not plan lineage) — at depth ~11
    // (e.g. a binary parent-pointer tree over a few thousand keys, the
    // q_graph_lookup gate) the analyzer alone OOMs the driver. Spilling
    // frontier, matched AND the consolidated visited set makes every
    // level's plan a bounded tree of scan leaves — total analyzer work is
    // LINEAR in depth. The per-level scratch (3 dirs per level) is
    // deleted before the stage returns — the accumulated matches
    // consolidate into ONE final spill that carries the return plan's
    // lineage, so a long session running many $graphLookup stages holds
    // one scratch copy per invocation, not 2×depth (the same
    // clear-end-of-use contract as `$merge`).
    // Array-valued startWith / connectFromField traverse EACH element
    // (Mongo): an array-typed key column explodes into one frontier row
    // per element; the (gid, key) distinct + visited anti-join below then
    // dedups exactly as for scalar keys.
    val connectToType = foreign.select(col(connectTo)).schema.head.dataType
    def explodeKeys(f: DataFrame): DataFrame = {
      val flat = f.schema("__key").dataType match {
        case _: ArrayType => f.select(col("__gid"), explode(col("__key")).as("__key"))
        case _            => f
      }
      // "startWith": null (or an all-null literal connectFrom) yields a
      // void-typed __key; the frame is necessarily empty after the
      // isNotNull filter, but Parquet rejects void schemas even for empty
      // frames — cast to the connectTo type so the spill writes cleanly.
      val typed = flat.schema("__key").dataType match {
        case NullType => flat.withColumn("__key", col("__key").cast(connectToType))
        case _        => flat
      }
      typed.filter(col("__key").isNotNull).distinct()
    }
    val levelScratch = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    def levelSpill(df: DataFrame, prefix: String): DataFrame = {
      val (spilled, path) = graft.ext.Dedup.spillWithPath(df, prefix)
      levelScratch += path
      spilled
    }
    var results: DataFrame = null
    val frontier0 =
      explodeKeys(withId.select(col("__gid"), ExprTranslator.translate(startWith).as("__key")))
    // still void after the connectTo cast ⇒ the foreign connectTo column is
    // itself void-typed, so no key can ever match: skip the BFS entirely
    // (results == null yields the empty-array shape below)
    if (frontier0.schema("__key").dataType != NullType) try {
      var frontier = levelSpill(frontier0, "graft-graphlookup-frontier")
      // visited is consolidated into ONE spilled frame re-written per level
      // (not a union chain of per-level scans): every level's anti-join
      // reads a single scan leaf, so analyzer cost is CONSTANT per level /
      // linear in depth overall. The re-spill rewrites the accumulated
      // visited set each level — O(depth × |visited|) scratch I/O worst
      // case — but visited rows are two numeric fields and BFS depth is
      // bounded, while the union-chain alternative made the depth-d
      // anti-join plan carry d scan leaves (O(depth²) analyzer nodes total,
      // the shape that invited trouble past maxDepth ≈ 48).
      var visited = frontier
      var depth = 0
      var done = false
      while (!done && depth <= maxDepth) {
        val matched = levelSpill(
          foreign.join(frontier, foreign(connectTo) === frontier("__key"))
            .select(col("__gid"), fStruct.as("__doc"),
              col(connectFrom).as("__next"), lit(depth.toLong).as("__depth")),
          "graft-graphlookup-matched")
        if (matched.isEmpty) done = true
        else {
          // unions of spilled levels: plans stay linear in depth
          results = if (results == null) matched else results.unionByName(matched)
          frontier = levelSpill(
            explodeKeys(matched.select(col("__gid"), col("__next").as("__key")))
              .join(visited, Seq("__gid", "__key"), "left_anti"),
            "graft-graphlookup-frontier")
          visited = levelSpill(visited.unionByName(frontier), "graft-graphlookup-visited")
          depth += 1
        }
      }
      // consolidate the kept matches OFF the per-level scratch before it is
      // deleted; this single spill is what the returned plan scans
      if (results != null)
        results = graft.ext.Dedup.spill(results, "graft-graphlookup")
    } finally {
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      levelScratch.foreach(p => p.getFileSystem(hconf).delete(p, true))
    }
    val collected =
      if (results == null)
        withId.select(col("__gid")).limit(0)
          .withColumn(asName, array())
      else {
        val doc = depthField match {
          case Some(dfield) =>
            struct(fCols.map(f => col("__doc").getField(f).as(f)) :+ col("__depth").as(dfield): _*)
          case None => col("__doc")
        }
        results
          // a doc reachable at several depths appears once, at min depth (Mongo)
          .groupBy(col("__gid"), col("__doc")).agg(min(col("__depth")).as("__depth"))
          .groupBy(col("__gid"))
          .agg(transform(array_sort(collect_list(struct(col("__depth").as("d"), doc.as("v")))),
            x => x.getField("v")).as(asName))
      }
    val out = withId.join(collected, Seq("__gid"), "left")
      .withColumn(asName, coalesce(col(asName),
        array().cast(ArrayType(collected.schema(asName).dataType.asInstanceOf[ArrayType].elementType))))
      .drop("__gid")
    (out, ctx)
  }

  private def frameBound(j: JValue): Long = j match {
    case JString("unbounded") => Window.unboundedPreceding
    case JString("current")   => Window.currentRow
    case JInt(i)              => i.toLong
    case _                    => throw GraftException(s"bad window frame bound $j")
  }
}
