package graft.exprs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.model.GraftException

/** Translation context for Mongo-style expressions.
  *
  * @param df    the DataFrame the expression will be evaluated against; used
  *              for type-directed translation (`typeOf`). `None` inside
  *              higher-order-function lambdas where Catalyst lambda variables
  *              cannot be resolved eagerly.
  * @param vars  in-scope `$$variable` bindings (lambda vars for
  *              `$filter`/`$map`/`$reduce`, `let` bindings for `$lookup`).
  * @param rootCols column names that make up `$$ROOT` (engine-internal
  *              columns such as `_seq` are excluded).
  */
final case class ExprCtx(
    df: Option[DataFrame],
    vars: Map[String, Column] = Map.empty,
    rootCols: Seq[String] = Nil
) {
  def withVar(name: String, c: Column): ExprCtx = copy(vars = vars + (name -> c))
  /** Lambda scope: schema-based type resolution is off inside HOF lambdas. */
  def lambda(name: String, c: Column): ExprCtx = copy(df = None, vars = vars + (name -> c))

  /** Resolve the static data type of a column against the bound DataFrame.
    * Pure analysis (no job); enables type-directed translation for the
    * Mongo semantics that depend on runtime type in the reference
    * (truthiness, `$type`, date arithmetic, `$size` on strings, ...). */
  def typeOf(c: Column): Option[DataType] =
    df.flatMap(d => scala.util.Try(d.select(c).schema.head.dataType).toOption)

  def hasField(path: String): Boolean =
    df.exists { d =>
      val top = path.split('.').head
      d.schema.fieldNames.contains(top) &&
        scala.util.Try(d.select(org.apache.spark.sql.functions.col(path)).schema).isSuccess
    }
}

/** Mongo aggregation-expression JSON → Catalyst `Column`.
  *
  * Mirrors the reference evaluator (/root/reference/src/aggo/expressions.ts:
  * 101-477 and operators.ts:59-824) but emits declarative Catalyst trees so
  * Spark's optimizer + whole-stage codegen execute them; there is no
  * interpreter at runtime. The operator set is closed: unknown operators
  * throw, as in the reference (expressions.ts:147-149).
  */
object ExprTranslator {

  def translate(j: JValue)(implicit ctx: ExprCtx): Column = j match {
    case JString(s) if s.startsWith("$$") => variable(s.substring(2))
    case JString(s) if s.startsWith("$")  => fieldPath(s.substring(1))
    case JString(s)                       => lit(s)
    case JInt(i)                          => if (i.isValidInt) lit(i.toInt) else lit(i.toLong)
    case JLong(l)                         => lit(l)
    case JDouble(d)                       => lit(d)
    case JDecimal(d)                      => lit(d.toDouble)
    case JBool(b)                         => lit(b)
    case JNull | JNothing                 => lit(null)
    case JArray(items)                    => array(items.map(translate): _*)
    case JObject(List((op, arg))) if op.startsWith("$") => operator(op, arg)
    case JObject(fields) =>
      fields.collectFirst { case (k, _) if k.startsWith("$") => k }.foreach { k =>
        throw GraftException(s"operator $k cannot be mixed with plain fields in an expression object")
      }
      // literal/expression object → struct (expressions.ts:252-403)
      struct(fields.map { case (k, v) => translate(v).as(k) }: _*)
    case other => throw GraftException(s"unsupported expression literal: $other")
  }

  /** `$field.path` reference. Dotted paths resolve through nested structs.
    * A path that doesn't resolve against the schema — whether the top-level
    * column or a nested field is missing — is a Mongo "missing" value and
    * yields null (SURVEY §7.4.2), never an analysis error. */
  def fieldPath(path: String)(implicit ctx: ExprCtx): Column =
    if (ctx.df.isDefined && !ctx.hasField(path)) lit(null)
    else col(path)

  /** `$$variable` (expressions.ts:405-467). */
  def variable(v: String)(implicit ctx: ExprCtx): Column = {
    val parts = v.split('.')
    val base = parts.head match {
      case "ROOT" | "CURRENT" =>
        if (ctx.rootCols.nonEmpty) struct(ctx.rootCols.map(col): _*)
        else ctx.vars.getOrElse("ROOT", struct(col("*")))
      case "NOW"    => current_timestamp()
      case "REMOVE" =>
        // Handled statically by $project/$addFields (bare value or top-level
        // $cond branch — StageTranslator.removeAware, reference
        // expressions.ts:453-456). Anywhere else there is no faithful
        // translation, so fail loudly rather than silently null.
        throw GraftException(
          "$$REMOVE is only supported as a field value or a top-level $cond " +
            "branch in $project/$addFields; it cannot be nested inside other expressions")
      case name =>
        ctx.vars.getOrElse(name, throw GraftException(s"unknown variable $$$$$name"))
    }
    parts.tail.foldLeft(base)((c, f) => c.getField(f))
  }

  /** Truthiness, type-directed so the common boolean/numeric cases stay
    * codegen-simple. Default is Mongo semantics: null/undefined/false/0 are
    * falsy; everything else (including "" and empty arrays) is truthy.
    * The reference actually applies JS `Boolean()` (operators.ts:60-68),
    * where "" and NaN are ALSO falsy — opt into that with
    * `graft.parity.truthiness=js` on the session (same parity-flag pattern
    * as `graft.parity.avg`). Both modes are pinned in ExprSpec. */
  def truthy(c: Column)(implicit ctx: ExprCtx): Column = {
    val js = ctx.df.exists(_.sparkSession.conf.getOption("graft.parity.truthiness")
      .contains("js"))
    ctx.typeOf(c) match {
      case Some(BooleanType) => coalesce(c, lit(false))
      case Some(t: NumericType) if js && (t == DoubleType || t == FloatType) =>
        coalesce(c =!= lit(0) && !isnan(c), lit(false))
      case Some(_: NumericType) => coalesce(c =!= lit(0), lit(false))
      case Some(StringType) if js => coalesce(c =!= lit(""), lit(false))
      case Some(_)              => c.isNotNull
      case None                 => coalesce(c.cast(BooleanType), c.isNotNull)
    }
  }

  private def argList(v: JValue): List[JValue] = v match {
    case JArray(items) => items
    case single        => List(single)
  }

  private def obj(v: JValue, op: String): List[(String, JValue)] = v match {
    case JObject(fields) => fields
    case _               => throw GraftException(s"$op requires an object argument")
  }

  private def field(fields: List[(String, JValue)], name: String, op: String): JValue =
    fields.collectFirst { case (`name`, v) => v }
      .getOrElse(throw GraftException(s"$op requires '$name'"))

  private def fieldOpt(fields: List[(String, JValue)], name: String): Option[JValue] =
    fields.collectFirst { case (`name`, v) => v }

  /** Pure literal conversion — `$literal` bodies and $match literals: `$`
    * strings are NOT interpreted as field paths here. */
  def litOf(j: JValue): Column = j match {
    case JString(s)    => lit(s)
    case JInt(i)       => if (i.isValidInt) lit(i.toInt) else lit(i.toLong)
    case JLong(l)      => lit(l)
    case JDouble(d)    => lit(d)
    case JDecimal(d)   => lit(d.toDouble)
    case JBool(b)      => lit(b)
    case JNull | JNothing => lit(null)
    case JArray(items) => array(items.map(litOf): _*)
    case JObject(fs)   => struct(fs.map { case (k, v) => litOf(v).as(k) }: _*)
    case other         => throw GraftException(s"unsupported literal $other")
  }

  // Null-lowest three-way comparison pieces (operators.ts:128-205):
  // in Mongo, null sorts below every value.
  private def gtNullLow(a: Column, b: Column): Column =
    (a.isNotNull && b.isNull) || (a > b)
  private def ltNullLow(a: Column, b: Column): Column =
    (a.isNull && b.isNotNull) || (a < b)

  def operator(op: String, arg: JValue)(implicit ctx: ExprCtx): Column = {
    def a1: Column = translate(argList(arg).head)
    lazy val as: List[Column] = argList(arg).map(translate)
    def a(i: Int): Column = as(i)
    def binary: (Column, Column) = argList(arg) match {
      case List(x, y) => (translate(x), translate(y))
      case other      => throw GraftException(s"$op expects 2 arguments, got ${other.size}")
    }

    op match {
      // ---- boolean (operators.ts:59-69) ----
      case "$and" => as.map(truthy).reduceLeft(_ && _)
      case "$or"  => as.map(truthy).reduceLeft(_ || _)
      case "$not" => !truthy(a1)

      // ---- comparison (operators.ts:128-205) ----
      case "$eq"  => { val (x, y) = binary; x <=> y }
      case "$ne"  => { val (x, y) = binary; !(x <=> y) }
      case "$gt"  => { val (x, y) = binary; coalesce(gtNullLow(x, y), lit(false)) }
      case "$gte" => { val (x, y) = binary; coalesce(gtNullLow(x, y) || (x <=> y), lit(false)) }
      case "$lt"  => { val (x, y) = binary; coalesce(ltNullLow(x, y), lit(false)) }
      case "$lte" => { val (x, y) = binary; coalesce(ltNullLow(x, y) || (x <=> y), lit(false)) }
      case "$cmp" =>
        val (x, y) = binary
        when(x.isNull && y.isNull, 0)
          .when(x.isNull, -1).when(y.isNull, 1)
          .when(x < y, -1).when(x > y, 1).otherwise(0)

      // ---- set operators on arrays (operators.ts:72-125); results sorted
      //      to mirror the reference's $asSet (operators.ts:72-75) ----
      case "$setEquals" =>
        if (as.size < 2) throw GraftException(s"$op expects at least 2 arguments, got ${as.size}")
        val sets = as.map(x => array_sort(array_distinct(x)))
        sets.zip(sets.tail).map { case (x, y) => x <=> y }.reduceLeft(_ && _)
      case "$setIntersection" => array_sort(array_distinct(as.reduceLeft(array_intersect)))
      case "$setUnion"        => array_sort(array_distinct(as.reduceLeft(array_union)))
      case "$setDifference"   => { val (x, y) = binary; array_sort(array_distinct(array_except(x, y))) }
      case "$setIsSubset"     => { val (x, y) = binary; size(array_except(array_distinct(x), y)) === 0 }
      case "$anyElementTrue"  => exists(a1, x => truthy(x)(ctx.copy(df = None)))
      case "$allElementsTrue" => forall(a1, x => truthy(x)(ctx.copy(df = None)))

      // ---- arithmetic (operators.ts:208-289) ----
      case "$add" =>
        // Date + numbers → Date (millis); type-directed (operators.ts:208-227)
        val types = as.map(c => ctx.typeOf(c))
        val tsIdx = types.indexWhere(_.contains(TimestampType))
        if (tsIdx >= 0) {
          val others = as.zipWithIndex.collect { case (c, i) if i != tsIdx => c.cast(LongType) }
          val millis = others.reduceOption(_ + _).getOrElse(lit(0L))
          timestamp_millis(unix_millis(as(tsIdx)) + millis)
        } else as.reduceLeft(_ + _)
      case "$subtract" =>
        val (x, y) = binary
        (ctx.typeOf(x), ctx.typeOf(y)) match {
          case (Some(TimestampType), Some(TimestampType)) => unix_millis(x) - unix_millis(y)
          case (Some(TimestampType), _)                   => timestamp_millis(unix_millis(x) - y.cast(LongType))
          case _                                          => x - y
        }
      // The reference snaps every product to 1e-12 with JS Math.round —
      // "normalize floating point noise" (operators.ts:247-253) — so e.g.
      // 0.1*0.2 is 0.02 exactly, not 0.020000000000000004. IEEE precision
      // (what every SQL engine produces) is the default; opt into the
      // reference's snapping with `graft.parity.multiply=reference`. Under
      // the flag the result is always DOUBLE (JS numbers are), and the
      // round is replayed in double space — floor(x+0.5) via pmod, half
      // toward +Infinity like Math.round, with NaN/Infinity passed through
      // (pmod(Inf,1) is NaN, which would otherwise swallow the sign).
      case "$multiply" =>
        val prod = as.reduceLeft(_ * _)
        val reference = ctx.df.exists(_.sparkSession.conf
          .getOption("graft.parity.multiply").contains("reference"))
        if (!reference) prod
        else {
          val scaled = prod.cast(DoubleType) * lit(1e12)
          val shifted = scaled + lit(0.5)
          val rounded = (shifted - pmod(shifted, lit(1.0))) / lit(1e12)
          when(isnan(scaled) || abs(scaled) === lit(Double.PositiveInfinity),
            prod.cast(DoubleType)).otherwise(rounded)
        }
      // reference division is JS IEEE doubles: x/0 → ±Infinity, 0/0 → NaN
      // (operators.ts $divide). Spark ANSI throws instead — a single bad row
      // would kill a whole job — so emit the IEEE result explicitly; the
      // division itself only evaluates on non-zero divisors.
      case "$divide"   =>
        val (x, y) = binary
        val xd = x.cast(DoubleType)
        val yd = y.cast(DoubleType)
        when(yd === 0.0,
          when(xd > 0, lit(Double.PositiveInfinity))
            .when(xd < 0, lit(Double.NegativeInfinity))
            .when(xd === 0, lit(Double.NaN)))
          .otherwise(xd / yd)
      // x % 0 is NaN in JS; null here (NaN would force the whole result to
      // double) — either way it survives the row instead of throwing
      case "$mod"      =>
        val (x, y) = binary
        when(y === 0, lit(null)).otherwise(x % y)
      case "$abs"      => abs(a1)
      case "$ceil"     => ceil(a1)
      case "$floor"    => floor(a1)
      case "$sqrt"     => sqrt(a1)
      case "$pow"      => { val (x, y) = binary; pow(x, y) }
      case "$exp"      => exp(a1)
      // Spark's log/log10 return null for non-positive input; the reference
      // is JS Math.log: 0 → -Infinity, negative → NaN
      case "$ln" =>
        val xd = a1.cast(DoubleType)
        when(xd === 0.0, lit(Double.NegativeInfinity))
          .when(xd < 0, lit(Double.NaN))
          .otherwise(log(xd))
      case "$log10" =>
        val xd = a1.cast(DoubleType)
        when(xd === 0.0, lit(Double.NegativeInfinity))
          .when(xd < 0, lit(Double.NaN))
          .otherwise(log10(xd))
      case "$round" =>
        // Half-up rounding via floor(x·10ᵖ + 0.5)/10ᵖ — pure IEEE double ops,
        // so the result is bit-identical across engines (Spark's built-in
        // `round` goes through BigDecimal.valueOf(double), whose shortest-
        // decimal behavior differs from C-style rounding at half boundaries).
        argList(arg) match {
          case List(x)          => floor(translate(x) + lit(0.5))
          case List(x, JInt(p)) =>
            if (p == 0) floor(translate(x) + lit(0.5))
            else {
              val f = math.pow(10, p.toInt)
              floor(translate(x) * f + lit(0.5)) / lit(f)
            }
          case _ => throw GraftException("$round expects 1-2 args")
        }
      case "$trunc" =>
        // truncate toward zero (cast-to-long semantics), optional place.
        // Values beyond ±2^63-1 saturate under the long cast rather than
        // erroring — acceptable: Mongo doubles lose integer precision past
        // 2^53 anyway, so the magnitudes differ only in already-inexact range.
        argList(arg) match {
          case List(x) => translate(x).cast(LongType)
          case List(x, JInt(p)) =>
            val f = math.pow(10, p.toInt)
            (translate(x) * f).cast(LongType) / lit(f)
          case _ => throw GraftException("$trunc expects 1-2 args")
        }

      // ---- string (operators.ts:292-377) ----
      // reference joins evaluated values with JS Array.join(''), which
      // renders null/undefined as "" (operators.ts:292-294) — not Mongo's
      // null propagation
      case "$concat"  => concat(as.map(c => coalesce(c.cast(StringType), lit(""))): _*)
      case "$substr" | "$substrCP" | "$substrBytes" =>
        argList(arg) match {
          case List(s, st, len) =>
            // reference is JS str.slice(start, start+len) (operators.ts:296-305):
            // 0-indexed, negative indices count from the end, both ends
            // clamped, empty when end <= start
            val str = translate(s).cast(StringType)
            val sl = length(str)
            val stc = translate(st)
            val rawEnd = stc + translate(len)
            val ns = when(stc < 0, greatest(sl + stc, lit(0))).otherwise(least(stc, sl))
            val ne = when(rawEnd < 0, greatest(sl + rawEnd, lit(0))).otherwise(least(rawEnd, sl))
            when(ne > ns, str.substr(ns + lit(1), ne - ns)).otherwise(lit(""))
          case _ => throw GraftException(s"$op expects [string, start, length]")
        }
      case "$toLower" => lower(a1.cast(StringType))
      case "$toUpper" => upper(a1.cast(StringType))
      case "$split" =>
        argList(arg) match {
          case List(s, JString(delim)) if !delim.startsWith("$") =>
            split(translate(s), java.util.regex.Pattern.quote(delim))
          case List(s, d) =>
            // dynamic delimiter: quote via \Q..\E
            split(translate(s), concat(lit("\\Q"), translate(d), lit("\\E")))
          case _ => throw GraftException("$split expects [string, delimiter]")
        }
      // reference: $strLen of null is 0, not null (operators.ts:325-328)
      case "$strLen" | "$strLenCP" | "$strLenBytes" =>
        coalesce(length(a1.cast(StringType)), lit(0))
      case "$trim"  => trimOp(arg, trim, (c, t) => trim(c, t))
      case "$ltrim" => trimOp(arg, ltrim, (c, t) => ltrim(c, t))
      case "$rtrim" => trimOp(arg, rtrim, (c, t) => rtrim(c, t))
      case "$toString" => a1.cast(StringType)
      case "$indexOfCP" | "$indexOfBytes" =>
        argList(arg) match {
          case List(s, sub) => instr(translate(s), translate(sub)) - lit(1)
          case _ => throw GraftException(s"$op expects [string, substring]")
        }
      case "$replaceAll" =>
        obj(arg, op) match {
          case fs =>
            val in = translate(field(fs, "input", op))
            (field(fs, "find", op), field(fs, "replacement", op)) match {
              case (JString(f), JString(r)) if !f.startsWith("$") && !r.startsWith("$") =>
                regexp_replace(in, java.util.regex.Pattern.quote(f), java.util.regex.Matcher.quoteReplacement(r))
              case (f, r) => regexp_replace(in, concat(lit("\\Q"), translate(f), lit("\\E")), translate(r))
            }
        }
      case "$regexMatch" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val rx = field(fs, "regex", op) match {
          case JString(r) => r
          case other      => throw GraftException("$regexMatch regex must be a string literal")
        }
        val opts = fieldOpt(fs, "options").collect { case JString(o) => o }.getOrElse("")
        in.rlike(MatchTranslator.withFlags(rx, opts))

      // ---- array (operators.ts:380-526) ----
      case "$size" =>
        ctx.typeOf(a1) match {
          case Some(StringType) => length(a1) // reference quirk: counts string length (operators.ts:380-386)
          case _                => size(a1)
        }
      case "$arrayElemAt" =>
        val (arr, idx) = binary
        // Mongo 0-based; negative wraps from end; out-of-bounds → missing
        // (null). try_element_at because ANSI element_at throws instead.
        when(idx >= 0, try_element_at(arr, (idx + 1).cast(IntegerType)))
          .otherwise(try_element_at(arr, idx.cast(IntegerType)))
      case "$first" => try_element_at(a1, lit(1))   // expression form: first array element
      case "$last"  => try_element_at(a1, lit(-1))
      case "$filter" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val asName = fieldOpt(fs, "as").collect { case JString(s) => s }.getOrElse("this")
        val cond = field(fs, "cond", op)
        filter(in, x => truthy(translate(cond)(ctx.lambda(asName, x)))(ctx.copy(df = None)))
      case "$map" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val asName = fieldOpt(fs, "as").collect { case JString(s) => s }.getOrElse("this")
        val body = field(fs, "in", op)
        transform(in, x => translate(body)(ctx.lambda(asName, x)))
      case "$reduce" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val init0 = translate(field(fs, "initialValue", op))
        // Spark's `aggregate` requires zero type == merge-result type; a
        // numeric init is widened to the array's element numeric type so
        // `0` works as the zero of a bigint/double array (Mongo: untyped).
        val init = (field(fs, "initialValue", op), ctx.typeOf(in)) match {
          case (JInt(_) | JLong(_) | JDouble(_) | JDecimal(_), Some(ArrayType(et: NumericType, _))) =>
            val initT = field(fs, "initialValue", op) match {
              case JDouble(_) | JDecimal(_) => DoubleType
              case _                        => IntegerType
            }
            val widened: DataType =
              if (initT == DoubleType || et == DoubleType || et == FloatType) DoubleType
              else if (et == LongType) LongType
              else et
            init0.cast(widened)
          case _ => init0
        }
        val body = field(fs, "in", op)
        aggregate(in, init, (acc, x) =>
          translate(body)(ctx.lambda("value", acc).copy(vars = ctx.vars + ("value" -> acc) + ("this" -> x), df = None)))
      case "$slice" =>
        argList(arg) match {
          case List(arr, n) =>
            val c = translate(arr); val nc = translate(n)
            // n>0: first n; n<0: last n (operators.ts $slice)
            when(nc >= 0, slice(c, lit(1), nc.cast(IntegerType)))
              .otherwise(slice(c, nc.cast(IntegerType), size(c)))
          case List(arr, pos, n) =>
            val c = translate(arr); val p = translate(pos); val nc = translate(n)
            // position may be negative (from end); n must be positive
            when(p >= 0, slice(c, (p + 1).cast(IntegerType), nc.cast(IntegerType)))
              .otherwise(slice(c, p.cast(IntegerType), nc.cast(IntegerType)))
          case _ => throw GraftException("$slice expects 2-3 args")
        }
      case "$concatArrays" => concat(as: _*)
      case "$in" => { val (v, arr) = binary; array_contains(arr, v) }
      case "$indexOfArray" =>
        argList(arg) match {
          case List(arr, v) =>
            (array_position(translate(arr), translate(v)) - 1).cast(IntegerType)
          case List(arr, v, st) =>
            val c = translate(arr); val sc = translate(st)
            val p = array_position(slice(c, (sc + 1).cast(IntegerType), size(c)), translate(v))
            when(p === 0, -1).otherwise(p - 1 + sc).cast(IntegerType)
          case List(arr, v, st, en) =>
            // 4-arg form scans [start, min(end, len)) — operators.ts:500-519
            val c = translate(arr); val sc = translate(st); val ec = translate(en)
            val winLen = greatest(least(ec, size(c)) - sc, lit(0))
            val p = array_position(
              slice(c, (sc + 1).cast(IntegerType), winLen.cast(IntegerType)), translate(v))
            when(p === 0, -1).otherwise(p - 1 + sc).cast(IntegerType)
          case _ => throw GraftException("$indexOfArray expects 2-4 args")
        }
      case "$reverseArray" => reverse(a1)
      case "$sortArray" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val dir = fieldOpt(fs, "sortBy").collect { case JInt(d) => d.toInt }.getOrElse(1)
        if (dir >= 0) array_sort(in) else reverse(array_sort(in))
      case "$range" =>
        // Mongo: empty array when the step direction can't reach end from
        // start; negative steps count down. Guarded because Spark's
        // `sequence` infers a direction (or throws) instead.
        def emptyLike(s: Column): Column = slice(sequence(s, s), 1, 0)
        argList(arg) match {
          case List(s, e) =>
            val (sc, ecol) = (translate(s), translate(e))
            when(ecol > sc, sequence(sc, ecol - 1)).otherwise(emptyLike(sc))
          case List(s, e, st) =>
            val (sc, ecol, stc) = (translate(s), translate(e), translate(st))
            when(stc > 0 && ecol > sc, sequence(sc, ecol - 1, stc))
              .when(stc < 0 && ecol < sc, sequence(sc, ecol + 1, stc))
              .otherwise(emptyLike(sc))
          case _ => throw GraftException("$range expects 2-3 args")
        }
      case "$zip" =>
        // operators.ts $zip: result length = shortest input by default;
        // useLongestLength pads with per-input defaults (null if absent);
        // any null/missing input → null. Mongo emits array-of-arrays; we
        // emit array-of-structs with positional field names ("0","1",...)
        // so heterogeneous element types stay statically typed.
        val fs = obj(arg, op)
        val inputs = field(fs, "inputs", op) match {
          case JArray(xs) if xs.nonEmpty => xs.map(translate)
          case _ => throw GraftException("$zip requires a non-empty 'inputs' array")
        }
        val useLongest = fieldOpt(fs, "useLongestLength")
          .collect { case JBool(b) => b }.getOrElse(false)
        // A missing field / literal null input is statically VOID-typed and
        // can't feed element_at; Mongo's answer is null regardless.
        if (inputs.exists(in => ctx.typeOf(in).contains(NullType)))
          return lit(null)
        val dcols: List[Column] = fieldOpt(fs, "defaults") match {
          case Some(JArray(ds)) if useLongest =>
            if (ds.size != inputs.size)
              throw GraftException("$zip 'defaults' must have one entry per input")
            ds.map(translate)
          case _ => inputs.map(_ => lit(null))
        }
        val outLen =
          if (useLongest) inputs.map(size).reduce(greatest(_, _))
          else inputs.map(size).reduce(least(_, _))
        // sequence() infers direction, so floor the bound at 1 and slice
        // back down — slice(x, 1, 0) is the typed empty array.
        val body = slice(
          transform(sequence(lit(1), greatest(outLen, lit(1))), i =>
            struct(inputs.zip(dcols).zipWithIndex.map { case ((in, d), k) =>
              when(i <= size(in), element_at(in, i)).otherwise(d).as(k.toString)
            }: _*)),
          lit(1), outLen)
        when(inputs.map(_.isNull).reduce(_ || _), lit(null)).otherwise(body)
      case "$isArray" =>
        ctx.typeOf(a1) match {
          case Some(_: ArrayType) => a1.isNotNull
          case Some(_)            => lit(false)
          case None               => a1.isNotNull
        }

      // ---- array-aggregating forms of accumulators (operators.ts:529-574) ----
      case "$sum" | "$avg" | "$min" | "$max" =>
        val c = a1
        ctx.typeOf(c) match {
          case Some(ArrayType(et, _)) =>
            val arr = filter(c, x => x.isNotNull)
            op match {
              case "$sum" => coalesce(aggregate(arr, lit(0.0), (acc, x) => acc + x.cast(DoubleType)), lit(0.0))
              case "$avg" => when(size(arr) > 0,
                aggregate(arr, lit(0.0), (acc, x) => acc + x.cast(DoubleType)) / size(arr))
              case "$min" => array_min(arr)
              case "$max" => array_max(arr)
            }
          case _ =>
            // scalar form: $sum of a single value = the value (0 if null)
            op match {
              case "$sum" => coalesce(c, lit(0))
              case "$avg" => c
              case "$min" => c
              case "$max" => c
            }
        }

      // ---- date (operators.ts:577-642); session TZ = UTC ----
      case "$year"       => year(a1)
      case "$month"      => month(a1)
      case "$dayOfMonth" => dayofmonth(a1)
      case "$dayOfWeek"  => dayofweek(a1) // 1=Sunday..7=Saturday, matches Mongo
      case "$dayOfYear"  => dayofyear(a1)
      case "$hour"       => hour(a1)
      case "$minute"     => minute(a1)
      case "$second"     => second(a1)
      case "$millisecond" => (unix_millis(a1) % 1000).cast(IntegerType)
      case "$week" =>
        // Mongo $week: weeks start Sunday; days before the first Sunday are
        // week 0 (reference: operators.ts:610-618, standardized to UTC).
        val d = a1
        val jan1 = trunc(d, "year")
        val firstSunday = (lit(8) - dayofweek(jan1)) % 7 + 1
        floor((dayofyear(d) - firstSunday + 7) / 7).cast(IntegerType)
      case "$dateToString" =>
        val fs = obj(arg, op)
        val d = translate(field(fs, "date", op))
        val fmt = fieldOpt(fs, "format").collect { case JString(s) => s }.getOrElse("%Y-%m-%dT%H:%M:%S.%LZ")
        date_format(d, mongoDateFormat(fmt))

      // ---- conditional (operators.ts:644-670, expressions.ts:152-198) ----
      case "$cond" =>
        arg match {
          case JArray(List(i, t, e)) =>
            when(truthy(translate(i)), translate(t)).otherwise(translate(e))
          case JObject(fs) =>
            val i = field(fs, "if", op); val t = field(fs, "then", op); val e = field(fs, "else", op)
            when(truthy(translate(i)), translate(t)).otherwise(translate(e))
          case _ => throw GraftException("$cond expects [if,then,else] or {if,then,else}")
        }
      case "$ifNull" | "$coalesce" => coalesce(as: _*)
      case "$switch" =>
        val fs = obj(arg, op)
        val branches = field(fs, "branches", op) match {
          case JArray(bs) => bs.map { b =>
            val bf = obj(b, "$switch branch")
            (truthy(translate(field(bf, "case", op))), translate(field(bf, "then", op)))
          }
          case _ => throw GraftException("$switch branches must be an array")
        }
        val default = fieldOpt(fs, "default").map(translate).getOrElse(lit(null))
        branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
          case (acc, (c, t)) => acc.when(c, t)
        }.otherwise(default)

      // ---- type (operators.ts:673-696) ----
      case "$type" =>
        val c = a1
        val staticName = ctx.typeOf(c).map {
          case StringType                 => "string"
          case _: NumericType             => "number"
          case BooleanType                => "bool"
          case TimestampType | DateType   => "date"
          case _: ArrayType               => "array"
          case _: StructType | _: MapType => "object"
          case NullType                   => "null"
          case _                          => "string"
        }.getOrElse("string")
        when(c.isNull, lit("null")).otherwise(lit(staticName))
      case "$isNumber" =>
        ctx.typeOf(a1) match {
          case Some(_: NumericType) => a1.isNotNull
          case Some(_)              => lit(false)
          case None                 => a1.isNotNull && a1.cast(DoubleType).isNotNull
        }
      case "$toInt"    => a1.cast(IntegerType)
      case "$toLong"   => a1.cast(LongType)
      case "$toDouble" => a1.cast(DoubleType)
      case "$toBool"   => a1.cast(BooleanType)
      // $convert {input, to, onError, onNull}: try_cast gives the
      // error-absorbing behavior (ANSI cast would throw), onError replaces
      // failed conversions, onNull replaces null inputs.
      case "$convert" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val to = strField(fs, "to", op)
        val dt: DataType = to match {
          case "int"               => IntegerType
          case "long"              => LongType
          case "double"            => DoubleType
          case "decimal"           => DecimalType(38, 10)
          case "bool"              => BooleanType
          case "string"            => StringType
          case "date" | "timestamp" => TimestampType
          case other               => throw GraftException(s"$$convert: unsupported target type $other")
        }
        val converted = in.try_cast(dt)
        val withErr = fieldOpt(fs, "onError").map(translate) match {
          case Some(e) => when(in.isNotNull && converted.isNull, e).otherwise(converted)
          case None    => converted
        }
        fieldOpt(fs, "onNull").map(translate) match {
          case Some(n) => when(in.isNull, n).otherwise(withErr)
          case None    => withErr
        }
      case "$toDate" =>
        ctx.typeOf(a1) match {
          case Some(_: NumericType) => timestamp_millis(a1.cast(LongType))
          case _                    => a1.cast(TimestampType)
        }

      // ---- object (operators.ts:699-714) ----
      case "$mergeObjects" =>
        // Shallow merge of struct-typed operands; later non-missing wins.
        // Requires static shapes (type-directed).
        val typed = as.map(c => (c, ctx.typeOf(c)))
        val allFields = scala.collection.mutable.LinkedHashMap[String, Column]()
        typed.foreach {
          case (c, Some(st: StructType)) =>
            st.fieldNames.foreach(f => allFields(f) = c.getField(f))
          case (_, other) =>
            throw GraftException(s"$$mergeObjects requires struct operands, got $other")
        }
        struct(allFields.map { case (f, c) => c.as(f) }.toSeq: _*)

      case "$literal" => litOf(arg)

      // ---- $let: scoped variable bindings (expressions.ts vars handling) —
      // vars are independent (reference outer scope only, like Mongo) ----
      case "$let" =>
        val fs = obj(arg, op)
        val vars = field(fs, "vars", op) match {
          case JObject(vs) => vs.map { case (n, v) => n -> translate(v) }
          case other       => throw GraftException(s"$$let vars must be an object, got $other")
        }
        val inner = vars.foldLeft(ctx) { case (c, (n, v)) => c.withVar(n, v) }
        translate(field(fs, "in", op))(inner)

      // ---- ISO 8601 date parts ----
      case "$isoWeek"      => weekofyear(a1)
      case "$isoDayOfWeek" => weekday(a1) + 1 // 1=Monday..7=Sunday
      case "$isoWeekYear"  =>
        // year of the ISO week = year of that week's Thursday
        year(date_add(a1.cast(DateType), lit(3) - weekday(a1)))

      case "$getField" =>
        arg match {
          case JString(f) => variable("CURRENT").getField(f)
          case _ =>
            val fs = obj(arg, op)
            val f = field(fs, "field", op) match {
              case JString(s) => s
              case _ => throw GraftException("$getField field must be a string")
            }
            translate(field(fs, "input", op)).getField(f)
        }

      // ---- $setField / $unsetField (Mongo 5.0 surface; extension).
      // ---- Static field names only (dynamic names would need MapType). ----
      case "$setField" =>
        val fs = obj(arg, op)
        val f = strField(fs, "field", op)
        val in = translate(field(fs, "input", op))
        in.withField(f, translate(field(fs, "value", op)))
      case "$unsetField" =>
        val fs = obj(arg, op)
        val f = strField(fs, "field", op)
        translate(field(fs, "input", op)).dropFields(f)

      // ---- date arithmetic (MongoDB 5.0 surface; extension beyond the
      // ---- reference's operator set) ----
      case "$dateAdd" | "$dateSubtract" =>
        val fs = obj(arg, op)
        val d = translate(field(fs, "startDate", op)).cast(TimestampType)
        val unit = strField(fs, "unit", op)
        val amt0 = translate(field(fs, "amount", op)).cast(LongType)
        dateAddUnit(d, unit, if (op == "$dateSubtract") -amt0 else amt0)
      case "$dateDiff" =>
        val fs = obj(arg, op)
        val s = translate(field(fs, "startDate", op)).cast(TimestampType)
        val e = translate(field(fs, "endDate", op)).cast(TimestampType)
        val unit = strField(fs, "unit", op)
        // Mongo counts unit-boundary crossings, not elapsed full units
        unit match {
          case "year"    => (year(e) - year(s)).cast(LongType)
          case "quarter" => ((year(e) * 4 + quarter(e)) - (year(s) * 4 + quarter(s))).cast(LongType)
          case "month"   => ((year(e) * 12 + month(e)) - (year(s) * 12 + month(s))).cast(LongType)
          case "week"    => (datediff(sundayTrunc(e), sundayTrunc(s)) / 7).cast(LongType)
          case "day"     => datediff(e.cast(DateType), s.cast(DateType)).cast(LongType)
          case "hour" | "minute" | "second" =>
            val secs = Map("hour" -> 3600L, "minute" -> 60L, "second" -> 1L)(unit)
            ((unix_seconds(date_trunc(unit, e)) - unix_seconds(date_trunc(unit, s))) / secs).cast(LongType)
          case "millisecond" => unix_millis(e) - unix_millis(s)
          case u => throw GraftException(s"$op: unsupported unit $u")
        }
      case "$dateTrunc" =>
        val fs = obj(arg, op)
        val d = translate(field(fs, "date", op)).cast(TimestampType)
        val unit = strField(fs, "unit", op)
        fieldOpt(fs, "binSize").foreach {
          case JInt(b) if b == 1 => // default
          case other => throw GraftException(s"$op: only binSize 1 is supported, got $other")
        }
        unit match {
          case "week" => sundayTrunc(d).cast(TimestampType) // Mongo default startOfWeek=Sunday
          case u @ ("year" | "quarter" | "month" | "day" | "hour" | "minute" | "second") =>
            date_trunc(u, d)
          case u => throw GraftException(s"$op: unsupported unit $u")
        }
      case "$dateFromString" =>
        val fs = obj(arg, op)
        val s = translate(field(fs, "dateString", op)).cast(StringType)
        fieldOpt(fs, "format").collect { case JString(f) => f } match {
          case Some(f) => to_timestamp(s, mongoDateFormat(f))
          case None    => s.cast(TimestampType)
        }
      case "$dateFromParts" =>
        val fs = obj(arg, op)
        def part(n: String, dflt: Int): Column =
          fieldOpt(fs, n).map(translate(_).cast(IntegerType)).getOrElse(lit(dflt))
        val secs = part("second", 0).cast(DecimalType(16, 6)) +
          fieldOpt(fs, "millisecond").map(translate(_).cast(DecimalType(16, 6)) / 1000)
            .getOrElse(lit(java.math.BigDecimal.ZERO))
        call_function("make_timestamp",
          translate(field(fs, "year", op)).cast(IntegerType),
          part("month", 1), part("day", 1), part("hour", 0), part("minute", 0), secs)

      // ---- object ⇄ array (MongoDB 3.4.4 surface; extension) ----
      case "$objectToArray" =>
        ctx.typeOf(a1) match {
          case Some(st: StructType) =>
            // mixed value types widen to string — same policy as ingest
            val widen = st.fields.map(_.dataType).distinct.length > 1
            array(st.fields.map { f =>
              val v = a1.getField(f.name)
              struct(lit(f.name).as("k"), (if (widen) v.cast(StringType) else v).as("v"))
            }.toSeq: _*)
          case Some(_: MapType) =>
            transform(map_entries(a1), e =>
              struct(e.getField("key").as("k"), e.getField("value").as("v")))
          case other => throw GraftException(s"$$objectToArray requires an object operand, got $other")
        }
      case "$arrayToObject" =>
        // Dynamic keys cannot form a static struct — the result is a map
        // (later duplicate keys win, as in Mongo).
        ctx.typeOf(a1) match {
          case Some(ArrayType(st: StructType, _)) if st.fieldNames.contains("k") =>
            map_from_entries(transform(a1, x => struct(x.getField("k"), x.getField("v"))))
          case Some(ArrayType(_: ArrayType, _)) =>
            map_from_entries(transform(a1, x =>
              struct(try_element_at(x, lit(1)), try_element_at(x, lit(2)))))
          case other => throw GraftException(s"$$arrayToObject requires [{k,v}] or [[k,v]] operand, got $other")
        }

      // ---- regex find: full Mongo {match, idx, captures} shape via the
      // native one-pass expression (graft.exprs.catalyst.RegexFindAllExpr);
      // non-participating groups are null captures entries ----
      case "$regexFind" | "$regexFindAll" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op)).cast(StringType)
        val re0 = strField(fs, "regex", op)
        val opts = fieldOpt(fs, "options").collect { case JString(o) => o }.getOrElse("")
        val re = if (opts.nonEmpty) s"(?$opts)$re0" else re0
        val all = graft.exprs.catalyst.GraftFunctions.regexFindAll(in, re)
        // $regexFind = first occurrence or null (Mongo returns null, not a
        // missing field, when nothing matches)
        if (op == "$regexFindAll") all else try_element_at(all, lit(1))

      // ---- randomness (seeded → deterministic per run; documented) ----
      case "$rand" => rand(42L)

      // ---- bitwise (MongoDB 6.3 surface; extension) ----
      case "$bitAnd" => as.reduceLeft(_ bitwiseAND _)
      case "$bitOr"  => as.reduceLeft(_ bitwiseOR _)
      case "$bitXor" => as.reduceLeft(_ bitwiseXOR _)
      case "$bitNot" => bitwise_not(a1)

      // ---- N-variant array expressions (MongoDB 5.2 surface) ----
      case "$firstN" | "$lastN" | "$minN" | "$maxN" =>
        val fs = obj(arg, op)
        val in = translate(field(fs, "input", op))
        val n = translate(field(fs, "n", op)).cast(IntegerType)
        op match {
          case "$firstN" => slice(in, lit(1), n)
          case "$lastN"  => when(size(in) <= n, in).otherwise(slice(in, -n, n))
          // min/max ignore nulls, as the accumulator forms do
          case "$minN"   => slice(array_sort(filter(in, x => x.isNotNull)), lit(1), n)
          case "$maxN"   => slice(reverse(array_sort(filter(in, x => x.isNotNull))), lit(1), n)
        }

      case other => throw new graft.model.OperatorError(s"unknown expression operator $other")
    }
  }

  /** Mongo `$dateAdd` by unit: calendar units go through `add_months` with
    * the time-of-day re-applied (day-of-month clamping matches Mongo);
    * fixed-width units are micros arithmetic. UTC session — no DST. */
  private def dateAddUnit(d: Column, unit: String, amt: Column): Column = unit match {
    case "year" | "quarter" | "month" =>
      val months = unit match {
        case "year"    => amt * 12
        case "quarter" => amt * 3
        case "month"   => amt
      }
      val newDay = add_months(d.cast(DateType), months.cast(IntegerType))
      val timeOfDay = unix_micros(d) - unix_micros(d.cast(DateType).cast(TimestampType))
      timestamp_micros(unix_micros(newDay.cast(TimestampType)) + timeOfDay)
    case "week" | "day" | "hour" | "minute" | "second" | "millisecond" =>
      val micros = Map("week" -> 7L * 86400000000L, "day" -> 86400000000L,
        "hour" -> 3600000000L, "minute" -> 60000000L, "second" -> 1000000L,
        "millisecond" -> 1000L)(unit)
      timestamp_micros(unix_micros(d) + amt * micros)
    case u => throw GraftException(s"$$dateAdd: unsupported unit $u")
  }

  /** Truncate to the preceding (or same) Sunday — Mongo's default week start. */
  private def sundayTrunc(d: Column): Column =
    date_sub(d.cast(DateType), dayofweek(d) - lit(1))

  private def strField(fs: List[(String, JValue)], name: String, op: String): String =
    fs.collectFirst { case (`name`, JString(s)) => s }
      .getOrElse(throw GraftException(s"$op requires string '$name'"))

  private def trimOp(arg: JValue, simple: Column => Column,
                     withChars: (Column, String) => Column)(implicit ctx: ExprCtx): Column =
    arg match {
      case JObject(fs) =>
        val in = translate(fs.collectFirst { case ("input", v) => v }
          .getOrElse(throw GraftException("trim requires 'input'")))
        fs.collectFirst { case ("chars", JString(c)) => c } match {
          case Some(c) => withChars(in.cast(StringType), c)
          case None    => simple(in.cast(StringType))
        }
      case v => simple(translate(v).cast(StringType))
    }

  /** Translate Mongo `$dateToString` format specifiers to java.time patterns.
    * Literal letters (e.g. the `T`/`Z` of ISO timestamps) are single-quoted —
    * unquoted they are (invalid or zone) pattern letters in java.time. */
  def mongoDateFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'L' => sb.append("SSS")
          case 'j' => sb.append("DDD")
          case '%' => sb.append('%')
          case o   => sb.append(s"'$o'")
        }
        i += 2
      } else if (c.isLetter) { sb.append(s"'$c'"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
