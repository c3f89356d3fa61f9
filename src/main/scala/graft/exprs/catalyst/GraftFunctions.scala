package graft.exprs.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for cosine similarity over `array<float>`
  * embeddings.
  *
  * This is the codegen tier of the extension preference order (compose
  * built-ins → native `Expression` → UDF → mapPartitions): unlike the
  * ScalaUDF kernel it participates in whole-stage codegen with no
  * row-boxing and no Scala-collection conversion per row — the generated
  * Java is the same tight loop a hand-written engine would run. The
  * accumulation order (sequential fold) matches `Kernels.cosineKernel` and
  * the declarative `Similarity.cosine`, so all three produce bit-identical
  * doubles.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // Both arguments arrive as array<float>: GraftFunctions.cosine wraps
  // each in a Coerce to that type.
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d > 0) java.lang.Double.valueOf(dot / d) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double x = (double) $a.getFloat(i);
         |  double y = (double) $b.getFloat(i);
         |  dot += x * y; na += x * x; nb += y * y;
         |}
         |double d = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb);
         |if (d > 0) { ${ev.value} = dot / d; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Float-array dot product as a native codegen expression — the cosine's
  * numerator alone, for callers that hoist the norms: cosine recomputes
  * BOTH vector norms per pair, which is 3 multiply-adds per element, but
  * an all-pairs stage (semDedup's in-cluster sweep is O(cluster²) pairs)
  * touches each vector ~cluster times — precomputing `sqrt(dot(v,v))` once
  * per vector and dividing the pair dot by the norm product does the same
  * arithmetic (identical ascending summation order and the identical
  * `sqrt(na)*sqrt(nb)` product, so the result is bit-for-bit the cosine)
  * at 1/3 of the per-pair flops. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0;
         |for (int i = 0; i < n; i++) {
         |  dot += (double) $a.getFloat(i) * (double) $b.getFloat(i);
         |}
         |${ev.value} = dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Unicode NFC normalization as a native codegen expression.
  *
  * Spark has no built-in Unicode normalizer, and a corpus scrubbed for
  * training MUST canonicalize before any hash-based dedup — "café" composed
  * and decomposed are different byte strings with identical rendering, so
  * unnormalized text defeats exact dedup, fingerprinting and n-gram
  * matching. `java.text.Normalizer` is the JDK's ICU-derived implementation;
  * the generated code calls it directly with no row boxing, keeping the
  * normalize inside whole-stage codegen like any built-in string function.
  * (DuckDB's `nfc_normalize` is the independent oracle.)
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All regex matches of a string with their offsets and capture groups, in
  * one pass: `array<struct<match string, idx int, captures array<string>>>`
  * — the MongoDB `$regexFind`/`$regexFindAll` result shape. A native
  * expression because no composition of built-ins yields per-occurrence
  * offsets AND per-group captures without re-running the regex 2+g times;
  * here one `Matcher` walk produces everything. Non-participating groups
  * are null captures entries (Mongo semantics — `regexp_extract` would
  * flatten them to ""). `idx` is the UTF-16 offset, consistent with the
  * JVM regex engine Spark's own regexp functions run on. The pattern is a
  * plan-time literal, compiled once per expression instance. */
case class RegexFindAllExpr(child: Expression, pattern: String) extends UnaryExpression {
  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  override def dataType: DataType = RegexFindAllExpr.resultType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_regex_find_all"

  override def nullSafeEval(input: Any): Any =
    RegexFindAllExpr.findAll(compiled, input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("graftRegexPattern", compiled,
      classOf[java.util.regex.Pattern].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.catalyst.RegexFindAllExpr.findAll($patRef, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexFindAllExpr {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("match", StringType, nullable = false),
    StructField("idx", IntegerType, nullable = false),
    StructField("captures", ArrayType(StringType, containsNull = true), nullable = false))),
    containsNull = false)

  /** Shared by interpreted eval and generated code. */
  def findAll(pattern: java.util.regex.Pattern,
              input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = input.toString
    val m = pattern.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    while (m.find()) {
      val caps = new Array[Any](m.groupCount())
      var g = 0
      while (g < m.groupCount()) {
        val c = m.group(g + 1)
        caps(g) = if (c == null) null
                  else org.apache.spark.unsafe.types.UTF8String.fromString(c)
        g += 1
      }
      out += org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(m.group(0)),
        // MongoDB reports idx in code points, not UTF-16 code units —
        // Matcher.start() alone would diverge on supplementary characters
        s.codePointCount(0, m.start()),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(caps))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** An argument of a native function cast to the type the function reads,
  * unless it already has that type (for arrays, the element type). The
  * choice needs the argument's resolved type, which a Column builder does
  * not have, so it is made during analysis; the optimizer then swaps the
  * node for its result, so optimized plans hold the bare argument or its
  * Cast. */
case class Coerce(child: Expression, to: DataType, fn: String)
    extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = (child.dataType, to) match {
    case (ArrayType(e, _), ArrayType(t, _)) if e == t => child
    case (_: ArrayType, _: ArrayType) => Cast(child, to)
    case (other, _: ArrayType) => throw new graft.model.ExpressionError(
      s"$fn requires an array argument, got $other")
    case (t, _) if t == to => child
    case _ => Cast(child, to)
  }
  // column names derived from a call read as they did with a plain argument
  override def sql: String = child.sql
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft's native functions as Columns. Each builder constructs its Catalyst
  * expression directly, so a plan that uses one resolves in any session with
  * nothing registered. [[register]] exposes the same builders to Spark SQL
  * under the `*Name`s. */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftColumns.{column, expression}

  val CosineName = "graft_cosine"
  val DotName = "graft_dot"
  val NfcName = "graft_nfc"
  val RegexFindAllName = "graft_regex_find_all"
  val TopKName = "graft_top_k"
  val MightContainName = "graft_bloom_might_contain"
  val HashedShinglesName = "graft_hashed_shingles"
  val MinhashSigName = "graft_minhash_sig"
  val BandKeysName = "graft_band_keys"
  val Jaccard64Name = "graft_jaccard64"
  val Int8DotName = "graft_int8_dot"
  val ClassifierSumName = "graft_classifier_sum"
  val WordGramsName = "graft_word_grams"
  val PositionalGramsName = "graft_positional_grams"
  val SpanCutName = "graft_span_cut"

  private def as(fn: String, to: DataType)(c: Column): Expression =
    Coerce(expression(c), to, fn)
  private val floats = ArrayType(FloatType)
  private val longs = ArrayType(LongType)
  private val bytes = ArrayType(ByteType)

  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarityExpr(as(CosineName, floats)(a), as(CosineName, floats)(b)))

  def dot(a: Column, b: Column): Column =
    column(DotProductExpr(as(DotName, floats)(a), as(DotName, floats)(b)))

  def nfc(text: Column): Column = column(NfcNormalizeExpr(as(NfcName, StringType)(text)))

  def regexFindAll(input: Column, pattern: String): Column =
    column(RegexFindAllExpr(as(RegexFindAllName, StringType)(input), pattern))

  /** Bounded-heap top-k (native TypedImperativeAggregate): values of
    * `value` for the k best rows by `key`, ordered best-first. Null keys are
    * ignored, like Mongo's `$minN`/`$maxN`. */
  def topK(key: Column, value: Column, k: Int, smallest: Boolean): Column =
    column(BoundedTopKAggregate(expression(key), expression(value), k, smallest)
      .toAggregateExpression())

  /** Spark's own codegen'd Bloom probe (not in the public registry): the
    * filter as a foldable binary, the value as an xxhash64 long. */
  def mightContain(bloom: Column, value: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(value)))

  def hashedShingles(text: Column, n: Int): Column =
    column(HashedShinglesExpr(as(HashedShinglesName, StringType)(text), n))

  def minhashSig(hashes: Column, numHashes: Int, seed: Long): Column =
    column(MinhashSigExpr(as(MinhashSigName, longs)(hashes), numHashes, seed))

  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column(BandKeysExpr(as(BandKeysName, longs)(sig), bands, rowsPerBand))

  def jaccard64(a: Column, b: Column): Column =
    column(JaccardSortedExpr(as(Jaccard64Name, longs)(a), as(Jaccard64Name, longs)(b)))

  def int8Dot(a: Column, b: Column): Column =
    column(Int8DotExpr(as(Int8DotName, bytes)(a), as(Int8DotName, bytes)(b)))

  def classifierSum(tokens: Column, weights: Array[Double]): Column =
    column(ClassifierSumExpr(expression(tokens), weights))

  def wordGrams(tokens: Column, k: Int): Column =
    column(WordGramsExpr(expression(tokens), k))

  def positionalGrams(tokens: Column, n: Int): Column =
    column(PositionalGramsExpr(expression(tokens), n))

  def spanCut(tokens: Column, starts: Column, n: Int): Column =
    column(SpanCutExpr(expression(tokens), expression(starts), n))

  /** Scalar parameters arrive from SQL as plan literals. */
  private def param[T](name: String, e: Expression)(pf: PartialFunction[Literal, T]): T =
    e match {
      case l: Literal if pf.isDefinedAt(l) => pf(l)
      case other => throw new graft.model.ExpressionError(
        s"$name expects a literal parameter, got $other")
    }

  private def litInt(name: String, e: Expression): Int =
    param(name, e) { case Literal(i: Int, IntegerType) => i }

  /** Makes the native functions callable by name from Spark SQL (and
    * `call_function`) on `spark`; idempotent. graft's own operators use the
    * Column builders above and need no registration. */
  def register(spark: SparkSession): Unit = {
    def fn(name: String, arity: Int)(build: Seq[Expression] => Column): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, { es =>
        require(es.length == arity, s"$name expects $arity arguments")
        expression(build(es))
      }, "built-in")
    def c(e: Expression): Column = column(e)
    fn(CosineName, 2)(es => cosine(c(es(0)), c(es(1))))
    fn(DotName, 2)(es => dot(c(es(0)), c(es(1))))
    fn(NfcName, 1)(es => nfc(c(es(0))))
    fn(RegexFindAllName, 2)(es => regexFindAll(c(es(0)),
      param(RegexFindAllName, es(1)) { case Literal(s: UTF8String, StringType) => s.toString }))
    fn(TopKName, 4)(es => topK(c(es(0)), c(es(1)), litInt(TopKName, es(2)),
      param(TopKName, es(3)) { case Literal(b: Boolean, BooleanType) => b }))
    fn(MightContainName, 2)(es => mightContain(c(es(0)), c(es(1))))
    fn(HashedShinglesName, 2)(es => hashedShingles(c(es(0)), litInt(HashedShinglesName, es(1))))
    fn(MinhashSigName, 3)(es => minhashSig(c(es(0)), litInt(MinhashSigName, es(1)),
      param(MinhashSigName, es(2)) {
        case Literal(l: Long, LongType) => l
        case Literal(i: Int, IntegerType) => i.toLong
      }))
    fn(BandKeysName, 3)(es => bandKeys(c(es(0)), litInt(BandKeysName, es(1)),
      litInt(BandKeysName, es(2))))
    fn(Jaccard64Name, 2)(es => jaccard64(c(es(0)), c(es(1))))
    fn(Int8DotName, 2)(es => int8Dot(c(es(0)), c(es(1))))
    fn(ClassifierSumName, 2)(es => classifierSum(c(es(0)),
      param(ClassifierSumName, es(1)) {
        case Literal(arr: ArrayData, ArrayType(DoubleType, _)) => arr.toDoubleArray()
      }))
    fn(WordGramsName, 2)(es => wordGrams(c(es(0)), litInt(WordGramsName, es(1))))
    fn(PositionalGramsName, 2)(es =>
      positionalGrams(c(es(0)), litInt(PositionalGramsName, es(1))))
    fn(SpanCutName, 3)(es => spanCut(c(es(0)), c(es(1)), litInt(SpanCutName, es(2))))
  }
}
