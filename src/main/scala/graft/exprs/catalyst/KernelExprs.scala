package graft.exprs.catalyst

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for the signature/verify inner loops — the
  * codegen tier of the extension preference order (compose built-ins →
  * native `Expression` → UDF → mapPartitions), replacing the `ScalaUDF`
  * wrappers around [[graft.ext.Kernels]]' loops on the dedup hot path.
  *
  * What the UDF boundary was costing (guide §4 applied to the JVM: the
  * closure boundary, not the Python one): a `ScalaUDF` over `Seq[Long]`
  * runs a CatalystTypeConverter on EVERY call — the input `ArrayData` is
  * converted to an immutable Scala collection (one boxed `java.lang.Long`
  * per element plus the wrapper), and the returned `Array[Long]` is
  * converted back through a generic serializer. The verify tier evaluates
  * jaccard once per LSH candidate pair over ~10²-10³-element arrays, and
  * the signature tier runs minhash/banding once per document — at sf1
  * that is billions of boxed allocations that exist only to cross the
  * UDF boundary. These expressions read the Catalyst containers directly
  * (`ArrayData.toLongArray` is one bulk primitive copy, `UTF8String`
  * never materializes an intermediate `String` except where the loop
  * itself needs `java.lang.String` semantics) and return
  * `UnsafeArrayData.fromPrimitiveArray` — zero per-element boxing in
  * either direction, and the call participates in whole-stage codegen.
  *
  * Each expression delegates to the SAME package-visible loop the udf
  * shipped and [[graft.tools.KernelBench]] measures
  * ([[graft.ext.Kernels.minhashSigLoop]], `bandKeysLoop`,
  * `hashedShinglesLoop`, [[graft.ext.Kernels.jaccardMergeSorted]]), so
  * the arithmetic cannot drift: outputs are bit-identical to the r14 UDF
  * forms, and every oracle row that covered the UDF path covers this one.
  */
object KernelExprs {

  /** Static bridges shared by interpreted eval and generated code. */
  def hashedShingles(text: UTF8String, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ext.Kernels.hashedShinglesLoop(if (text == null) null else text.toString, n))

  def minhashSig(hashes: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ext.Kernels.minhashSigLoop(hashes.toLongArray(), as, bs))

  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ext.Kernels.bandKeysLoop(sig.toLongArray(), bands, rowsPerBand))

  def jaccard64(a: ArrayData, b: ArrayData): Double =
    graft.ext.Kernels.jaccardMergeSorted(
      graft.ext.Kernels.sortedAsc(a.toLongArray()),
      graft.ext.Kernels.sortedAsc(b.toLongArray()))

  private val md5Tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Σ weights[(first-60-bits-of-md5(token) mod weights.length)] over the
    * tokens in order — see [[ClassifierSumExpr]]. */
  def classifierSum(toks: ArrayData, weights: Array[Double]): Double = {
    val b = weights.length
    val md = md5Tl.get()
    var sum = 0.0
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(toks.getUTF8String(i).getBytes)
      // integer value of the first 15 hex digits: 7 full bytes, then the
      // high nibble of byte 8 — what conv(substring(md5,1,15),16,10) parses
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      v = (v << 4) | ((d(7) >> 4) & 0xfL)
      sum += weights((v % b).toInt)
      i += 1
    }
    sum
  }

  /** Space-joined word n-grams of order k, one per position — see
    * [[WordGramsExpr]]. */
  def wordGrams(toks: ArrayData, k: Int): ArrayData = {
    if (toks == null || toks.numElements() < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val n = toks.numElements()
    val ts = new Array[String](n)
    var i = 0
    while (i < n) { ts(i) = toks.getUTF8String(i).toString; i += 1 }
    val out = new Array[Any](n - k + 1)
    val sb = new java.lang.StringBuilder
    var p = 0
    while (p <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ts(p + j))
        j += 1
      }
      out(p) = UTF8String.fromString(sb.toString)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** First-seed positional gram fingerprints — see [[GramHalvesExpr]]. */
  def gramHalves(toks: ArrayData, n: Int): ArrayData = {
    val T = if (toks == null) 0 else toks.numElements()
    if (T < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val ts = new Array[String](T)
    var i = 0
    while (i < T) { ts(i) = toks.getUTF8String(i).toString; i += 1 }
    val h1s = new Array[Long](T - n + 1)
    graft.ext.Kernels.positionalGramFold(ts, n, h1s, null)
    UnsafeArrayData.fromPrimitiveArray(h1s)
  }

  /** 128-bit positional gram fingerprints — see [[PositionalGramsExpr]]. */
  def positionalGrams(toks: ArrayData, n: Int): ArrayData = {
    val T = if (toks == null) 0 else toks.numElements()
    if (T < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val ts = new Array[String](T)
    var i = 0
    while (i < T) { ts(i) = toks.getUTF8String(i).toString; i += 1 }
    val m = T - n + 1
    val h1s = new Array[Long](m)
    val h2s = new Array[Long](m)
    graft.ext.Kernels.positionalGramFold(ts, n, h1s, h2s)
    val out = new Array[Any](m)
    var p = 0
    while (p < m) {
      out(p) = InternalRow(h1s(p), h2s(p))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Gap-slicing span cut over Catalyst containers — see [[SpanCutExpr]].
    * Identical interval arithmetic to [[graft.ext.Kernels.spanCutLoop]];
    * the surviving text is assembled by BYTE-level UTF-8 concat (token
    * bytes + 0x20 separators), which equals the UTF-8 encoding of the
    * space-joined String for any valid-UTF-8 tokens — the udf form paid
    * UTF8String→String per token, a UTF-16 StringBuilder, and a final
    * String→UTF8String re-encode per document. A null element in `starts`
    * or a kept text past `Int.MaxValue` bytes throws instead of cutting
    * the wrong tokens or wrapping the byte count. */
  def spanCut(toks: ArrayData, starts: ArrayData, n: Int): InternalRow = {
    if (toks == null) return null
    val T = toks.numElements()
    val keptIdx = new Array[Int](T)
    var kept = 0
    if (starts == null || starts.numElements() == 0) {
      while (kept < T) { keptIdx(kept) = kept; kept += 1 }
    } else {
      val s = new Array[Int](starts.numElements())
      var q = 0
      while (q < s.length) {
        if (starts.isNullAt(q))
          throw new IllegalArgumentException(s"graft_span_cut: null element at starts[$q]")
        s(q) = starts.getInt(q)
        q += 1
      }
      var cursor = 0
      var i = 0
      while (i < s.length) {
        var j = i // extend the run while consecutive starts stay within n
        while (j + 1 < s.length && s(j + 1) - s(j) <= n) j += 1
        var p = cursor // the gap before this run's first covered token
        while (p < s(i)) { keptIdx(kept) = p; kept += 1; p += 1 }
        cursor = math.max(cursor, s(j) + n)
        i = j + 1
      }
      var p = cursor // tail after the last run
      while (p < T) { keptIdx(kept) = p; kept += 1; p += 1 }
    }
    var total = if (kept > 1) kept - 1L else 0L // the single-space separators
    var k = 0
    while (k < kept) { total += toks.getUTF8String(keptIdx(k)).numBytes(); k += 1 }
    if (total > Int.MaxValue)
      throw new IllegalArgumentException(
        s"graft_span_cut: kept text is $total bytes, past the ${Int.MaxValue}-byte string limit")
    val bytes = new Array[Byte](total.toInt)
    var off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong
    k = 0
    while (k < kept) {
      if (k > 0) {
        org.apache.spark.unsafe.Platform.putByte(bytes, off, ' '.toByte)
        off += 1
      }
      val t = toks.getUTF8String(keptIdx(k))
      t.writeToMemory(bytes, off)
      off += t.numBytes()
      k += 1
    }
    InternalRow(UTF8String.fromBytes(bytes), T.toLong, (T - kept).toLong)
  }

  /** Integer dot of two int8 code arrays, summed in longs (exact — the
    * double cast happens once at the caller, same as the interpreted
    * `zip_with`/`aggregate` form this replaces). */
  def int8Dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    dot
  }
}

/** Hashed-linear-classifier contribution sum — the expression form of the
  * interpreted `aggregate(transform(toks, t => element_at(w, (conv(
  * substring(md5(t),1,15),16,10) % b) + 1)), 0.0, +)` tree in
  * `TextFunctions.linearClassifierScore`: per token, MD5 the UTF-8 bytes,
  * take the integer value of the first 15 HEX DIGITS (= the first 60 bits:
  * 7 full bytes then the high nibble of byte 8 — exactly what
  * `conv(substring(md5(t),1,15),16,10)` parses, without materializing the
  * hex string or running the base-16 string parser), index the weight
  * array modulo its length, and left-fold the double sum in token order —
  * the same fold order as `aggregate`, so the sum is bit-identical.
  * Empty token arrays sum to 0.0 (as `aggregate` over an empty array);
  * the caller's `when(size(toks) > 0, ...)` guard is unchanged. */
case class ClassifierSumExpr(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_classifier_sum"

  override def nullSafeEval(input: Any): Any =
    KernelExprs.classifierSum(input.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("graftClsW", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.catalyst.KernelExprs.classifierSum($c, $wRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array fields break case-class equality; compare by content so plan
  // canonicalization (and cached-plan reuse) treats equal weights as equal.
  override def equals(other: Any): Boolean = other match {
    case ClassifierSumExpr(c, w) => c == child && java.util.Arrays.equals(w, weights)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(weights)
}

/** All word n-grams of order `k` of a token array (space-joined, one per
  * position, NOT distinct — these feed COUNTS) — the expression form of
  * the interpreted `transform(sequence(0, size-k), i =>
  * array_join(slice(toks, i+1, k), " "))` tree in
  * `LanguageModel.ngramCounts`. Null or shorter-than-`k` token arrays
  * yield an EMPTY array (the `when(size >= k, ...).otherwise(array())`
  * guard this replaces). */
case class WordGramsExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_grams"

  override def eval(input: InternalRow): Any =
    KernelExprs.wordGrams(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code +
        code"$jt ${ev.value} = graft.exprs.catalyst.KernelExprs.wordGrams(${c.isNull} ? null : ${c.value}, $k);",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted-distinct hashed word shingles of a text column — the expression
  * form of `Kernels.hashedShinglesKernel`. Null text yields an EMPTY array
  * (the udf's `shingleSeq(null) = Seq.empty` semantics), so null handling
  * lives inside the expression instead of a caller-side `when` that would
  * evaluate the child twice. */
case class HashedShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hashed_shingles"

  override def eval(input: InternalRow): Any =
    KernelExprs.hashedShingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code +
        code"$jt ${ev.value} = graft.exprs.catalyst.KernelExprs.hashedShingles(${c.isNull} ? null : ${c.value}, $n);",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature from pre-hashed shingles — the expression form of
  * `Kernels.minhashSigFromHashes`: same seeded affine-permutation family
  * (identical `Random(seed)` draw order), same inner loop, bit-identical
  * signatures. */
case class MinhashSigExpr(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  @transient private lazy val perms: (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    (Array.fill(numHashes)(rnd.nextInt(Int.MaxValue - 1).toLong | 1L),
      Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    KernelExprs.minhashSig(input.asInstanceOf[ArrayData], perms._1, perms._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("graftMhAs", perms._1, "long[]")
    val bsRef = ctx.addReferenceObj("graftMhBs", perms._2, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.catalyst.KernelExprs.minhashSig($c, $asRef, $bsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LSH band keys from a signature — the expression form of
  * `Kernels.bandKeysKernel` (same FNV fold per band slice). */
case class BandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_band_keys"

  override def nullSafeEval(input: Any): Any =
    KernelExprs.bandKeys(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.catalyst.KernelExprs.bandKeys($c, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact Jaccard of two long arrays treated as sets — the expression form
  * of `Kernels.jaccardLongKernel` (same run-skipping merge over pre-sorted
  * inputs, same linear sortedness probe for unsorted callers). */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_jaccard64"

  override def nullSafeEval(l: Any, r: Any): Any =
    KernelExprs.jaccard64(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.exprs.catalyst.KernelExprs.jaccard64($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** First-seed-ONLY positional gram fingerprints: element `p` is the 64-bit
  * seed-42 fold of tokens `p..p+n-1` — bit-identical to `_1` of
  * [[PositionalGramsExpr]]'s struct by shared loop
  * ([[graft.ext.Kernels.positionalGramFold]] with the second seed off).
  * The singleton-gram prefilter's phase 1 only ever consumes the 64-bit
  * half; this skips the second char-hash pass AND the per-gram struct
  * allocation on the full-corpus gram explode (sf1: ~350M grams). Null or
  * shorter-than-`n` token arrays yield an empty array. Output is
  * `UnsafeArrayData.fromPrimitiveArray` — zero per-element boxing. */
case class GramHalvesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_gram_halves"

  override def eval(input: InternalRow): Any =
    KernelExprs.gramHalves(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code +
        code"$jt ${ev.value} = graft.exprs.catalyst.KernelExprs.gramHalves(${c.isNull} ? null : ${c.value}, $n);",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 128-bit positional word n-gram fingerprints
  * (`array<struct<_1:bigint,_2:bigint>>`, one element per gram start) —
  * the expression form of the r15 `positionalGramHashKernel` ScalaUDF:
  * same per-token char hashes, same FNV-style per-position folds
  * (shared [[graft.ext.Kernels.positionalGramFold]] core), bit-identical
  * fingerprints. The udf paid a boxed Seq[String] input conversion per row
  * plus a Tuple2→struct CatalystTypeConverter per GRAM — on the span-cut
  * operators' positional explode that was one tuple + one converter
  * dispatch per token position of the whole corpus. */
case class PositionalGramsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", LongType, nullable = false))), containsNull = true)
  // null token arrays yield an EMPTY gram array (unobservable in the
  // operators — the kernel sits behind a size(__toks) >= n filter — and
  // consistent with GramHalvesExpr/HashedShinglesExpr null handling)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_positional_grams"

  override def eval(input: InternalRow): Any =
    KernelExprs.positionalGrams(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code +
        code"$jt ${ev.value} = graft.exprs.catalyst.KernelExprs.positionalGrams(${c.isNull} ? null : ${c.value}, $n);",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Gap-slicing span cut (`struct<cleaned_text:string,n_tokens:bigint,
  * n_removed:bigint>`) — the expression form of the r15 `spanCutKernel`
  * ScalaUDF: identical covered-interval arithmetic
  * ([[graft.ext.Kernels.spanCutLoop]]'s run merge), with the surviving
  * text assembled by byte-level UTF-8 concat instead of a UTF-16
  * StringBuilder round trip. Null `starts` (the left-join miss for
  * documents with no duplicated spans — the COMMON case) keeps every
  * token, like the udf; null token arrays yield a null row. */
case class SpanCutExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cleaned_text", StringType, nullable = true),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_span_cut"

  override def eval(input: InternalRow): Any =
    KernelExprs.spanCut(
      left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code =
      l.code + r.code +
        code"""
$jt ${ev.value} = graft.exprs.catalyst.KernelExprs.spanCut(
  ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value}, $n);
boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two int8 code arrays (`array<tinyint>`), summed
  * exactly in longs — the numerator/norm primitive of the IVF-SQ8 scoring
  * tier. Replaces an interpreted `aggregate(zip_with(...))` pair that
  * walked ~3 expression-tree nodes per element per call on every candidate
  * row of the approximate scoring join. */
case class Int8DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_int8_dot"

  override def nullSafeEval(l: Any, r: Any): Any =
    KernelExprs.int8Dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.exprs.catalyst.KernelExprs.int8Dot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
