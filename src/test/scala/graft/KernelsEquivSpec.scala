package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.exprs.catalyst.KernelExprs
import graft.ext.Kernels

/** r15 optimization guard: the expression-backed kernel tier
  * (graft.exprs.catalyst.KernelExprs) must be bit-identical to the r14
  * ScalaUDF formulations it replaced — the dedup/decontam oracle rows all
  * ride on these values. Each test pins one rewritten loop against an
  * independent re-derivation of the r14 arithmetic. */
class KernelsEquivSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val texts = Seq(
    null,
    "",
    "one",
    "one two",
    "one two three",
    "The  quick, brown FOX—jumps!! over the lazy dog 42 times_",
    "a a a a a a a a a a",
    "Unicode: café déjà-vu naïve — 中文 tokens split on \\W too",
    "repeat me repeat me repeat me repeat me and then diverge slightly",
    (1 to 500).map(i => s"tok${i % 97}").mkString(" "))

  test("hashedShinglesLoop == sorted distinct hash64 over shingleSeq (the r14 form)") {
    for (n <- Seq(1, 2, 3, 8, 13); t <- texts) {
      val r14 = {
        val arr = Kernels.shingleSeq(t, n).iterator.map(Kernels.hash64(_, 42L)).toArray
        java.util.Arrays.sort(arr)
        arr.distinct // dedup-by-hash: identical up to 2^-64 collisions (none here)
      }
      val r15 = Kernels.hashedShinglesLoop(t, n)
      assert(r15.toSeq == r14.toSeq, s"n=$n text=$t")
    }
  }

  test("expression-backed shingle/sig/band columns match the loop composition") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(col("id"),
        Kernels.hashedShinglesKernel(3)(col("text")).as("sh"))
      .withColumn("sig", Kernels.minhashSigFromHashes(64, 42L)(col("sh")))
      .withColumn("bands", Kernels.bandKeysKernel(16, 4)(col("sig")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2), r.getSeq[Long](3)))
      .sortBy(_._1)
    // independent reference: the package-visible loops over the raw text
    val rnd = new scala.util.Random(42L)
    val as = Array.fill(64)(rnd.nextInt(Int.MaxValue - 1).toLong | 1L)
    val bs = Array.fill(64)(rnd.nextInt(Int.MaxValue).toLong)
    texts.zipWithIndex.foreach { case (t, i) =>
      val sh = Kernels.hashedShinglesLoop(t, 3)
      val sig = Kernels.minhashSigLoop(sh, as, bs)
      val bands = Kernels.bandKeysLoop(sig, 16, 4)
      val (_, gotSh, gotSig, gotBands) = out(i)
      assert(gotSh.toSeq == sh.toSeq, s"sh id=$i")
      assert(gotSig.toSeq == sig.toSeq, s"sig id=$i")
      assert(gotBands.toSeq == bands.toSeq, s"bands id=$i")
    }
  }

  test("graft_jaccard64 expression == jaccardMergeSorted over the same sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pool = Array.fill(200)(rnd.nextLong())
    val pairs = (1 to 40).map { i =>
      (i.toLong,
        Array.fill(rnd.nextInt(50) + 1)(pool(rnd.nextInt(pool.length))).sorted,
        Array.fill(rnd.nextInt(50) + 1)(pool(rnd.nextInt(pool.length))).sorted)
    }
    val df = pairs.map { case (i, a, b) => (i, a.toSeq, b.toSeq) }.toDF("id", "a", "b")
    val got = df.select(col("id"), Kernels.jaccardLongKernel(col("a"), col("b")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pairs.foreach { case (i, a, b) =>
      val want = Kernels.jaccardMergeSorted(a, b)
      assert(got(i) == want, s"pair $i")
    }
  }

  test("graft_classifier_sum == interpreted md5/conv/element_at fold (bit-identical scores)") {
    import spark.implicits._
    val weights = (0 until 64).map(j => ((j * 2654435761L) % 1000) / 500.0 - 1.0)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // the r14 declarative formulation, re-derived inline
    val b = weights.length
    val wArr = array(weights.map(lit): _*)
    val toks = graft.ext.TextFunctions.tokens(col("text"))
    val contrib = transform(toks, t =>
      element_at(wArr,
        (conv(substring(md5(t), 1, 15), 16, 10).cast("long") % b).cast("int") + 1))
    val r14mean = aggregate(contrib, lit(0.0), (acc, x) => acc + x) / size(toks)
    val r14score = when(size(toks) > 0,
      lit(1.0) / (lit(1.0) + exp(-(lit(0.0) + r14mean))))
      .otherwise(lit(0.5))
    val rows = df.select(col("id"),
        graft.ext.TextFunctions.linearClassifierScore(col("text"), weights).as("got"),
        r14score.as("want")).collect()
    rows.foreach { r =>
      val got = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      val want = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
      assert(got == want, s"id=${r.getLong(0)}: $got vs $want")
    }
  }

  test("graft_word_grams == interpreted transform/slice/array_join windows") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), graft.ext.TextFunctions.tokens(col("text")).as("__t"))
    graft.exprs.catalyst.GraftFunctions.register(spark)
    for (k <- Seq(1, 2, 3, 5)) {
      val r14 = when(size(col("__t")) >= k,
        transform(sequence(lit(0), size(col("__t")) - k),
          i => array_join(slice(col("__t"), i + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(col("id"),
          call_function(graft.exprs.catalyst.GraftFunctions.WordGramsName,
            col("__t"), lit(k)).as("got"),
          r14.as("want")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"k=$k id=${r.getLong(0)}")
      }
    }
  }

  test("graft_positional_grams / graft_gram_halves == the r15 ScalaUDF fingerprints") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), graft.ext.TextFunctions.tokens(col("text")).as("__toks"))
    // the r15 shipping form, re-derived: the tuple loop behind the udf
    for (n <- Seq(1, 2, 3, 8)) {
      val r15udf = udf { (toks: Seq[String]) =>
        if (toks == null) Array.empty[(Long, Long)]
        else Kernels.positionalGramHashes(toks, n)
      }
      val rows = df.select(col("id"),
          Kernels.positionalGramHashKernel(n)(col("__toks")).as("got"),
          Kernels.gramHalvesKernel(n)(col("__toks")).as("gotHalves"),
          r15udf(col("__toks")).as("want")).collect()
      rows.foreach { r =>
        val got = r.getSeq[org.apache.spark.sql.Row](1).map(g => (g.getLong(0), g.getLong(1)))
        val halves = r.getSeq[Long](2)
        val want = r.getSeq[org.apache.spark.sql.Row](3).map(g => (g.getLong(0), g.getLong(1)))
        assert(got == want, s"n=$n id=${r.getLong(0)}: struct fingerprints diverge")
        assert(halves == want.map(_._1), s"n=$n id=${r.getLong(0)}: halves diverge from _1")
      }
    }
  }

  test("graft_span_cut == the r15 spanCutLoop udf (text bytes, counts, null starts)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val tokenPool = Array("alpha", "beta", "café", "中文", "x", "déjà-vu".replace("-", ""), "tok")
    val rows = (1 to 60).map { i =>
      val T = rnd.nextInt(40)
      val toks = Seq.fill(T)(tokenPool(rnd.nextInt(tokenPool.length)))
      // starts: sorted distinct positions in [0, T) — including empty and
      // null frames (the left-join miss), adjacent runs and tail coverage
      val starts: Seq[Int] =
        if (i % 5 == 0) null
        else if (T == 0) Seq.empty
        else Seq.fill(rnd.nextInt(T + 1))(rnd.nextInt(T)).distinct.sorted
      (i.toLong, toks, starts)
    }
    val df = rows.toDF("id", "toks", "starts")
    for (n <- Seq(1, 3, 8)) {
      val r15udf = udf { (toks: Seq[String], starts: Seq[Int]) =>
        Kernels.spanCutLoop(toks, starts, n) }
      val out = df.select(col("id"),
          Kernels.spanCutKernel(n)(col("toks"), col("starts")).as("got"),
          r15udf(col("toks"), col("starts")).as("want")).collect()
      out.foreach { r =>
        val got = r.getStruct(1); val want = r.getStruct(2)
        assert(got.getString(0) == want.getString(0), s"n=$n id=${r.getLong(0)}: text")
        assert(got.getLong(1) == want.getLong(1), s"n=$n id=${r.getLong(0)}: n_tokens")
        assert(got.getLong(2) == want.getLong(2), s"n=$n id=${r.getLong(0)}: n_removed")
      }
    }
  }

  test("spanCut rejects a null element in starts instead of reading it as 0") {
    val toks = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), UTF8String.fromString("b"), UTF8String.fromString("c")))
    // control: the same call with a non-null start cuts token 0 only
    val ok = KernelExprs.spanCut(toks, new GenericArrayData(Array[Any](0)), 1)
    assert(ok.getUTF8String(0).toString == "b c")
    // read as 0, the null would silently cut "a" too and return "b"
    val e = intercept[IllegalArgumentException] {
      KernelExprs.spanCut(toks, new GenericArrayData(Array[Any](null, 2)), 1)
    }
    assert(e.getMessage.contains("starts[0]"))
  }

  test("spanCut fails on a kept text past Int.MaxValue bytes before reading any") {
    // 1 GiB tokens backed by no memory: only numBytes may be read, so the
    // size check has to fire before the copy (an Int total wraps negative)
    val huge = new GenericArrayData(Array.fill[Any](3)(UTF8String.fromAddress(null, 0L, 1 << 30)))
    val e = intercept[IllegalArgumentException] {
      KernelExprs.spanCut(huge, null, 1)
    }
    assert(e.getMessage.contains(s"${3L * (1 << 30) + 2} bytes"))
  }

  test("graft_int8_dot == interpreted zip_with/aggregate long dot (exact)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 30).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(255) - 127).toByte).toSeq)
    }
    val df = rows.toDF("id", "codes")
    graft.exprs.catalyst.GraftFunctions.register(spark)
    val got = df.select(col("id"),
        call_function(graft.exprs.catalyst.GraftFunctions.Int8DotName,
          col("codes"), col("codes")).as("d"),
        aggregate(zip_with(col("codes"), col("codes"),
          (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, x) => acc + x).as("ref"))
      .collect()
    got.foreach { r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}") }
  }
}
