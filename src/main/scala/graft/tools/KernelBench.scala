package graft.tools

/** Pure-JVM micro-benchmark for the hot UDF kernels — no SparkSession, no
  * shuffle, no parquet: just the per-row arithmetic, measured in
  * nanoseconds per call. This is the measurement of last resort on a noisy
  * shared host: end-to-end Spark runs on this box swing 2-3× between
  * IDENTICAL back-to-back executions (host neighbors / frequency drift),
  * which is wider than most kernel-level effects — the round-8 "minhash
  * regressed 2×" scare was exactly such an artifact, disproven by this
  * harness showing the rewritten Jaccard kernel 2-4× FASTER per pair.
  *
  * Every measured function is the package-visible loop the shipping udf
  * wraps ([[graft.ext.Kernels.jaccardMergeSorted]],
  * [[graft.ext.Kernels.minhashSigLoop]],
  * [[graft.ext.Kernels.positionalGramHashes]],
  * [[graft.ext.Kernels.simhashLoop]], [[graft.ext.Kernels.spanCutLoop]]) —
  * not a copy that can drift. Protocol: ~0.3 s of warmup calls (JIT), then
  * ~0.5 s of timed calls in batches of 16 between clock reads; result is
  * the per-call average. A kernel change diffs a before and an after run
  * taken back to back on a quiet host.
  *
  * Usage: sbt "runMain graft.tools.KernelBench"   (writes
  * target/bench_kernels.json, override with SPARK_GRAFT_BENCH_KERNELS)
  */
object KernelBench {
  // mirrors the retired HashSet formulation of jaccardLongKernel, kept as
  // the comparison baseline
  private def jaccardHashSet(a: Array[Long], b: Array[Long]): Double = {
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.count(sb)
    val union = sa.size + sb.size - inter
    if (union > 0) inter.toDouble / union else 1.0
  }

  private def sortThenMerge(a: Array[Long], b: Array[Long]): Double = {
    val x = a.clone(); java.util.Arrays.sort(x)
    val y = b.clone(); java.util.Arrays.sort(y)
    graft.ext.Kernels.jaccardMergeSorted(x, y)
  }

  // DCE blackhole — every kernel result folds into this
  private var sink: Double = 0.0

  def main(args: Array[String]): Unit = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_KERNELS", "target/bench_kernels.json")
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    def bench(name: String)(call: () => Double): Unit = {
      var w = 0
      val wEnd = System.nanoTime() + 300_000_000L
      while (System.nanoTime() < wEnd) { sink += call(); w += 1 }
      var calls = 0L
      val t0 = System.nanoTime()
      val tEnd = t0 + 500_000_000L
      while (System.nanoTime() < tEnd) {
        var k = 0
        while (k < 16) { sink += call(); k += 1 } // amortize the clock read
        calls += 16
      }
      val ns = (System.nanoTime() - t0).toDouble / calls
      results(name) = ns
      println(f"$name%-28s ${ns}%12.1f ns/call")
    }

    val rnd = new scala.util.Random(7)

    // ---- exact-Jaccard verify (per LSH candidate pair) ----
    for (n <- Seq(100, 500, 2000)) {
      // overlapping pairs drawn from a shared pool, like real LSH
      // candidates (~50% expected overlap)
      val pool = Array.fill(n * 2)(rnd.nextLong())
      val pairs = Array.fill(64)((
        Array.fill(n)(pool(rnd.nextInt(pool.length))),
        Array.fill(n)(pool(rnd.nextInt(pool.length)))))
      val sortedPairs = pairs.map { case (a, b) =>
        val x = a.clone(); java.util.Arrays.sort(x)
        val y = b.clone(); java.util.Arrays.sort(y); (x, y)
      }
      var k = 0
      def next[T](arr: Array[T]): T = { k += 1; arr(k % arr.length) }
      bench(s"jaccardHashSet/n=$n") { () =>
        val p = next(pairs); jaccardHashSet(p._1, p._2)
      }
      bench(s"jaccardSortMerge/n=$n") { () =>
        val p = next(pairs); sortThenMerge(p._1, p._2)
      }
      bench(s"jaccardPresorted/n=$n") { () =>
        val p = next(sortedPairs); graft.ext.Kernels.jaccardMergeSorted(p._1, p._2)
      }
    }

    // ---- MinHash signature (per document, 64 permutations) ----
    val seedRnd = new scala.util.Random(42L)
    val as = Array.fill(64)(seedRnd.nextInt(Int.MaxValue - 1).toLong | 1L)
    val bs = Array.fill(64)(seedRnd.nextInt(Int.MaxValue).toLong)
    for (n <- Seq(100, 500, 2000)) {
      val docs = Array.fill(16)(Array.fill(n)(rnd.nextLong()))
      var k = 0
      bench(s"minhashSig64/shingles=$n") { () =>
        k += 1
        graft.ext.Kernels.minhashSigLoop(docs(k % docs.length), as, bs)(0).toDouble
      }
    }

    // ---- positional gram fingerprints (per document, n=8) ----
    for (t <- Seq(200, 1000, 5000)) {
      val docs = Array.fill(8)(Seq.fill(t)("w" + rnd.nextInt(50000)))
      var k = 0
      bench(s"positionalGramHash8/toks=$t") { () =>
        k += 1
        val g = graft.ext.Kernels.positionalGramHashes(docs(k % docs.length), 8)
        if (g.isEmpty) 0.0 else g(0)._1.toDouble
      }
    }

    // ---- SimHash (per document) ----
    for (t <- Seq(200, 1000, 5000)) {
      val docs = Array.fill(8)(Seq.fill(t)("w" + rnd.nextInt(50000)))
      var k = 0
      bench(s"simhash/toks=$t") { () =>
        k += 1
        graft.ext.Kernels.simhashLoop(docs(k % docs.length)).toDouble
      }
    }

    // ---- span cut (per document, n=8, ~10% duplicated starts) ----
    for (t <- Seq(1000, 5000)) {
      val docs = Array.fill(8)(Seq.fill(t)("w" + rnd.nextInt(50000)))
      val starts = Array.fill(8)(
        (0 until t / 10).map(_ => rnd.nextInt(math.max(1, t - 8))).sorted.distinct)
      var k = 0
      bench(s"spanCut8/toks=$t") { () =>
        k += 1
        graft.ext.Kernels.spanCutLoop(
          docs(k % docs.length), starts(k % starts.length), 8).n_removed.toDouble
      }
    }

    // ---- IVF coarse assignment (per vector, 256 cells x 64 dims) ----
    // retired form kept as the comparison baseline: boxed (Double, Int)
    // tuples + generic sortBy per ROW, which dominated the assignment
    def nearestSortAll(cent: Array[Array[Double]], nprobe: Int, v: Seq[Float]): Seq[Int] = {
      val a = v.toArray
      val dists = new Array[(Double, Int)](cent.length)
      var i = 0
      while (i < cent.length) {
        val c = cent(i)
        var d = 0.0
        var j = 0
        val n = math.min(a.length, c.length)
        while (j < n) { val t = a(j) - c(j); d += t * t; j += 1 }
        dists(i) = (d, i)
        i += 1
      }
      dists.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2).toSeq
    }
    locally {
      val cent = Array.tabulate(256)(i => Array.tabulate(64)(j => ((i * 31 + j) % 97) / 97.0))
      val vecs = Array.fill(64)(Seq.fill(64)(rnd.nextFloat()))
      for (nprobe <- Seq(1, 16)) {
        var k = 0
        bench(s"nearestCentroid256/sortAll/np=$nprobe") { () =>
          k += 1
          nearestSortAll(cent, nprobe, vecs(k % vecs.length)).head.toDouble
        }
        var k2 = 0
        bench(s"nearestCentroid256/argmin/np=$nprobe") { () =>
          k2 += 1
          graft.ext.Kernels.nearestCentroidsLoop(cent, nprobe, vecs(k2 % vecs.length)).head.toDouble
        }
      }
    }

    // ---- boxed Bloom probe (per row, above-the-literal-gate path) ----
    // Dedup.bloomProbe ships filters past 16 MB serialized as a broadcast
    // probed by a boxed Scala UDF; this prices the probe itself (box +
    // mightContainLong bit test) at the hot-key cardinalities where that
    // path actually arms, so the literal-vs-broadcast gate's "probe cost
    // is noise against the pruned exchange" claim has a number behind it.
    for (keys <- Seq(1000000, 14000000)) {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(keys, 0.01)
      var i = 0L
      while (i < keys) { bf.putLong(rnd.nextLong()); i += 1 }
      val probes = Array.fill(1024)(rnd.nextLong())
      val boxed: java.lang.Long => Boolean = h => bf.mightContainLong(h)
      var k = 0
      bench(s"bloomProbeBoxed/keys=${keys / 1000000}M") { () =>
        k += 1
        if (boxed(probes(k % probes.length))) 1.0 else 0.0
      }
    }

    val record = results.map { case (k, v) => s""""$k":${"%.1f".format(v)}""" }
      .mkString(
        """{"unit":"ns_per_call","note":"package-visible kernel loops, same code the udfs ship; regenerate quiesced with: sbt \"runMain graft.tools.KernelBench\"","kernels":{""",
        ",", "}}")
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out,
      (record + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(record)
    System.err.println(s"[kernel-bench] sink=$sink (DCE blackhole)")
  }
}
