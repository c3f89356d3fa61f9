package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import graft.exprs.catalyst.GraftFunctions

/** Tight JVM kernels for the signature/similarity inner loops.
  *
  * Catalyst higher-order functions (`transform`/`aggregate`/`zip_with`) are
  * interpreted per element — fine for data-shaping, but a 64-permutation
  * MinHash over ~300 shingles walks ~20k expression-tree nodes per row.
  * These kernels run the same math as a straight-line loop (~100× faster
  * in practice) while keeping the surrounding plan — scans, bucket joins,
  * shuffles — fully declarative. Each kernel is a deterministic pure
  * function, so Catalyst can still push/reorder around it safely.
  *
  * Two tiers since r15: the HOT loops (hashed shingles, minhash sig, band
  * keys, exact Jaccard, int8 dot) ship as native codegen expressions
  * ([[graft.exprs.catalyst.KernelExprs]]) that read Catalyst arrays
  * directly — the ScalaUDF boundary paid a boxed-element
  * CatalystTypeConverter per call in BOTH directions, which at sf1 was
  * billions of `java.lang.Long` allocations that existed only to cross
  * into the loop. r16 moved the span-cut tier (positional grams, gram
  * halves, span cut) to native expressions too: "the inputs materialize
  * Java strings either way" was true of the HASHING, but the udf boundary
  * ALSO paid a boxed Seq wrapper per row plus a Tuple2→struct encoder per
  * gram on the corpus' largest explode, and the span cut's output path
  * round-tripped every surviving document through UTF-16
  * (String→StringBuilder→String→UTF8String) where byte-level UTF-8 concat
  * is equivalent. The remaining string-shaped kernels (word shingles,
  * simhash, chunk hashes) stay ScalaUDFs: they sit on small/blocked tiers
  * where the boundary is not the measured cost.
  */
object Kernels {

  private val Mersenne31 = (1L << 31) - 1

  /** Exact `x % Mersenne31` for 0 <= x < 2^62 without the division: fold
    * the high bits down twice (2^31 ≡ 1 mod M), then one conditional
    * subtract. The minhash inner loop evaluates this numHashes times per
    * shingle — ~19B times over a 6M-doc corpus — and the hardware divide
    * in `%` was the single largest CPU line of the signature pass. */
  @inline private[graft] def modM31(x: Long): Long = {
    var v = (x & Mersenne31) + (x >>> 31)
    v = (v & Mersenne31) + (v >>> 31)
    if (v >= Mersenne31) v - Mersenne31 else v
  }

  /** Murmur-mixed 64-bit string hash (stable across JVMs/partitions). */
  @inline private[graft] def hash64(s: String, seed: Long): Long = {
    var h = seed ^ (s.length * 0x9E3779B97F4A7C15L)
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001B3L // FNV-ish multiply, then xorshift mix below
      i += 1
    }
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    h
  }

  /** Band keys from a signature: hash each of `bands` contiguous slices.
    * Expression-backed (see [[graft.exprs.catalyst.BandKeysExpr]]): the
    * r14 ScalaUDF form paid a boxed Seq[Long] conversion per row on every
    * banding pass — this runs [[bandKeysLoop]] straight off the Catalyst
    * array, zero per-element boxing, bit-identical keys. */
  def bandKeysKernel(bands: Int, rowsPerBand: Int): Column => Column =
    GraftFunctions.bandKeys(_, bands, rowsPerBand)

  /** The band-fold loop behind [[bandKeysKernel]] — package-visible so
    * [[graft.tools.KernelBench]] measures the SAME code the expression
    * ships, not a copy that can drift. */
  private[graft] def bandKeysLoop(sg: Array[Long], bands: Int,
                                  rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xCBF29CE484222325L
      var r = 0
      while (r < rowsPerBand) {
        h = (h ^ sg(b * rowsPerBand + r)) * 0x100000001B3L
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Shared tokenize+window pipeline for the shingle kernels: lowercase
    * `\W+` split, n-gram sliding window, short-text fallback. Both the
    * string and hashed kernels map over THIS iterator, so their shingle
    * sets (and therefore signatures and Jaccard values) stay in lockstep
    * by construction. */
  @inline private[graft] def shingleSeq(text: String, n: Int): Seq[String] =
    if (text == null) Seq.empty
    else {
      val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
    }

  /** Word n-gram shingles of raw text — same tokenization and windowing as
    * `TextFunctions.wordShingles` (lowercase `\W+` split, distinct), as a
    * single JVM pass. Produces identical shingle sets, so downstream exact
    * Jaccard matches the declarative/oracle formulation. */
  def wordShinglesKernel(n: Int): Column => Column = {
    val f = udf { (text: String) => shingleSeq(text, n) }
    c => f(c)
  }

  /** Exact Jaccard of two string collections treated as sets — same counts
    * (and therefore the same double division) as the Column formulation. */
  val jaccardKernel: (Column, Column) => Column = {
    val f = udf { (a: Seq[String], b: Seq[String]) =>
      val sa = a.toSet; val sb = b.toSet
      val inter = sa.count(sb)
      val union = sa.size + sb.size - inter
      if (union > 0) inter.toDouble / union else 1.0
    }
    (a, b) => f(a, b)
  }

  /** Word n-gram shingles hashed to stable 64-bit values — the spill/ship
    * representation: 8 bytes per shingle instead of the string, hashed
    * with `hash64(s, 42L)`, the base hash [[minhashSigFromHashes]] folds
    * its permutations over; set cardinalities (and therefore exact
    * Jaccard) match the string formulation up to 2^-64 collision odds.
    *
    * Emitted SORTED: the hash list is a set up to multiplicity (MinHash
    * folds over it order-free, Jaccard treats it as a set), and sorting
    * ONCE here lets [[jaccardLongKernel]] take its merge-only fast path
    * on every candidate pair — a hot boilerplate document lands in many
    * LSH candidate pairs, and per-pair sorting re-paid the O(n log n)
    * each time (isolated kernel bench: 250µs → 32µs per 2k-shingle pair,
    * 7.5µs → 1.4µs at 100). */
  def hashedShinglesKernel(n: Int): Column => Column = GraftFunctions.hashedShingles(_, n)

  /** The tokenize+window+hash loop behind [[hashedShinglesKernel]]
    * (expression-backed since r15; package-visible so KernelsEquivSpec and
    * [[graft.tools.KernelBench]] measure the shipping code). Same
    * tokenization as [[shingleSeq]] (lowercase `\W+` split, short-text
    * fallback), but each window's `hash64(tokens.mkString(" "), 42L)` is
    * streamed char-by-char through [[hash64Window]] — the per-window
    * shingle STRING (allocate + copy + re-hash for `distinct`) the r14
    * form built exists nowhere. Dedup happens on the sorted hash values
    * instead of the strings: identical output up to 64-bit hash collisions
    * between DISTINCT shingles (2⁻⁶⁴ per pair), and even a colliding pair
    * is answer-invariant — every consumer treats the array as a set
    * (MinHash folds order-free over duplicates, [[jaccardMergeSorted]]
    * run-skips them), which is also why the r14 form could emit duplicate
    * hash values itself (distinct strings, colliding hashes). */
  private[graft] def hashedShinglesLoop(text: String, n: Int): Array[Long] = {
    if (text == null) return new Array[Long](0)
    val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (toks.length < n) Array(hash64Window(toks, 0, toks.length))
    else {
      val m = toks.length - n + 1
      val out = new Array[Long](m)
      var p = 0
      while (p < m) { out(p) = hash64Window(toks, p, n); p += 1 }
      java.util.Arrays.sort(out)
      var w = 1
      var i = 1
      while (i < m) {
        if (out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
        i += 1
      }
      if (w == m) out else java.util.Arrays.copyOf(out, w)
    }
  }

  /** `hash64(toks.slice(start, start+len).mkString(" "), 42L)` without
    * materializing the joined string: the FNV fold streams each token's
    * chars with a single `' '` between tokens, seeded with the joined
    * length — char-for-char the same fold, bit-identical output. */
  @inline private def hash64Window(toks: Array[String], start: Int, len: Int): Long = {
    var L = if (len > 1) len - 1 else 0
    var k = 0
    while (k < len) { L += toks(start + k).length; k += 1 }
    var h = 42L ^ (L * 0x9E3779B97F4A7C15L)
    k = 0
    while (k < len) {
      if (k > 0) { h ^= 32L; h *= 0x100000001B3L } // the ' ' separator
      val t = toks(start + k)
      var i = 0
      while (i < t.length) {
        h ^= t.charAt(i)
        h *= 0x100000001B3L
        i += 1
      }
      k += 1
    }
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    h
  }

  /** MinHash signature from pre-hashed shingles: `numHashes` affine
    * permutations of each base hash, bounded to 31 bits (no overflow). */
  def minhashSigFromHashes(numHashes: Int, seed: Long): Column => Column =
    GraftFunctions.minhashSig(_, numHashes, seed)

  /** The signature inner loop behind [[minhashSigFromHashes]] —
    * package-visible so [[graft.tools.KernelBench]] measures the SAME code
    * the udf ships, not a copy that can drift. */
  private[graft] def minhashSigLoop(hs: Array[Long], as: Array[Long],
                                    bs: Array[Long]): Array[Long] = {
    val numHashes = as.length
    val sig = Array.fill(numHashes)(Long.MaxValue)
    hs.foreach { hv =>
      val h = java.lang.Math.floorMod(hv, Mersenne31)
      var i = 0
      while (i < numHashes) {
        val v = modM31(h * as(i) + bs(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Positional word n-gram fingerprints of a token array in ONE pass:
    * element `p` is the 128-bit fingerprint (two independently-seeded
    * 64-bit combines) of tokens `p..p+n-1`. The declarative formulation
    * this replaces (`transform(sequence, i => xxhash64(slice(toks,...)))`)
    * re-hashes every token's characters once per covering position — n×
    * redundant char work — and allocates two n-element slice copies per
    * position. Here each token is char-hashed exactly TWICE (once per
    * seed), then each position combines n pre-hashed longs with an
    * order-sensitive FNV-style fold: O(chars + T·n) long ops, zero
    * per-position allocation. Collision posture matches the struct it
    * feeds: two independent 64-bit streams ⇒ ~G²/2^129 corpus-wide.
    * Documents shorter than `n` tokens yield an empty array (the caller's
    * `size >= n` filter grain).
    *
    * Expression-backed since r16 ([[graft.exprs.catalyst.PositionalGramsExpr]]):
    * the r15 ScalaUDF form paid a boxed Seq[String] input conversion plus a
    * Tuple2→struct encoder per GRAM on the operator's hottest pass (sf1:
    * ~350M grams per phase, and the kernel runs once per prefilter phase). */
  def positionalGramHashKernel(n: Int): Column => Column = GraftFunctions.positionalGrams(_, n)

  /** First-seed-only positional gram fingerprints (`_1` of
    * [[positionalGramHashKernel]]'s struct, bit-identical by shared loop) —
    * the singleton-gram prefilter's phase 1 consumes ONLY the 64-bit half,
    * and computing the struct to throw half of it away cost a second
    * char-hash pass plus a per-gram struct allocation over the FULL gram
    * count (the operator's single largest CPU line at sf1). */
  def gramHalvesKernel(n: Int): Column => Column = GraftFunctions.gramHalves(_, n)

  /** The two-seed gram-fingerprint core: per-token char hashes hoisted
    * once per seed, then one FNV-style fold per position per requested
    * seed. `h2s == null` skips the second seed entirely (the halves tier).
    * Package-visible so KernelBench and the equivalence specs measure the
    * SAME code the expressions ship. */
  private[graft] def positionalGramFold(ts: Array[String], n: Int,
                                        h1s: Array[Long], h2s: Array[Long]): Unit = {
    val T = ts.length
    val th1 = new Array[Long](T)
    val th2 = if (h2s == null) null else new Array[Long](T)
    var i = 0
    while (i < T) {
      th1(i) = hash64(ts(i), 42L)
      if (th2 != null) th2(i) = hash64(ts(i), 7L)
      i += 1
    }
    var p = 0
    while (p <= T - n) {
      var h1 = 0xCBF29CE484222325L
      var j = 0
      while (j < n) { h1 = (h1 ^ th1(p + j)) * 0x100000001B3L; j += 1 }
      h1s(p) = h1
      if (h2s != null) {
        var h2 = 0x9E3779B97F4A7C15L
        j = 0
        while (j < n) { h2 = (h2 ^ th2(p + j)) * 0xC4CEB9FE1A85EC53L; j += 1 }
        h2s(p) = h2
      }
      p += 1
    }
  }

  /** The tuple form of the gram fingerprints — retained for KernelBench and
    * the equivalence specs (the r14/r15 shipping shape); delegates to the
    * same [[positionalGramFold]] core as the expressions. */
  private[graft] def positionalGramHashes(toks: Seq[String],
                                          n: Int): Array[(Long, Long)] = {
    val ts = toks.toArray
    val T = ts.length
    if (T < n) Array.empty[(Long, Long)]
    else {
      val h1s = new Array[Long](T - n + 1)
      val h2s = new Array[Long](T - n + 1)
      positionalGramFold(ts, n, h1s, h2s)
      Array.tabulate(T - n + 1)(p => (h1s(p), h2s(p)))
    }
  }

  /** Result row of [[spanCutKernel]] — field names become the struct's. */
  final case class SpanCut(cleaned_text: String, n_tokens: Long, n_removed: Long)

  /** Gap-slicing span cut as ONE tight loop: drop every token covered by a
    * length-`n` span starting at any of `starts` (sorted ascending; null
    * or empty = keep everything). Runs of starts whose consecutive gaps
    * are <= n merge into a single covered interval `[first, last+n-1]`;
    * survivors are the tokens in the gaps between intervals, joined with
    * single spaces — the same arithmetic as the declarative
    * filter/sequence/slice formulation in `Dedup.cutCoveredSpans`, which
    * walked interpreted HOF expression trees per element and cost ~2,900
    * CPU-s at sf1 where this loop costs a few hundred. */
  def spanCutKernel(n: Int): (Column, Column) => Column = GraftFunctions.spanCut(_, _, n)

  /** The gap-slicing loop behind [[spanCutKernel]] — package-visible so
    * [[graft.tools.KernelBench]] measures the SAME code the udf ships. */
  private[graft] def spanCutLoop(toks: Seq[String], starts: Seq[Int],
                                 n: Int): SpanCut = {
    val t = toks.toIndexedSeq
    val tLen = t.length
    if (starts == null || starts.isEmpty) SpanCut(t.mkString(" "), tLen.toLong, 0L)
    else {
      val s = starts.toArray // primitive hoist — Seq[Int] access boxes
      val sb = new java.lang.StringBuilder
      var kept = 0
      var cursor = 0 // next token position not yet emitted or covered
      var i = 0
      while (i < s.length) {
        var j = i // extend the run while consecutive starts stay within n
        while (j + 1 < s.length && s(j + 1) - s(j) <= n) j += 1
        var p = cursor // emit the gap before this run's first covered token
        while (p < s(i)) {
          if (sb.length > 0) sb.append(' ')
          sb.append(t(p)); kept += 1; p += 1
        }
        cursor = math.max(cursor, s(j) + n)
        i = j + 1
      }
      var p = cursor // tail after the last run
      while (p < tLen) {
        if (sb.length > 0) sb.append(' ')
        sb.append(t(p)); kept += 1; p += 1
      }
      SpanCut(sb.toString, tLen.toLong, (tLen - kept).toLong)
    }
  }

  /** The run-skipping sorted-set merge behind [[jaccardLongKernel]] —
    * package-visible so [[graft.tools.KernelBench]] measures the SAME code
    * the udf ships, not a copy that can drift. */
  private[graft] def jaccardMergeSorted(x: Array[Long], y: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0; var na = 0; var nb = 0
    while (i < x.length || j < y.length) {
      if (j >= y.length || (i < x.length && x(i) < y(j))) {
        val v = x(i); na += 1
        while (i < x.length && x(i) == v) i += 1
      } else if (i >= x.length || y(j) < x(i)) {
        val v = y(j); nb += 1
        while (j < y.length && y(j) == v) j += 1
      } else {
        val v = x(i); na += 1; nb += 1; inter += 1
        while (i < x.length && x(i) == v) i += 1
        while (j < y.length && y(j) == v) j += 1
      }
    }
    val union = na + nb - inter
    if (union > 0) inter.toDouble / union else 1.0
  }

  /** Linear sortedness probe; sorts (a fresh copy is already in hand from
    * `toArray`, so in-place) only when the probe fails. */
  private[graft] def sortedAsc(v: Array[Long]): Array[Long] = {
    var k = 1
    while (k < v.length && v(k - 1) <= v(k)) k += 1
    if (k < v.length) java.util.Arrays.sort(v)
    v
  }

  /** Exact Jaccard of two long collections treated as sets — a primitive
    * run-skipping merge instead of two boxed HashSets: the verify tier
    * evaluates this once per LSH candidate pair, and Set[Long]
    * construction boxed ~100 longs per call (the pair stage's dominant
    * allocation). Duplicate values collapse in the merge exactly as the
    * set semantics did.
    *
    * [[hashedShinglesKernel]] emits its hashes pre-sorted, so the usual
    * input hits the merge directly; the linear isSorted probe keeps the
    * kernel correct for ANY caller (an unsorted input pays one sort, not
    * a wrong answer). Sorting per PAIR was the dominant verify cost — a
    * hot document re-paid its O(n log n) once per candidate pair it
    * appeared in (isolated bench: 250µs → 32µs per 2k-shingle pair). */
  val jaccardLongKernel: (Column, Column) => Column = GraftFunctions.jaccard64

  /** 64-bit SimHash over a token array. */
  def simhashKernel: Column => Column = {
    val f = udf { (tokens: Seq[String]) => simhashLoop(tokens) }
    c => f(c)
  }

  /** The bit-vote loop behind [[simhashKernel]] — package-visible so
    * [[graft.tools.KernelBench]] measures the SAME code the udf ships. */
  private[graft] def simhashLoop(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = hash64(t, 7L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** 64-bit SimHash over a token array with MD5-derived per-token bits.
    * MD5 is bit-identical in every engine (unlike the FNV-mix kernel above),
    * so this variant is cross-engine reproducible and used by the
    * oracle-checkable gate tier; `simhashKernel` stays the fast default.
    * The token hash is the first 8 md5 bytes big-endian == the first 16 hex
    * chars parsed as an unsigned 64-bit integer. */
  def simhashKernelMd5: Column => Column = {
    val f = udf { (tokens: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
    c => f(c)
  }

  /** Sequential-order cosine over float vectors (same fold order as the
    * Column/HOF version, the native expression, and the DuckDB oracle
    * formula — bit-identical; null for zero-norm inputs like the others). */
  val cosineKernel: (Column, Column) => Column = {
    val f = udf { (a: Seq[Float], b: Seq[Float]) =>
      val xa = a.toArray; val yb = b.toArray // primitive hoist
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(xa.length, yb.length)
      while (i < n) {
        val x = xa(i).toDouble; val y = yb(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d > 0) java.lang.Double.valueOf(dot / d) else null
    }
    (a, b) => f(a, b)
  }

  /** Content-defined chunk hashes via a Rabin-Karp rolling hash: a window
    * of `window` bytes rolls over the UTF-8 text; positions where the
    * rolling hash has `maskBits` low zero bits end a chunk (expected chunk
    * size 2^maskBits). Each chunk is FNV-hashed. Insertions/deletions only
    * disturb neighboring chunks — the property that makes chunk-overlap
    * detection robust for partial duplicates (rsync/LBFS recipe). */
  def chunkHashesKernel(window: Int, maskBits: Int): Column => Column = {
    val mask = (1L << maskBits) - 1
    val Base = 257L
    val Mod = (1L << 31) - 1
    // Base^(window-1) mod Mod, for removing the outgoing byte
    val basePow = {
      var p = 1L
      var i = 0
      while (i < window - 1) { p = (p * Base) % Mod; i += 1 }
      p
    }
    val f = udf { (text: String) =>
      if (text == null || text.isEmpty) Seq.empty[Long]
      else {
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val out = scala.collection.mutable.ArrayBuffer[Long]()
        var h = 0L
        var start = 0
        var i = 0
        while (i < bytes.length) {
          val in = bytes(i) & 0xFFL
          h = (h * Base + in) % Mod
          if (i >= window) {
            val outByte = bytes(i - window) & 0xFFL
            h = java.lang.Math.floorMod(h - (outByte * basePow) % Mod * Base % Mod, Mod)
          }
          if ((i - start + 1 >= window && (h & mask) == 0) || i == bytes.length - 1) {
            // FNV-1a over the chunk bytes
            var ch = 0xCBF29CE484222325L
            var j = start
            while (j <= i) { ch = (ch ^ (bytes(j) & 0xFFL)) * 0x100000001B3L; j += 1 }
            out += ch
            start = i + 1
          }
          i += 1
        }
        out.toSeq
      }
    }
    c => f(c)
  }

  /** Ids of the `nprobe` nearest centroids (squared L2) for a vector.
    * Centroids ride in the closure — they are nlist×dim doubles, small by
    * construction (an IVF codebook), broadcast with the task. */
  def nearestCentroidsKernel(centroids: Array[Array[Double]], nprobe: Int): Column => Column = {
    val f = udf { (v: Seq[Float]) => nearestCentroidsLoop(centroids, nprobe, v) }
    c => f(c)
  }

  /** The loop the [[nearestCentroidsKernel]] udf ships (package-visible for
    * KernelBench). Distances into a primitive array, then `nprobe` masked
    * argmin passes — no per-row tuple boxing and no generic sort. An
    * earlier form materialized 256 boxed (Double, Int) tuples and
    * `sortBy`'d them PER ROW — 3× the whole per-row cost (KernelBench
    * `nearestCentroid256`: 44.3µs → 14.2µs at 256×64, nprobe=1; 45.6 →
    * 16.0µs at nprobe=16). Selection order is exactly the old
    * `sortBy((dist, idx))`: ascending distance, index ascending on ties
    * (strict `<` on an ascending scan keeps the lowest index). */
  private[graft] def nearestCentroidsLoop(centroids: Array[Array[Double]],
                                          nprobe: Int, v: Seq[Float]): Seq[Int] = {
    // primitive hoist: element access through Seq[Float] boxes every
    // float — 256 centroids x 64 dims is ~16k boxes per ROW without it
    val a = v.toArray
    val k = centroids.length
    val dists = new Array[Double](k)
    var i = 0
    while (i < k) {
      val c = centroids(i)
      var d = 0.0
      var j = 0
      val n = math.min(a.length, c.length)
      while (j < n) { val t = a(j) - c(j); d += t * t; j += 1 }
      dists(i) = d
      i += 1
    }
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var s = 0
    while (s < m) {
      var bestI = -1
      var bestD = Double.PositiveInfinity
      var t = 0
      while (t < k) {
        if (!taken(t) && dists(t) < bestD) { bestD = dists(t); bestI = t }
        t += 1
      }
      if (bestI == -1) {
        // every remaining distance is NaN (a NaN element in the input
        // poisons all of them): `<` never fires and the argmin scan finds
        // nothing. Reproduce the replaced sortBy's total order — NaN sorts
        // after every real distance and the stable sort kept index order —
        // by taking the lowest untaken index, instead of crashing the whole
        // build/ingest job on taken(-1).
        var u = 0
        while (taken(u)) u += 1
        bestI = u
      }
      taken(bestI) = true
      out(s) = bestI
      s += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** All `tables` hyperplane sign-buckets of a vector in one pass. */
  def hyperplaneBucketsKernel(planes: Int, tables: Int, dim: Int, seed: Long): Column => Column = {
    val hp = Array.tabulate(tables) { t =>
      val rnd = new scala.util.Random(seed + t * 7919)
      Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
    }
    val f = udf { (v: Seq[Float]) =>
      val a = v.toArray // primitive hoist — see nearestCentroidsKernel
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var p = 0
        while (p < planes) {
          var dot = 0.0
          val r = hp(t)(p)
          val n = math.min(a.length, dim)
          var i = 0
          while (i < n) { dot += a(i) * r(i); i += 1 }
          if (dot >= 0) bucket |= (1L << p)
          p += 1
        }
        out(t) = bucket
        t += 1
      }
      out
    }
    c => f(c)
  }

  /** Product-quantization encode: split the vector into `m` contiguous
    * subvectors and emit, per subspace, the index of the nearest codeword
    * (L2). `codebooks(sub)(code)` is a subvector-sized centroid. Output is
    * `array<int>` of length m — the PQ code a stored index keeps instead of
    * the float vector (m bytes-worth vs 4·dim bytes). */
  def pqEncodeKernel(codebooks: Array[Array[Array[Double]]]): Column => Column = {
    val f = udf { (v: Seq[Float]) =>
      val a = v.toArray // primitive hoist — see nearestCentroidsKernel
      val m = codebooks.length
      val out = new Array[Int](m)
      var sub = 0
      var off = 0
      while (sub < m) {
        val cb = codebooks(sub)
        val subDim = cb(0).length
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          val cw = cb(c)
          var d = 0.0
          var j = 0
          while (j < subDim && off + j < a.length) {
            val t = a(off + j) - cw(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(sub) = best
        off += subDim
        sub += 1
      }
      out
    }
    c => f(c)
  }

  /** Driver-side flat ADC table (length m·ksub, row-major by subspace) for
    * one query vector. Shipped in a closure rather than through DataFrame
    * rows — deserializing a nested per-row table once per candidate costs
    * more than the scoring itself. */
  def adcTableFlat(codebooks: Array[Array[Array[Double]]],
                   v: scala.collection.Seq[Float]): Array[Double] = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val out = new Array[Double](m * ksub)
    var sub = 0
    var off = 0
    while (sub < m) {
      val cb = codebooks(sub)
      val subDim = cb(0).length
      var c = 0
      while (c < ksub) {
        val cw = cb(c)
        var d = 0.0
        var j = 0
        while (j < subDim && off + j < v.length) { d += v(off + j) * cw(j); j += 1 }
        out(sub * ksub + c) = d
        c += 1
      }
      off += subDim
      sub += 1
    }
    out
  }

  /** Batched flat-ADC sweep over one partition of the PQ code table: each
    * codes row is decoded ONCE and scored against EVERY query's flat ADC
    * table in a straight-line loop, with a bounded per-query heap keeping
    * the partition's top `rerank` — so the |queries|×|corpus| scored
    * relation never materializes as rows at all; only
    * partitions·|queries|·rerank candidates leave the sweep. Replaces the
    * broadcast-crossJoin + per-row UDF shape, whose per-row cost was
    * dominated by deserializing the same codes array once PER QUERY
    * (|queries|× the necessary work) rather than by the m adds of scoring.
    * Scores are the identical ascending-subspace sum; survivors under
    * (score desc, id asc) per partition are a superset of the global
    * top-`rerank` under the same total order, so the downstream global
    * heap selection is unchanged. Null ids/codes rows are skipped — the
    * UDF form scored them null, which the global heap orders last; the
    * difference is observable only when a query has fewer than `rerank`
    * non-null candidates, where the extra null-scored rows were re-ranked
    * by exact cosine anyway. */
  def adcSweepPartition(qIds: Array[Any], qTables: Array[Array[Double]],
                        ksub: Int, rerank: Int):
      Iterator[org.apache.spark.sql.Row] => Iterator[org.apache.spark.sql.Row] =
    adcSweepImpl(qIds, qTables, ksub, rerank, byCluster = None)

  /** IVF-PQ variant of [[adcSweepPartition]]: input rows are
    * (cluster, neighbor_id, codes) and each row is scored only against the
    * queries whose nprobe coarse cells include its cluster — the identical
    * candidate pair set the probes⋈indexed equi-join produced, without
    * materializing it as rows. */
  def adcSweepClusteredPartition(byCluster: Map[Int, Array[Int]], qIds: Array[Any],
                                 qTables: Array[Array[Double]], ksub: Int, rerank: Int):
      Iterator[org.apache.spark.sql.Row] => Iterator[org.apache.spark.sql.Row] =
    adcSweepImpl(qIds, qTables, ksub, rerank, byCluster = Some(byCluster))

  private def adcSweepImpl(qIds: Array[Any], qTables: Array[Array[Double]],
                           ksub: Int, rerank: Int,
                           byCluster: Option[Map[Int, Array[Int]]]):
      Iterator[org.apache.spark.sql.Row] => Iterator[org.apache.spark.sql.Row] = { it =>
    // heap root = worst survivor: lowest score first, larger id first on ties
    val cmp = new java.util.Comparator[(Double, Any)] {
      def compare(a: (Double, Any), b: (Double, Any)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c
        else b._2.asInstanceOf[Comparable[Any]].compareTo(a._2)
      }
    }
    val nq = qIds.length
    val all = Array.range(0, nq)
    val none = Array.empty[Int]
    // clustered rows lead with the cluster id; flat rows start at the id
    val base = if (byCluster.isDefined) 1 else 0
    // the exhaustive-oracle tier passes rerank = 1<<20: size the backing
    // array to what the partition can actually hold, not the bound
    val initCap = math.max(1, math.min(rerank, 1024))
    val heaps = Array.fill(nq)(new java.util.PriorityQueue[(Double, Any)](initCap, cmp))
    while (it.hasNext) {
      val row = it.next()
      if (!row.isNullAt(base) && !row.isNullAt(base + 1)) {
        val sel: Array[Int] = byCluster match {
          case Some(m) => if (row.isNullAt(0)) none else m.getOrElse(row.getInt(0), none)
          case None    => all
        }
        if (sel.length > 0) {
          val nid = row.get(base)
          val csSeq = row.getSeq[Int](base + 1)
          val m = csSeq.length
          val cs = new Array[Int](m)
          var j = 0
          while (j < m) { cs(j) = csSeq(j); j += 1 }
          var si = 0
          while (si < sel.length) {
            val i = sel(si)
            if (qIds(i) != nid) {
              val t = qTables(i)
              var s = 0.0
              var p = 0
              while (p < m) { s += t(p * ksub + cs(p)); p += 1 }
              val h = heaps(i)
              if (h.size < rerank) h.add((s, nid))
              else {
                val w = h.peek()
                if (s > w._1 || (s == w._1 &&
                    nid.asInstanceOf[Comparable[Any]].compareTo(w._2) < 0)) {
                  h.poll(); h.add((s, nid))
                }
              }
            }
            si += 1
          }
        }
      }
    }
    Iterator.range(0, nq).flatMap { i =>
      val h = heaps(i)
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      while (!h.isEmpty) {
        val (s, nid) = h.poll()
        out += org.apache.spark.sql.Row(qIds(i), nid, s)
      }
      out.iterator
    }
  }

  /** Driver-side nearest-`nprobe` centroid cells for one query vector —
    * the same L2 distances and (distance, index) tie order as
    * [[nearestCentroidsKernel]], computed where the probe list is needed
    * to build the cluster→queries index of the batched IVF-PQ sweep. */
  def nearestCentroidsDriver(centroids: Array[Array[Double]],
                             v: scala.collection.Seq[Float], nprobe: Int): Array[Int] = {
    val a = v.toArray
    val dists = new Array[(Double, Int)](centroids.length)
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var d = 0.0
      var j = 0
      val n = math.min(a.length, c.length)
      while (j < n) { val t = a(j) - c(j); d += t * t; j += 1 }
      dists(i) = (d, i)
      i += 1
    }
    dists.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2)
  }

  /** Mojibake repair kernel: undo the classic UTF-8-bytes-decoded-as-
    * Windows-1252/Latin-1 corruption a web scrape accumulates
    * ("Ã©" → "é", "â€™" → "’"). A string whose chars all re-encode to
    * single cp1252/Latin-1 bytes is reinterpreted as those bytes and
    * STRICTLY decoded as UTF-8; only a clean decode that actually shrank
    * the text (i.e. contained a multi-byte sequence) replaces the input —
    * clean ASCII and real Unicode pass through untouched, and a repaired
    * string is a fixed point (its é no longer re-encodes to a lead byte).
    * One pass per row; deterministic and pure. */
  val mojibakeRepairKernel: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        var canBytes = true
        var hasHigh = false
        var i = 0
        while (i < s.length && canBytes) {
          val c = s.charAt(i)
          if (c >= 0x80) hasHigh = true
          if (c >= 0x100) {
            // chars above FF: representable only if cp1252 maps them back
            // to a high byte (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š › œ ž Ÿ)
            if (Cp1252Reverse.getOrElse(c, -1) < 0) canBytes = false
          }
          i += 1
        }
        if (!canBytes || !hasHigh) s
        else {
          val bytes = new Array[Byte](s.length)
          var j = 0
          while (j < s.length) {
            val c = s.charAt(j)
            bytes(j) = (if (c < 0x100) c else Cp1252Reverse(c)).toByte
            j += 1
          }
          try {
            val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
            if (out.length < s.length) out else s
          } catch { case _: java.nio.charset.CharacterCodingException => s }
        }
      }
    }
    c => f(c)
  }

  /** Deflate compression ratio kernel: compressed bytes / raw UTF-8 bytes
    * (level 6, the published recipe's default) — the entropy-based quality
    * signal (Dolma, RedPajama-v2 `ccnet_length`/`rps_doc_*` family):
    * highly-repetitive boilerplate compresses far below prose (~0.3-0.4),
    * random noise sits near or above 1.0. Empty/null text → null. One
    * Deflater per row, byte-bounded work; 1e-6-quantized for cross-run
    * comparison stability. */
  val compressionRatioKernel: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null || s.isEmpty) null
      else {
        val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val (d, buf) = DeflaterLocal.get()
        d.reset()
        d.setInput(raw); d.finish()
        var compressed = 0L
        while (!d.finished()) compressed += d.deflate(buf)
        java.lang.Double.valueOf(
          math.floor(compressed.toDouble / raw.length * 1e6 + 0.5) / 1e6)
      }
    }
    c => f(c)
  }

  /** One native Deflater (+ scratch buffer) per executor THREAD, reset
    * between rows — fresh-per-row allocation of the ~256KB zlib state
    * would dominate the actual deflate work at corpus scale. A module
    * object so UDF lambdas reach it statically (never captured into the
    * serialized closure — an inline ThreadLocal would be). */
  private object DeflaterLocal {
    private val tl = new ThreadLocal[(java.util.zip.Deflater, Array[Byte])] {
      override def initialValue() =
        (new java.util.zip.Deflater(6), new Array[Byte](8192))
    }
    def get(): (java.util.zip.Deflater, Array[Byte]) = tl.get()
  }

  /** cp1252's 0x80-0x9F block as unicode-char → byte, for re-encoding
    * mojibake that passed through Windows-1252 (not plain Latin-1). */
  private val Cp1252Reverse: Map[Char, Int] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
    '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
    '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
    '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)
}
