package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.exprs.catalyst.GraftFunctions

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Design rules applied throughout:
  *  - candidate generation is always a *bucket equi-join* (one shuffle on a
  *    small key), never an O(n²) cross join;
  *  - signatures are pure Column expressions (xxhash64 + arithmetic) so the
  *    signature pass is a single codegen'd scan;
  *  - verification (exact Jaccard / cosine) runs only on bucket-collided
  *    candidate pairs.
  */
object Dedup {

  /** Scratch root for spills, resolved per session. Priority:
    * `spark.graft.scratchDir` conf → the SparkContext checkpoint dir →
    * a driver-local temp dir, but ONLY under a local master. On a real
    * cluster a driver-local path is silently wrong (executors write to
    * *their* local disks and the read-back sees nothing), so with no
    * cluster-visible location configured we refuse loudly instead. */
  private[graft] def scratchRoot(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.scratchDir")
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse {
        if (spark.sparkContext.isLocal)
          java.nio.file.Files.createTempDirectory("graft-scratch").toString
        else
          throw new IllegalStateException(
            "graft spill needs a cluster-visible scratch location: set spark.graft.scratchDir " +
              "(any Hadoop-FS URI all executors can reach) or sparkContext.setCheckpointDir")
      }

  /** Spill an intermediate frame to a scratch parquet path and read it
    * back: the multi-branch reuse a `persist()` would give, without pinning
    * executor memory for the caller to forget about (at cluster scale this
    * is the "write the signature table once" step). The write is eager; the
    * returned frame has a plain scan lineage. The path lives under
    * [[scratchRoot]] — a shared filesystem on a cluster — and is deleted at
    * JVM exit through the owning Hadoop FileSystem. */
  private[graft] def spill(df: DataFrame, prefix: String,
                           writeOptions: Map[String, String] = Map.empty): DataFrame =
    spillWithPath(df, prefix, writeOptions)._1

  /** Parquet write options for frames whose bulk is HASH-VALUED ARRAY
    * columns (float embeddings, 64-bit shingle sets, minhash signatures):
    * dictionary encoding off. The parquet writer dictionary-hashes every
    * ELEMENT of every array before concluding (per page) that ~unique
    * values never repay a dictionary and falling back to plain — measured
    * 4.3 s → 0.15 s (30×) for a single-task 12k-row × 64-float write at
    * BYTE-IDENTICAL output size, and 5.4 → 4.7 s for a 500k-doc signature
    * spill. Scalar text/id columns are unaffected by the pathology (one
    * dictionary probe per VALUE, not per element) — plain doc-store writes
    * keep the default. */
  private[graft] val noDictOptions: Map[String, String] =
    Map("parquet.enable.dictionary" -> "false")

  /** [[noDictOptions]] with the dictionary re-enabled for the named
    * columns — for frames that mix hash-valued arrays (dictionary-hostile,
    * above) with LOW-cardinality arrays where the dictionary genuinely
    * pays: PQ `codes` are m positions over ksub(=16) distinct values each,
    * exactly the page shape dictionary+RLE compresses best, and the r10
    * blanket noDict on the IVF-PQ index spill was the suspect for the
    * sf1IvfPqBuild 11.1→15.4 s regression. Parquet keys per-column
    * properties by the leaf column-descriptor path, which for Spark's
    * 3-level list encoding is `col.list.element` — both spellings are set
    * so scalar and array columns are covered (PerColumnDictSpec pins the
    * footer encodings). */
  private[graft] def noDictOptionsExcept(dictCols: String*): Map[String, String] =
    noDictOptions ++ dictCols.flatMap(c => Seq(
      s"parquet.enable.dictionary#$c" -> "true",
      s"parquet.enable.dictionary#$c.list.element" -> "true"))

  /** Write options for SIGNATURE dirs ([[ingestStep]]'s `_sigs` layout and
    * everything that rebuilds it — compaction, backfill): [[noDictOptions]]
    * plus a per-row-group parquet BLOOM FILTER on `doc_id`. The bloom is
    * the layout half of the verify fetch's sublinear story at UNIFORM
    * candidate spread, where min/max stats structurally can't prune: a
    * batch's candidate ids are batch-bounded, so once the store's row-group
    * count exceeds the candidate count (exactly the 100× regime) almost
    * every row group contains NO candidate — a min/max range can't see
    * that (scattered ids blanket every row group's span) but a bloom
    * excludes it at any spread. The read side pushes the collected
    * candidate id set as a native parquet In predicate
    * ([[chooseIdPredicate]]'s InSet arm), which parquet-mr's row-group
    * filter evaluates against these blooms (measured: 94 row groups → 20
    * for a 500-id uniform probe over a shuffled 4M-row file; min/max
    * excluded none). ADAPTIVE sizing (parquet-1.14+) builds the bloom from
    * the row group's ACTUAL distinct count instead of a declared NDV, so a
    * 10k-row micro-batch sig file pays ~15 KB, not the 1 MB cap a static
    * worst-case NDV would reserve; `doc_id` is unique per sig row, so the
    * insert count IS the NDV. */
  private[graft] def sigWriteOptions: Map[String, String] =
    noDictOptions ++ Map(
      "parquet.bloom.filter.enabled#doc_id" -> "true",
      "parquet.bloom.filter.adaptive.enabled" -> "true")

  /** Data-proportional partition count for a keyed shuffle with a known
    * row count: a near-unique key space (grams, lines, shingles) at the
    * session's fixed shuffle.partitions gives every reducer a hash map
    * that overflows execution memory into sort-based spill — the sf1 span
    * cut ran 64× the CPU for 20× the data on exactly that. ~2M rows per
    * reducer keeps the per-task aggregation map ~100 MB (in memory on any
    * plausible executor); sessions already configured wider keep their own
    * setting, and 4096 caps runaway estimates the way a cluster-side
    * sanity limit would. */
  private[graft] def scaledParts(spark: org.apache.spark.sql.SparkSession, rows: Long,
                                 rowsPerPart: Long = 2000000L): Int = {
    val sess = spark.sessionState.conf.numShufflePartitions
    math.max(sess, math.min(4096, (rows / rowsPerPart).toInt + 1))
  }

  /** [[clusterPairs]]' bounded-graph union-find arm: collect the deduped
    * edge list and solve components on the driver when it holds at most
    * this many edges (~200 MB collected at the default — the bounded
    * driver-materialization budget the verify id-set collect also uses).
    * The dup-graph edge count tracks the corpus's DUPLICATED fraction (the
    * verified pair set), not the corpus, so bench- and sf1-scale graphs
    * sit far under the gate while a genuinely pair-heavy 100-TB graph
    * keeps the distributed rounds. The differential spec passes 0 through
    * the `collectMaxEdges` overload to run both arms on the same graph. */
  private[graft] val ccCollectMaxEdges: Long = 4000000L

  /** Arming threshold for [[ingestStep]]'s exact-tier batch bloom, in
    * TOTAL ON-DISK BYTES of the store's batch dirs (a free FileSystem
    * listing — no scan). The bloom bounds the hash anti-join's exchange by
    * the batch instead of the store, but costs two extra per-batch driver
    * actions (pin-count + bloom aggregation, ~0.7-1.0 s of job-scheduling
    * barriers at any batch size): an r11 streaming-ingest run measured the
    * armed form at a 6M-doc/2.4 GB store trading 33% LESS CPU (857→573 s)
    * for 46% MORE wall (64→93 s) — the exchange it prunes (~230 MB) costs
    * less than the actions at this size. 8 GB ≈ 20M docs of web text, where the
    * pruned exchange (~1 GB/batch and growing) clearly out-costs two fixed
    * actions; below it the anti-join runs direct (still against the narrow
    * hash sidecar — the sidecar always pays, it replaces a full text
    * re-read+re-hash with a 40 B/doc column scan). The default of the
    * `exactArmMinStoreBytes` / `hashSidecarMinStoreBytes` arguments of the
    * ingest, merge, compaction and backfill operators, which callers lower
    * to arm the sidecars on a small store. */
  private[graft] val exactBloomMinStoreBytes: Long = 8L << 30

  /** Bucket count for [[ingestStep]]'s band-key sidecar layout: every band
    * row carries `bucket = pmod(xxhash64(band, band_key), buckets)` and the
    * sidecar files are sorted by it, so parquet row-group stats prune a
    * bounded probe (one document's ≤`bands` keys touch ≤`bands` of the
    * buckets) down to a sliver of the store's band index without a
    * partition-directory explosion (64 sorted row-group ranges per file vs
    * 64 directories per batch). A streaming micro-batch's key set covers
    * every bucket by birthday arithmetic (250k docs × 16 bands ≫ 64), so
    * for ingest the sidecar's win is not pruning but the NARROW PRECOMPUTED
    * scan — ~20 B/row of (doc_id, band, band_key) replacing the wide
    * `sig`-column read plus a banding-kernel re-run over the whole store
    * every batch (the one O(store)-per-batch cost r11's StreamNearProfile
    * measured growing 4→20 s/batch). The value is pinned per store in
    * `_bands/_params.json` by the first writer; later batches adopt the
    * pin, so changing this default never splits one store across two
    * bucket functions. */
  private[graft] var bandSidecarBuckets: Int = 64

  /** Size-scaled band-index bucket count for [[compactIngestStore]]'s
    * rebuild — the one moment that rewrites the whole index (and its pin)
    * anyway, so it can re-bucket for free. A fixed 64 buckets caps a point
    * probe's pruning at ~`bands`/64 of the index however large the store
    * grows: a compacted 100× store sorted into 64 ranges reads ~25% of a
    * multi-GB index per probe where 1024 buckets would read ~1.6%. The
    * rule keeps per-bucket index volume roughly constant instead — the
    * smallest power of two ≥ [[bandSidecarBuckets]] holding
    * `targetRowsPerBucket` under ~64k band rows (~1 MB of ~14 B-on-disk
    * rows per bucket), capped at 8192 (an IN-list and footer-stat count a
    * probe's planner handles comfortably). The target is MEASURED, not
    * derived (an r13 bucket-count sweep, README): point-probe latency is
    * FLAT in bucket count at small indexes (50k-800k docs / 10-172 MB: medians
    * within noise across 16→1024 buckets — fixed job costs dominate), and
    * at 3M docs / 649 MB the 1024-bucket layout beats 64 by 21% median
    * and 3× at max (2.128 s med / 2.998 max vs 2.687 / 8.854) — more
    * buckets never measurably hurt, and start paying from ~half a GB of
    * index; 64k rows/bucket reproduces the measured-good choice at every
    * probed size (800k→256, 3M→1024) and caps a 100× store at 8192.
    * Growth is monotone: compaction takes the max of the
    * source pin and the scaled value, so a store's probes never LOSE
    * pruning resolution across a compact cycle, and the in-place
    * auto-compact swap still pins the live value explicitly (a moved-in
    * dir must never disagree with the live pin mid-crash). */
  private[graft] def scaledBandBuckets(indexRows: Long,
                                       targetRowsPerBucket: Long = 64000L,
                                       maxBuckets: Int = 8192): Int = {
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    var p = bandSidecarBuckets
    while (p < maxBuckets && p.toLong * targetRowsPerBucket < indexRows) p <<= 1
    p
  }

  /** Per-directory on-disk byte totals for [[ingestStep]]'s arming gate.
    * Batch dirs are immutable once a LATER batch can see them (a retry
    * only ever overwrites its OWN tag, which is excluded from the read
    * set whose bytes are summed), so one recursive `getContentSummary`
    * per directory lifetime replaces the per-micro-batch relisting of
    * every accumulated dir — on an object store that relisting is an
    * O(dirs × files) metadata storm per batch that grows with the store.
    * Keyed by fully-qualified dir path; entries for dirs deleted by
    * compaction are never summed again (the gate only looks up dirs the
    * current listing returned) and cost a few dozen bytes each. */
  private val dirBytesCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** One canonical spelling for a path — `scheme://authority/path`, no
    * trailing slash — shared by every identity-sensitive path compare in
    * this file (the byte cache's keys, [[compactIngestStore]]'s
    * disjointness check). Rebuilt from URI components because
    * `Path.toUri.toString` renders the empty authority inconsistently
    * (`file:///a` when qualification added the scheme, `file:/a` when the
    * caller wrote it), so a raw string compare lets exactly the alias this
    * canonicalization exists for slip through. */
  private[graft] def qualifiedUri(hconf: org.apache.hadoop.conf.Configuration,
                                  s: String): String = {
    val p = new org.apache.hadoop.fs.Path(s)
    val u = p.getFileSystem(hconf).makeQualified(p).toUri
    val auth = Option(u.getAuthority).getOrElse("")
    s"${u.getScheme}://$auth${u.getPath}".stripSuffix("/")
  }

  private[graft] def cachedDirBytes(hconf: org.apache.hadoop.conf.Configuration,
                                    dir: String): Long =
    dirBytesCache.computeIfAbsent(qualifiedUri(hconf, dir), d => {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(hconf).getContentSummary(p).getLength
    })

  /** Drop [[cachedDirBytes]] entries at or under a path — the WRITERS'
    * half of the cache contract. "Immutable once a later batch can see it"
    * fails exactly twice, and both mutators invalidate here: (a) a retried
    * batch overwrites its OWN tag with possibly different bytes (its dir
    * is excluded from its own read set but summed by every LATER batch),
    * and (b) compaction reuses `<outPath>/batch-compacted` across
    * compact→ingest→compact cycles — without invalidation a long-lived
    * JVM would sum a stale length and, e.g., hold a now-huge store below
    * the arming gate forever. Both sides are canonicalized through
    * [[qualifiedUri]] and matched on PATH-SEGMENT boundaries: a raw
    * substring match would miss a `file://`-spelled root against an
    * unqualified key (never invalidating — the exact stale-gate case this
    * function closes) and evict `batch-30` when asked for `batch-3`
    * (benign but wasteful re-listing). */
  private[graft] def invalidateDirBytes(hconf: org.apache.hadoop.conf.Configuration,
                                        root: String): Unit = {
    val q = qualifiedUri(hconf, root)
    dirBytesCache.keySet.removeIf(k => k == q || k.startsWith(q + "/"))
  }

  /** The ONE recipe for probing a driver-built Bloom filter from a column
    * of 64-bit hashes — every prefilter (exact-content store bloom,
    * bounded-batch band bloom) routes through here, and the
    * literal-vs-broadcast choice is SIZE-gated rather than per-call-site
    * folklore:
    *
    *  - at or below [[bloomLiteralMaxBytes]] (2 MB serialized) the filter
    *    embeds as a binary plan literal probed by Spark's codegen'd
    *    `BloomFilterMightContain` (the graft_bloom_might_contain kernel) —
    *    no broadcast round-trip and the probe stays inside whole-stage
    *    codegen. Eval-gram decontamination blooms and small-batch band
    *    blooms live here.
    *  - above the gate the filter ships ONCE per executor as a broadcast
    *    probed by a boxed Scala UDF. A literal is re-serialized into the
    *    task binary of EVERY task of every stage that references it, so
    *    its cost scales with literalBytes × tasks — measured directly: a
    *    first cut gated at 16 MB turned the streaming curated tier's
    *    per-batch 4.8 MB band bloom into a literal and cost ~10% of the
    *    whole 6M-doc ingest (~70 s) in task-serialization churn against
    *    the store-scan stage's task count, where the broadcast ships the
    *    bytes once per executor. The boxed probe itself is ~32-35 ns/call
    *    even at 14M keys (KernelBench `bloomProbeBoxed`), noise against
    *    the exchange either form prunes.
    *
    * The gate bounds PLAN size, not probe cost: 2 MB × a wide stage's
    * tasks is bounded churn; past it the broadcast's fixed cost always
    * wins. Null hashes probe to null, which `filter` drops — matching the
    * join semantics every caller had. */
  private[graft] val bloomLiteralMaxBytes: Long = 2L << 20
  private[graft] def bloomProbe(spark: org.apache.spark.sql.SparkSession,
                                bf: org.apache.spark.util.sketch.BloomFilter):
      Column => Column = {
    // serialized size ≈ bit array + small header; decide from bitSize so an
    // over-gate filter is never serialized to bytes at all
    if (bf.bitSize() / 8 <= bloomLiteralMaxBytes) {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val bytes = lit(bos.toByteArray)
      (h: Column) => GraftFunctions.mightContain(bytes, h)
    } else {
      val bc = spark.sparkContext.broadcast(bf)
      val probe = udf((h: Long) => bc.value.mightContainLong(h))
      (h: Column) => probe(h)
    }
  }

  /** Bounded verify fetch for [[minhashPairsFromSignatures]]'s bipartite
    * ingest tier — the r12 verdict's last O(store)-per-batch cost. Without
    * it the exact-Jaccard verify joins candidates against the FULL sig
    * store's (doc_id, sh) columns (~400 B/doc), a store-linear scan every
    * micro-batch (measured 5 s/batch at a 3M-doc store growing to 9-11 s
    * at 5.5M). The candidate set itself is batch-bounded, so the verify
    * only ever NEEDS the candidates' own signatures: when this is passed,
    * the candidate pairs (which carry a `__dir` batch-dir tag from the
    * band sidecar scan) are pinned, their matched dir tags and distinct
    * store-side ids are collected (driver-bounded by `maxCollectRows` —
    * past it the full-store fetch is kept, never a wrong answer), and
    * `resolve(tags, pred)` returns the verify frame: ONLY the matched
    * sig dirs, filtered by the chosen [[IdPredicate]] — ≤`maxRanges`
    * doc_id intervals when the ids cluster (the sorted sig layout turns
    * them into row-group min/max prunes), or the exact id set as a native
    * parquet In when they spread uniformly (the sig dirs' per-row-group
    * `doc_id` blooms exclude candidate-free row groups at any spread,
    * capped at `maxInIds` plan-borne ids). Results are bit-identical to
    * the full fetch — every candidate's store id is, by construction,
    * inside both the matched dirs and the pushed predicate. `register`
    * hands the caller each frame pinned here so its persist is released
    * under the caller's try/finally discipline. */
  private[graft] final case class VerifyPrune(
      resolve: (Set[String], Option[IdPredicate]) => DataFrame,
      register: DataFrame => Unit,
      maxCollectRows: Int = 500000,
      maxRanges: Int = 64,
      maxInIds: Int = 262144,
      // broadcast ceiling for the candidate side of the verify join, in
      // PAIRS (two longs ≈ 16 B each → 4M ≈ 64 MB, the same bound
      // [[spillSized]] documents): past it the pair set is genuinely
      // large and the sort-merge plan is correct
      maxBroadcastPairs: Long = 4000000L)

  /** Coalesce a sorted distinct id array into at most `maxRanges` closed
    * intervals, splitting at the largest gaps — the shape a parquet reader
    * prunes best (an IN-list of thousands of ids is expensive to even
    * plan; ≤64 BETWEENs evaluate against row-group min/max stats in
    * microseconds). Exact containment: every input id lies inside some
    * returned interval (intervals may cover absent ids — the verify join's
    * equality re-checks, so over-coverage costs IO, never answers). */
  private[graft] def idRanges(sorted: Array[Long], maxRanges: Int): Seq[(Long, Long)] = {
    require(maxRanges >= 1, s"maxRanges must be >= 1, got $maxRanges")
    if (sorted.isEmpty) Seq.empty
    else {
      // gaps in DOUBLE: hash-valued id spaces (xxhash64 doc_ids) put
      // neighbors more than Long.MaxValue apart, and a Long gap would wrap
      // negative — dropping exactly the widest splits and coalescing the
      // Long extremes into one span-wide range
      val splits = (1 until sorted.length)
        .map(i => (sorted(i).toDouble - sorted(i - 1).toDouble, i))
        .filter(_._1 > 1d)
        .sortBy(-_._1)
        .take(maxRanges - 1)
        .map(_._2).sorted
      (0 +: splits :+ sorted.length).sliding(2).map {
        case Seq(a, b) => (sorted(a), sorted(b - 1))
      }.toSeq
    }
  }

  /** The candidate-id predicate a pruned verify fetch pushes into the sig
    * store's parquet scan — two forms, chosen by [[chooseIdPredicate]]
    * from the collected ids' SHAPE:
    *
    *  - [[IdPredicate.Ranges]]: ≤`maxRanges` coalesced BETWEEN intervals
    *    ([[idRanges]]) — the cheap, plan-literal-light form, effective
    *    exactly when the candidates CLUSTER (a recrawl hitting one
    *    original shard, a compacted doc_id-ranged store) so the intervals
    *    exclude most of the span via row-group min/max stats.
    *  - [[IdPredicate.InSet]]: the exact id set pushed as a native parquet
    *    In predicate, which the reader evaluates against the sig dirs'
    *    per-row-group `doc_id` BLOOM FILTERS ([[sigWriteOptions]]) — the
    *    form that stays sublinear at UNIFORM spread, where ranges cover
    *    ~the whole span and prune nothing: blooms exclude a row group iff
    *    it holds no candidate, true for almost every row group once the
    *    store outgrows the batch-bounded candidate count. Capped at
    *    `maxInIds` because the id set rides the plan into every scan task
    *    (the same plan-size bound [[bloomLiteralMaxBytes]] documents —
    *    262144 longs ≈ 2 MB).
    *
    * Ranges are preferred when they genuinely exclude (tight absolute
    * cover, or ≤50% of the candidates' own span — the measured r13 gate);
    * otherwise the InSet form arms when the set is plan-bounded; past both
    * gates the fetch keeps the full matched-dir scan (never a wrong
    * answer, the candidates are a superset either way). */
  private[graft] sealed trait IdPredicate
  private[graft] object IdPredicate {
    final case class Ranges(rs: Seq[(Long, Long)]) extends IdPredicate
    final case class InSet(ids: Seq[Long]) extends IdPredicate
  }

  /** The absolute-cover gate below which coalesced ranges are considered
    * tight (≤ ~a hundred row groups' worth of ids — prunes hugely on any
    * multi-M store). A `var` only so the differential spec can lower it
    * to 0 to arm the InSet form on a spec-sized id set (a realistic
    * uniform spread needs >100k candidate ids, not a unit-test fixture)
    * and assert it returns bit-identical results with the In predicate in
    * the scan. Production never writes. */
  private[graft] var verifyRangeTightCover: Double = 100000.0

  private[graft] def chooseIdPredicate(sorted: Array[Long], maxRanges: Int,
                                       maxInIds: Int): Option[IdPredicate] =
    if (sorted.isEmpty) None
    else {
      val rs = idRanges(sorted, maxRanges)
      // Double-accumulated: hash-valued id spaces (xxhash64 doc_ids) span
      // more than half the Long range, so Long arithmetic here overflows
      // negative and a bogus `covered` would pass the tight-cover gate —
      // silently picking Ranges in exactly the uniform-spread regime the
      // InSet/bloom arm exists for. Doubles lose ulp precision at 2^53+
      // but the gates (absolute 100k, ratio 0.5) don't need it.
      val covered = rs.iterator.map(r => r._2.toDouble - r._1.toDouble + 1d).sum
      val span = sorted.last.toDouble - sorted.head.toDouble + 1d
      // tight in absolute terms or relative to the candidates' own span
      if (covered <= verifyRangeTightCover || covered / span <= 0.5)
        Some(IdPredicate.Ranges(rs))
      else if (sorted.length <= maxInIds)
        Some(IdPredicate.InSet(scala.collection.immutable.ArraySeq.unsafeWrapArray(sorted)))
      else None
    }

  /** Apply an [[IdPredicate]] to a frame's `doc_id` column. The InSet arm
    * uses `isInCollection` (optimizer-converted to a hash-set InSet for
    * row eval; translated to a native parquet In source filter for the
    * scan, where row-group blooms/stats evaluate it). */
  private[graft] def applyIdPredicate(base: DataFrame,
                                      pred: Option[IdPredicate]): DataFrame = pred match {
    case Some(IdPredicate.Ranges(rs)) if rs.nonEmpty => base.filter(
      rs.map { case (lo, hi) => col("doc_id").between(lo, hi) }.reduce(_ || _))
    case Some(IdPredicate.InSet(ids)) => base.filter(col("doc_id").isInCollection(ids))
    case _ => base
  }

  /** [[spill]] plus a size-informed join hint: frames below
    * `broadcastBytes` of on-disk parquet come back broadcast-hinted. The
    * point is DETERMINISM at a join whose small side is a fused subtree of
    * unknown size: AQE's runtime broadcast rescue keys off its 10 MB
    * adaptive threshold, so a side that lands near it plans broadcast on
    * some runs and sort-merge on others — and when the OTHER side is wide
    * (token arrays, shingle sets), the sort-merge form shuffles and sorts
    * that wide table for an identical answer at a multiple of the CPU.
    * Measuring the spilled bytes makes the choice explicit and
    * size-correct; past the gate the plan degrades to the same sort-merge
    * join a genuinely large side needs anyway. 64 MB parquet is the
    * documented gate — small enough that even a few-× decompression
    * blow-up stays a bounded per-executor table, large enough to catch the
    * bounded candidate/hit sets these operators produce. */
  private[graft] def spillSized(df: DataFrame, prefix: String,
                                broadcastBytes: Long = 64L << 20): DataFrame = {
    val (spilled, path) = spillWithPath(df, prefix, Map.empty)
    val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.getContentSummary(path).getLength < broadcastBytes) broadcast(spilled)
    else spilled
  }

  /** [[spill]] that also hands back the scratch path, for callers with a
    * clear end-of-use point that can delete eagerly (e.g. `$merge`) instead
    * of leaning on the JVM-exit sweep — a long-running session spilling per
    * stage would otherwise accumulate a scratch copy per invocation. */
  private[graft] def spillWithPath(df: DataFrame, prefix: String,
                                   writeOptions: Map[String, String] = Map.empty):
      (DataFrame, org.apache.hadoop.fs.Path) = {
    val spark = df.sparkSession
    val path = new org.apache.hadoop.fs.Path(
      scratchRoot(spark), s"$prefix-${java.util.UUID.randomUUID().toString.take(12)}")
    df.write.mode("overwrite").options(writeOptions).parquet(path.toString)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.deleteOnExit(path)
    (spark.read.parquet(path.toString), path)
  }

  // -------------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------------

  /** Exact duplicate groups by content hash: one row per distinct content
    * with the minimal id as representative and the duplicate count.
    * Single hash-shuffle; at scale this is the cheapest dedup tier. */
  def exactGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep one representative row per distinct content (smallest id wins). */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(contentCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // -------------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------------

  /** Deterministic universal-hash parameters (a·h + b mod p), seeded.
    * Bounded to 31 bits so a·h + b never overflows a signed 64-bit long —
    * Spark 4 runs in ANSI mode where silent wraparound is an error. */
  private def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((rnd.nextInt(Int.MaxValue - 1).toLong | 1L, rnd.nextInt(Int.MaxValue).toLong))
  }
  private val Mersenne31 = (1L << 31) - 1

  /** MinHash signature (array<long> of length `numHashes`) over a string-array
    * column. One xxhash64 per element, then cheap affine permutations —
    * single pass, no shuffle. */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column = {
    val base = transform(shingles, s => pmod(xxhash64(s), lit(Mersenne31)))
    val params = hashParams(numHashes, seed)
    array(params.map { case (a, b) =>
      array_min(transform(base, h => pmod(h * a + b, lit(Mersenne31))))
    }: _*)
  }

  /** Split a signature of length `bands`·`rowsPerBand` into `bands` equal
    * slices and hash each slice into a band key. Documents sharing any band
    * key are candidate duplicates. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(array_join(transform(
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string")), ",")))

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * Jaccard over the shingle sets.
    *
    * Plan shape (scales to arbitrary corpus size):
    *  1. one scan: shingles + signature + band keys
    *  2. explode bands (|docs|·bands rows) → shuffle on band_key
    *  3. self-join within buckets (skew-bounded: bucket sizes are
    *     birthday-bounded for honest thresholds) → distinct pairs
    *  4. re-join the two shingle sets and compute exact Jaccard → filter.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  /** (doc_id, sh, sig) MinHash signature frame over hashed shingles — the
    * artifact an ingest pipeline persists once per shard so later shards
    * never re-shingle already-seen text. Signature pass via the JVM kernel
    * (Kernels.minhashSigFromHashes): the interpreted-HOF variant
    * (minhashSignature) walks ~20k expression nodes per document. Shingles
    * are carried as 64-bit hashes, not strings: 8 bytes per shingle in any
    * spill and in the verify join's shuffle, with bit-identical signatures
    * (same base hash) and the same exact-Jaccard values (set sizes
    * unchanged up to 2^-64 collision odds). */
  def signatureTable(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, numHashes: Int = 64,
                     seed: Long = 42L): DataFrame = {
    df.select(
      col(idCol).as("doc_id"),
      Kernels.hashedShinglesKernel(shingleSize)(col(textCol)).as("sh"))
      .withColumn("sig", Kernels.minhashSigFromHashes(numHashes, seed)(col("sh")))
  }

  /** Pick LSH banding for a target Jaccard threshold: among the (bands b,
    * rows-per-band r) factorizations of `numHashes`, the s-curve
    * `P(candidate | jaccard=s) = 1 − (1 − s^r)^b` crosses 1/2 at
    * `s* ≈ (1/b)^(1/r)` (Leskovec/Rajaraman/Ullman, Mining of Massive
    * Datasets §3.4); choose the factorization whose s* lands closest to
    * `threshold`, biasing ties toward MORE bands (recall over join cost —
    * false candidates die in the exact-Jaccard verify anyway).
    *
    * A driver-side arithmetic helper — call it once to configure
    * [[minhashLshPairs]] / [[Decontamination.flagFuzzy]] instead of
    * hand-tuning `bands`.
    *
    * @return (bands, rowsPerBand) with bands * rowsPerBand == numHashes */
  def lshParams(threshold: Double, numHashes: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(numHashes > 1, s"numHashes must be > 1, got $numHashes")
    val options = (1 to numHashes).filter(numHashes % _ == 0)
      .map { b => (b, numHashes / b) }
      .filter { case (b, r) => b > 0 && r > 0 }
    options.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
    }
  }

  /** Verified near-dup pairs from two precomputed [[signatureTable]]
    * frames. The one recipe both the self-join and bipartite tiers share:
    * band-key equi-join for candidates, exact Jaccard over the hashed
    * shingle sets for the verify. Caller owns materialization of the
    * inputs — each side is scanned by the band join and the verify join.
    * `selfPairs = true` treats both inputs as the same table and keeps each
    * unordered pair once (left id < right id).
    *
    * `materializeCandidates = true` spills the deduped candidate-pair set
    * to parquet before the verify joins and broadcast-hints it when its
    * on-disk size is provably small. Fused, Catalyst must plan the verify
    * against an UNKNOWN-size candidate subtree, and AQE's runtime
    * SMJ→broadcast rescue hinges on the pair shuffle landing under the
    * 10 MB adaptive threshold — at 6M docs the pair set is ~17 MB, so the
    * same query bimodally planned broadcast (fast) or sort-merge on some
    * runs: the SMJ form exchanges AND sorts the wide shingle-carrying
    * signature table twice plus the wide intermediate once, measured 2.3×
    * the CPU of the broadcast form (9,582 vs 4,204 CPU-s) for identical
    * output. Materializing makes the choice deterministic and
    * size-informed; the hint threshold (64 MB parquet ≈ 4M pairs of two
    * longs) bounds driver/executor broadcast memory, and past it the plan
    * degrades gracefully to the same SMJ a 100-TB candidate set needs
    * anyway. Batch callers opt in; per-micro-batch streaming callers keep
    * the fused form — their candidate sets are small (plans audited by
    * GatePlanSpec) and a spill per batch would accumulate scratch dirs for
    * the life of the stream. */
  /** `rightBandedPre`: a PRECOMPUTED banded form of `right` — (doc_id,
    * band, band_key), one row per band per doc, as [[ingestStep]]'s band
    * sidecar stores it. When given, the right side of the band join reads
    * these narrow rows instead of scanning `right`'s wide `sig` column and
    * re-running the banding kernel — the store-side amortization the
    * ingest path lives on ([[ingestStep]]'s `_bands` sidecar). `right`
    * itself is then touched only by the verify's (doc_id, sh) fetch. The
    * caller owns the frame's consistency: its rows must be exactly
    * `banded(right)` for the same bands/rowsPerBand (stale or partial
    * band rows lose recall silently — which is why the sidecar is only
    * trusted under a _SUCCESS marker and falls back per-dir). */
  def minhashPairsFromSignatures(left: DataFrame, right: DataFrame,
                                 bands: Int, rowsPerBand: Int, threshold: Double,
                                 selfPairs: Boolean,
                                 leftName: String, rightName: String,
                                 materializeCandidates: Boolean = false,
                                 leftBoundedPrune: Boolean = false,
                                 rightBandedPre: Option[DataFrame] = None,
                                 verifyPrune: Option[VerifyPrune] = None): DataFrame = {
    def banded(sigs: DataFrame, idAs: String): DataFrame = sigs.select(
      col(idAs),
      posexplode(Kernels.bandKeysKernel(bands, rowsPerBand)(col("sig"))).as(Seq("band", "band_key")))
    // `__dir` (the batch-dir tag a banded row came from) rides along when
    // the precomputed frame carries it — [[VerifyPrune]]'s matched-dir
    // carrier; without it the column set is unchanged
    def bandedRightSide(idAs: String): DataFrame = rightBandedPre
      .map { pre =>
        val cols = Seq(col("doc_id").as(idAs), col("band"), col("band_key")) ++
          (if (pre.columns.contains("__dir")) Seq(col("__dir")) else Nil)
        pre.select(cols: _*)
      }
      .getOrElse(banded(renamed(right, idAs), idAs))
    def renamed(sigs: DataFrame, idAs: String): DataFrame =
      sigs.select(col("doc_id").as(idAs), col("sig"))
    val bandedLeftRaw = banded(renamed(left, leftName), leftName)
    // set only by the leftBoundedPrune branch: the bounded-batch banding
    // explode is pinned there so the bloom aggregation and the band join
    // share ONE explode pass (the public incrementalMinhash path passes
    // unpinned spilled frames, so without the pin the explode kernel ran
    // twice over parquet); released right after the candidate set below —
    // eagerly materialized for materializeCandidates callers, so the cache
    // is consumed by then, while fused streaming callers (whose input is
    // caller-pinned) just fall back to recomputing from that pin
    var pinnedBandedLeft: Option[DataFrame] = None
    val (bandedLeft, bandedRight) =
      if (!selfPairs && leftBoundedPrune) {
        // ---- bounded-left band prefilter (bipartite tier) ----
        // The incremental-ingest shape: LEFT is one bounded shard/micro-
        // batch, RIGHT is the accumulated store that grows with the
        // corpus. The batch side is routinely past the broadcast threshold
        // (a 250k-doc batch explodes to 4M band rows), so without help the
        // band join sort-merges — shuffling and sorting the ENTIRE
        // exploded store once per batch, O(batches²) cumulative exchange
        // over a stream's life. A bloom of the batch's own band keys
        // (bounded by the batch, ~1 MB per 100k docs at 1%) drops every
        // store row whose bucket has no batch collision SCAN-SIDE, so the
        // store contributes only its colliding sliver to the exchange and
        // per-batch shuffle cost tracks the batch, not the store.
        // Exactness: the join still tests real (band, band_key) equality
        // and the Jaccard verify re-checks every surviving pair — bloom
        // false positives cost work, never answers.
        val spark = left.sparkSession
        // bloom sizing by row ARITHMETIC, not a count action over the
        // exploded frame: the band kernel emits exactly one key per band
        // per doc, so `left.count() * bands` bounds the exploded row count
        // (null-signature docs explode to nothing — an overestimate only
        // oversizes the bloom). This drops the third recomputation of the
        // banding explode the r9 form paid (count + bloom agg + join each
        // re-ran it); the remaining two passes share the caller-pinned
        // `left`.
        val nLeftEst = left.count() * bands
        if (nLeftEst == 0L) {
          val emptyRight = bandedRightSide(rightName).limit(0)
          (bandedLeftRaw.limit(0), emptyRight)
        } else {
          // batch-bounded rows (docs × bands of (id, band, band_key)); the
          // bloom build is an eager action, so it also populates the pin.
          // Only the materializeCandidates form pins: there the candidate
          // spill below consumes the cache inside this call. Fused
          // streaming callers keep their caller-pinned input as the cheap
          // recompute source — a per-batch persist would pay cache writes
          // it never collects on.
          val pinned =
            if (materializeCandidates) {
              val p = bandedLeftRaw.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              pinnedBandedLeft = Some(p)
              p
            } else bandedLeftRaw
          val leftKeys = pinned
            .select(xxhash64(col("band"), col("band_key")).as("__bk"))
          val might = bloomProbe(spark,
            leftKeys.stat.bloomFilter("__bk", nLeftEst, 0.01))
          (pinned, bandedRightSide(rightName)
            .filter(might(xxhash64(col("band"), col("band_key")))))
        }
      } else (bandedLeftRaw, bandedRightSide(rightName))
    val cand0 = bandedLeft.join(bandedRight, Seq("band", "band_key"))
    val cand0p = if (selfPairs) cand0.filter(col(leftName) < col(rightName)) else cand0
    // ---- bounded verify fetch (see [[VerifyPrune]]) ----
    // Active only when the right side's banded rows carry their batch-dir
    // tag: the candidate set (batch-bounded) is pinned, its matched dirs +
    // store-side ids collected once, and the verify joins against ONLY the
    // resolver's pruned (matched dirs × id ranges) slice of the store
    // instead of a store-linear (doc_id, sh) scan. Collect overflow (a
    // pathological batch colliding with >maxCollectRows store docs) keeps
    // the full-store fetch — the prune bounds IO, never changes answers.
    val pruneActive = verifyPrune.isDefined && bandedRight.columns.contains("__dir")
    val (candidates, verifyRight) =
      if (pruneActive) {
        val vp = verifyPrune.get
        val pinnedCand = cand0p.select(col(leftName), col(rightName), col("__dir"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        vp.register(pinnedCand)
        // ONE action materializes the pin and yields both the candidate
        // count and the matched-dir tags (bounded by the store's DIR
        // count) — a narrow map-side-combined aggregation
        val dirCounts = pinnedCand.groupBy(col("__dir"))
          .agg(count(lit(1)).as("__n")).collect()
        val nCand = dirCounts.map(_.getLong(1)).sum
        val tags = dirCounts.map(_.getString(0)).toSet
        // visible in StreamNearProfile lines: candidate pairs (thousands)
        // and matched-dir count — the two numbers the adaptive gates read
        phaseHook.foreach(h => h("cand_pairs_k", nCand / 1000.0))
        phaseHook.foreach(h => h("cand_dirs", tags.size.toDouble))
        val resolved =
          if (tags.contains("")) right // file-name extraction failed: full fetch
          else {
            // id predicate: ADAPTIVE — collected only when the candidate
            // set is driver-bounded, then shaped by [[chooseIdPredicate]]:
            // coalesced BETWEEN ranges when the ids cluster (a recrawl
            // whose dups hit one original shard, a compacted doc_id-ranged
            // store — row-group min/max stats prune), the exact id set as
            // a native parquet In when they spread uniformly (the
            // streaming shape: ids sharded modulo — the sig dirs'
            // per-row-group doc_id blooms exclude candidate-free row
            // groups at any spread, the r13 verdict's one store-linear
            // term). Past both gates the full matched-dir fetch is kept —
            // the prune bounds IO, never changes answers.
            val pred: Option[IdPredicate] =
              if (nCand > vp.maxCollectRows) None
              else {
                val chosen = (pinnedCand.schema(rightName).dataType match {
                  case org.apache.spark.sql.types.LongType =>
                    Some(pinnedCand.select(col(rightName)).distinct().collect()
                      .filter(!_.isNullAt(0)).map(_.getLong(0)).sorted)
                  case org.apache.spark.sql.types.IntegerType =>
                    Some(pinnedCand.select(col(rightName)).distinct().collect()
                      .filter(!_.isNullAt(0)).map(_.getInt(0).toLong).sorted)
                  case _ => None // non-integral ids: matched-dir prune only
                }).flatMap(ids => chooseIdPredicate(ids, vp.maxRanges, vp.maxInIds))
                chosen.foreach {
                  case IdPredicate.InSet(ids) =>
                    phaseHook.foreach(h => h("cand_inset_k", ids.size / 1000.0))
                  case IdPredicate.Ranges(rs) =>
                    phaseHook.foreach(h => h("cand_ranges_n", rs.size.toDouble))
                }
                chosen
              }
            vp.resolve(tags, pred)
          }
        // broadcast the candidate side EXPLICITLY while it is provably
        // bounded (maxBroadcastPairs ≈ 64 MB of pairs): the pinned frame
        // has known stats, and its __dir string column inflates them past
        // the 10 MB auto-broadcast threshold well before the pair set is
        // actually large — at which point the verify silently flips to a
        // sort-merge join that shuffles AND sorts the store's wide
        // (doc_id, sh) side (measured exploding 9→27 s/batch as the store
        // grew). Past the gate the pair set is genuinely large and SMJ is
        // the right plan.
        val candProj = pinnedCand.select(leftName, rightName)
        (if (nCand <= vp.maxBroadcastPairs) broadcast(candProj) else candProj, resolved)
      } else {
        val cand1 = cand0p.select(leftName, rightName).distinct()
        (if (!materializeCandidates) cand1
         else phase("mh_cand")(spillSized(cand1, "graft-minhash-cand")),
          right)
      }
    pinnedBandedLeft.foreach(_.unpersist())
    // Join ORDER is load-bearing in the prune branch: the broadcast-hinted
    // candidates must probe the STORE side first, so the store's wide
    // (doc_id, sh) read stays a bare scan + hash probe — joining the batch
    // side first produces an intermediate whose estimated stats push the
    // store join to sort-merge, i.e. an exchange AND sort of the whole
    // store's shingle column per micro-batch (measured exploding 9→27
    // s/batch as the store grew past the auto-broadcast threshold). The
    // non-prune paths keep the historical left-first order their records
    // were measured on.
    val joined =
      if (pruneActive)
        candidates
          .join(verifyRight.select(col("doc_id").as(rightName), col("sh").as("sh_b")), rightName)
          .join(left.select(col("doc_id").as(leftName), col("sh").as("sh_a")), leftName)
      else
        candidates
          .join(left.select(col("doc_id").as(leftName), col("sh").as("sh_a")), leftName)
          .join(verifyRight.select(col("doc_id").as(rightName), col("sh").as("sh_b")), rightName)
    joined
      .withColumn("jaccard", Kernels.jaccardLongKernel(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(leftName), col(rightName), col("jaccard"))
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // Spilled to parquet (not persisted) because three join branches reuse
    // the signature table — computed once, nothing stays pinned in executor
    // memory after the call.
    val shingled = phase("mh_sig")(spill(
      signatureTable(df, idCol, textCol, shingleSize, numHashes, seed),
      "graft-minhash-sig", noDictOptions))
    minhashPairsFromSignatures(shingled, shingled, bands, numHashes / bands,
      threshold, selfPairs = true, "id_a", "id_b", materializeCandidates = true)
  }

  // -------------------------------------------------------------------------
  // Incremental ingestion dedup: a new shard vs the already-ingested corpus
  // -------------------------------------------------------------------------

  /** Exact tier of incremental ingestion: dedup `newDocs` within the batch
    * (smallest id wins), then drop rows whose content hash already exists in
    * `store` — a frame carrying a `content_hash` column, e.g. accumulated
    * [[exactGroups]] output from earlier shards. Plan: one in-batch hash
    * shuffle + one hash anti-join; the store is scanned once, never
    * collected, so it can be arbitrarily large (at 100 TB: a bucketed
    * parquet table keyed on `content_hash`, making the anti-join
    * exchange-free on the store side). */
  def incrementalExact(newDocs: DataFrame, idCol: String, contentCol: String,
                       store: DataFrame): DataFrame =
    // null-safe equality: md5(null) is null, and a plain === would let a
    // null-content row through on every call even when the store already
    // holds one — <=> makes the anti-join treat null hashes as equal
    exactDedup(newDocs, idCol, contentCol)
      .join(store.select(col("content_hash")),
        md5(col(contentCol)) <=> col("content_hash"), "left_anti")

  /** Bloom-prefiltered [[incrementalExact]] for store scales where the
    * content-hash anti-join is the dominant cost: the store's hashes fold
    * into one driver-bounded Bloom filter (~12 MB per 10M docs at 1% —
    * 10-50× smaller than the hash set), the batch probes it SCAN-SIDE
    * through [[bloomProbe]] (a broadcast boxed probe at the 10M-key
    * default sizing, a codegen'd literal under 2 MB), and only the
    * possible members enter the anti-join. The result set is IDENTICAL to
    * [[incrementalExact]]: bloom misses are definite non-members (kept with
    * no join at all), false positives just take the exact join anyway —
    * the filter prunes work, never answers. Null-content rows route
    * through the join unconditionally (null hashes never probe). */
  def incrementalExactBloom(newDocs: DataFrame, idCol: String, contentCol: String,
                            store: DataFrame, expectedDocs: Long = 10000000L,
                            fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val spark = newDocs.sparkSession
    val bf = store.select(xxhash64(col("content_hash")).as("__h"))
      .filter(col("__h").isNotNull)
      .stat.bloomFilter("__h", expectedDocs, fpp)
    val mightSeen = bloomProbe(spark, bf)(xxhash64(md5(col(contentCol))))
    val batch = spill(exactDedup(newDocs, idCol, contentCol), "graft-incr-bloom")
    val definiteNew = batch.filter(col(contentCol).isNotNull && !mightSeen)
    val maybeSeen = batch.filter(col(contentCol).isNull || mightSeen)
      .join(store.select(col("content_hash")),
        md5(col(contentCol)) <=> col("content_hash"), "left_anti")
    definiteNew.unionByName(maybeSeen)
  }

  /** Near-dup tier of incremental ingestion: candidate (new, seen) pairs via
    * a bipartite MinHash-LSH band join — same recipe as [[minhashLshPairs]]
    * but new docs are only ever compared against the store, never against
    * each other (run [[minhashLshPairs]] on the batch separately if
    * intra-batch near-dups also matter). Returns (new_id, seen_id, jaccard)
    * with exact Jaccard ≥ `threshold`, verified over hashed shingle sets.
    *
    * `store` carries (id, text) here; at scale the store side would persist
    * its hashed shingles + band keys once at ingest (both are deterministic
    * functions of the text) so later shards skip recomputing them. */
  def minhashLshPairsAgainst(newDocs: DataFrame, store: DataFrame,
                             idCol: String, textCol: String,
                             shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                             threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val newSide = spill(signatureTable(newDocs, idCol, textCol, shingleSize, numHashes, seed),
      "graft-incr-sig-new", noDictOptions)
    val seenSide = spill(signatureTable(store, idCol, textCol, shingleSize, numHashes, seed),
      "graft-incr-sig-seen", noDictOptions)
    minhashPairsFromSignatures(newSide, seenSide, bands, numHashes / bands,
      threshold, selfPairs = false, "new_id", "seen_id", materializeCandidates = true,
      leftBoundedPrune = true)
  }

  /** Full incremental ingest step: exact tier, then drop new docs
    * near-duplicating the store. Returns the surviving rows of `newDocs`.
    * The exact-tier survivors are spilled once so the near tier's signature
    * pass and the final anti-join don't each re-execute the exact tier.
    * Repeated callers (a streaming ingest loop) should keep a persistent
    * signature store instead — see `GraftStreaming.incrementalDedupSink`. */
  def incrementalDedup(newDocs: DataFrame, idCol: String, contentCol: String,
                       store: DataFrame, storeIdCol: String,
                       shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                       threshold: Double = 0.5): DataFrame = {
    val exactSurvivors = spill(incrementalExact(newDocs, idCol, contentCol,
      exactGroups(store, storeIdCol, contentCol)), "graft-incr-exact")
    val flagged = minhashLshPairsAgainst(exactSurvivors, store.select(
      col(storeIdCol).as(idCol), col(contentCol)), idCol, contentCol,
      shingleSize, numHashes, bands, threshold)
      .select(col("new_id").as(idCol)).distinct()
    exactSurvivors.join(flagged, Seq(idCol), "left_anti")
  }

  /** Batch subdirectories of a store root (see [[ingestStep]]'s layout;
    * [[Similarity.ivfIngestStep]]'s index store shares it). */
  private[graft] def listBatchDirs(spark: org.apache.spark.sql.SparkSession,
                                   root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Tag (terminal directory name, `batch-<tag>`) of a batch dir path. */
  private def dirTag(d: String): String = d.substring(d.lastIndexOf('/') + 1)

  /** Sidecar batch dirs trusted for reads, keyed by tag. Only dirs carrying
    * their `_SUCCESS` marker count: a crash mid-write leaves a PARTIAL
    * `batch-<tag>` fragment (some part files, no marker), and matching by
    * name alone would treat the fragment as that dir's complete sidecar —
    * for the hash sidecar that silently shrinks the anti-join's seen set
    * (exact dups enter the store), for the band sidecar it silently loses
    * near-dup recall. An untrusted dir falls into the same self-healing
    * path as an absent one: the store dir is re-derived from its primary
    * data per batch, and [[ingestStep]] HEALS one such dir per batch
    * (re-derive once, rewrite the sidecar whole) so the fallback cost is
    * transient, not per-batch-forever.
    *
    * A deployment that disables success markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common
    * object-store advice) would silently pay sidecar writes while
    * trusting none of them — every-dirs-untrusted is loudly warned once
    * per root so the misconfiguration is visible.
    *
    * Retries and the SIG dir: [[ingestStep]] deletes a retried tag's
    * hash/band sidecars before overwriting its primary dir (both are
    * derivable, so a crash costs only transient fallback scans), but the
    * tag's existing `_sigs` dir is kept — a retry crashing between the
    * store write and the sig write then trusts the PRIOR attempt's
    * signatures, which is sound only under the deterministic-replay
    * contract every tag carries (same tag ⇒ same batch content ⇒ the
    * survivors, and hence their signatures, replay identically; the
    * default auto tag digests the content to enforce exactly this).
    * Deleting the sig dir instead would turn that stale-but-identical
    * window into a missing-signatures window, i.e. silent near-dup recall
    * loss against the batch. */
  private val warnedUntrustedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def trustedSidecarDirsByTag(spark: org.apache.spark.sql.SparkSession,
                                             root: String): Map[String, String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirs = listBatchDirs(spark, root)
    val trusted = dirs.filter { d =>
      val marker = new org.apache.hadoop.fs.Path(d, "_SUCCESS")
      marker.getFileSystem(hconf).exists(marker)
    }
    if (dirs.nonEmpty && trusted.isEmpty && warnedUntrustedRoots.add(root))
      System.err.println(s"[graft] WARNING: sidecar root $root has ${dirs.size} batch dir(s) " +
        "but none carries a _SUCCESS marker - if success-marker writing is disabled " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs=false) every sidecar is paid " +
        "for but never trusted; re-enable markers for this store's writes")
    trusted.map(d => dirTag(d) -> d).toMap
  }

  /** The band sidecar's bucket-function pin (`_bands/_params.json`): the
    * first writer records its bucket count, every later writer and the
    * bucket-prune read path adopt the pinned value — one store, one bucket
    * function, whatever [[bandSidecarBuckets]] later defaults to. Written
    * BEFORE the first band dir so a pin can never be missing for a dir
    * that exists (a pin-less legacy store simply reads sidecars without
    * the bucket prune). */
  private def checkOrWriteBandParams(spark: org.apache.spark.sql.SparkSession,
                                     bandsPath: String, buckets: Int): Int = {
    val p = new org.apache.hadoop.fs.Path(bandsPath, "_params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val seen = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(seen).map(_.group(1).toInt)
        .getOrElse(throw new graft.model.ValidationError(
          s"band sidecar pin $p is unreadable: $seen — refusing to guess the bucket function"))
    } else {
      val out = fs.create(p, true)
      try out.write(s"""{"buckets":$buckets}""".getBytes("UTF-8")) finally out.close()
      buckets
    }
  }

  /** Read an [[ingestStep]]-maintained store (document or signature): the
    * union of its batch subdirectories, one plain parquet scan — minus any
    * tombstoned rows ([[removeFromIngestStore]]): when the root is a
    * PRIMARY store carrying a `_tombstones` sidecar, removed (tag, id)
    * pairs are excluded scan-side. A store with no tombstones keeps the
    * bare-scan plan byte-identical. */
  def readStore(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val dirs = listBatchDirs(spark, root)
    require(dirs.nonEmpty, s"no ingested batches under $root")
    val base = spark.read.parquet(dirs: _*)
    tombstonesOf(spark, root) match {
      case Some((tombs, idCol)) => minusTombstones(base, idCol, tombs)
      case None => base
    }
  }

  // -------------------------------------------------------------------------
  // Tombstoned removal — the near-tier retraction the lifecycle lacked
  // -------------------------------------------------------------------------

  /** The scan-side batch-dir tag of a store row — `batch-<tag>`, the
    * terminal directory of the file that produced it. substring_index
    * (plain char scans), not a regex: this evaluates per row on store
    * scans that opt into tombstone exclusion.
    *
    * ENCODING INVARIANT: `input_file_name()` returns the URI-ENCODED path
    * while FileSystem listings ([[listBatchDirs]]/[[dirTag]]) are raw, so
    * comparisons between the two forms (tombstone-vs-listed hash-sidecar
    * deletion in [[removeFromIngestStore]], the verify resolver's
    * matched-dir set) are byte-equal ONLY because every tag charset is
    * restricted to characters URI path encoding leaves untouched: explicit
    * tags are validated to `[A-Za-z0-9_-]+` at [[ingestStep]] (and the ANN
    * stores' `storeBatchTag`), and generated tags (`auto-<hex>-<n>`,
    * `compacted(-<k>)`, `retrain`) stay inside the same set. Widening the
    * tag charset requires decoding here first (and NOT with url_decode,
    * whose form-decoding turns a literal `+` into a space). */
  private[graft] def fileTagCol: Column = substring_index(
    substring_index(input_file_name(), "/", -2), "/", 1)

  /** The trusted tombstone set of a primary store, with the pinned id
    * column name — `None` when the store has no `_tombstones` sidecar (or
    * none of its dirs is `_SUCCESS`-trusted), so every read path keeps its
    * pre-tombstone plan. Columns: `__tomb_tag` (the batch-dir tag the
    * removed row lived in) and `__tomb_id`. */
  private[graft] def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
                                  storePath: String): Option[(DataFrame, String)] = {
    val tombPath = storePath + "_tombstones"
    val trusted = trustedTombDirs(spark, tombPath)
    if (trusted.isEmpty) None
    else readTombIdCol(spark, tombPath).map { idCol =>
      (spark.read.parquet(trusted: _*), idCol)
    }
  }

  /** [[trustedSidecarDirsByTag]] without the none-trusted warning —
    * a store with zero tombstones is the NORMAL state, not a
    * misconfiguration. */
  private def trustedTombDirs(spark: org.apache.spark.sql.SparkSession,
                              root: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    listBatchDirs(spark, root).filter { d =>
      val marker = new org.apache.hadoop.fs.Path(d, "_SUCCESS")
      marker.getFileSystem(hconf).exists(marker)
    }
  }

  private def readTombIdCol(spark: org.apache.spark.sql.SparkSession,
                            tombPath: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(tombPath, "_params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      """"idCol"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
    }
  }

  /** Exclude tombstoned rows from a primary-store frame whose rows came
    * from batch-dir parquet files: anti-join on (scan-side file tag, id),
    * null-safe on the id (a null-id row can be tombstoned too). The
    * tombstone side is aggregated per store mutation epoch, bounded by
    * removals, and broadcast when small (AQE's call). */
  private[graft] def minusTombstones(base: DataFrame, idColName: String,
                                     tombs: DataFrame): DataFrame = {
    val tagged = base.withColumn("__tomb_scan_tag", fileTagCol)
    tagged.join(tombs,
        tagged("__tomb_scan_tag") === tombs("__tomb_tag") &&
          (tagged(idColName) <=> tombs("__tomb_id")),
        "left_anti")
      .drop("__tomb_scan_tag")
  }

  /** Same exclusion for frames that ALREADY carry their batch-dir tag in a
    * column (the band-sidecar scans' `__dir`, candidate frames) keyed by
    * the sidecar id column `doc_id`. */
  private[graft] def minusTombstonesTagged(base: DataFrame, tagColName: String,
                                           idColName: String,
                                           tombs: DataFrame): DataFrame =
    base.join(tombs,
      base(tagColName) === tombs("__tomb_tag") &&
        (base(idColName) <=> tombs("__tomb_id")),
      "left_anti")

  /** Remove documents from an [[ingestStep]]-maintained store — the
    * delete-then-reingest (GDPR-style) retraction the curated lifecycle
    * otherwise answers with a rebuild. Logical removal is IMMEDIATE and
    * physical removal happens at the next compaction:
    *
    *  - the matching LIVE rows' `(batch-dir tag, id)` pairs are recorded
    *    under `storePath + "_tombstones"/batch-<digest>/` (the digest tag
    *    makes a crashed-and-retried call overwrite its own dir);
    *  - every reader excludes tombstoned pairs: [[readStore]], the exact
    *    tier's seen-hash set, the near tier's cross-store candidates
    *    (band sidecar AND raw-banding paths), both lookups, compaction
    *    and merge replays — so a re-ingest of removed (or near-dup-of-
    *    removed) content SURVIVES instead of dying against a ghost;
    *  - affected tags' HASH sidecars are deleted BEFORE the tombstone dir
    *    is written (they assert the removed docs' content hashes and carry
    *    no ids to exclude by): a crash between the two leaves a store
    *    that merely re-derives those sidecars — self-healing, never a
    *    wrong answer — while the re-derivation paths all exclude
    *    tombstones, so healed sidecars are tombstone-consistent. SIG and
    *    BAND sidecars stay in place: their rows are keyed by doc_id and
    *    excluded at candidate generation, so they are inert until
    *    compaction rewrites them;
    *  - [[compactIngestStore]] CONSUMES tombstones: the compacted output
    *    contains only live rows and regenerated sidecars, and carries no
    *    tombstone root. [[autoCompactIngestStore]] deletes the consumed
    *    tombstone dirs after the old batch dirs (a crash in between
    *    leaves tombstones naming dead tags — inert).
    *
    * Tag-reuse caveat: a tombstone names `(tag, id)`, so re-ingesting a
    * removed id under the SAME explicit tag keeps it removed (consistent
    * with the retry contract — same tag means the same original batch);
    * a re-ingest under any new tag (including the default digest tag)
    * lands live. Single-writer, like every store mutation.
    *
    * @param predicate row filter over the store's own columns selecting
    *                  the documents to remove
    * @return number of documents tombstoned by THIS call. */
  def removeFromIngestStore(spark: org.apache.spark.sql.SparkSession,
                            storePath: String, idCol: String,
                            predicate: Column): Long = {
    val dirs = listBatchDirs(spark, storePath)
    require(dirs.nonEmpty, s"no ingested batches under $storePath")
    val hconf = spark.sparkContext.hadoopConfiguration
    val tombPath = storePath + "_tombstones"
    // pin the id column at first removal; later calls must agree (two id
    // columns over one store would make exclusion silently partial)
    val pinP = new org.apache.hadoop.fs.Path(tombPath, "_params.json")
    val pinFs = pinP.getFileSystem(hconf)
    readTombIdCol(spark, tombPath) match {
      case Some(seen) if seen != idCol => throw new graft.model.ValidationError(
        s"tombstone store $tombPath was keyed on id column '$seen'; this call uses " +
          s"'$idCol' — exclusion would silently miss, refusing")
      case Some(_) => ()
      case None =>
        val o = pinFs.create(pinP, true)
        try o.write(s"""{"idCol":"$idCol"}""".getBytes("UTF-8")) finally o.close()
    }
    // hits = LIVE rows matching the predicate (re-removing an already-
    // tombstoned row is a no-op), with their batch-dir tag
    val priorTombs = tombstonesOf(spark, storePath).map(_._1)
    val taggedAll = spark.read.parquet(dirs: _*)
      .withColumn("__tomb_tag", fileTagCol)
    val live = priorTombs.fold(taggedAll)(t => taggedAll.join(t.select(
        col("__tomb_tag").as("__pt"), col("__tomb_id").as("__pi")),
      taggedAll("__tomb_tag") === col("__pt") && (taggedAll(idCol) <=> col("__pi")),
      "left_anti"))
    val hits = spill(live.filter(predicate)
      .select(col("__tomb_tag"), col(idCol).as("__tomb_id")).distinct(),
      "graft-tombstone-hits")
    // digest removal tag (order-independent over the hit pairs) — a
    // crashed-and-retried call overwrites its own dir instead of stacking
    val d = hits.select(conv(substring(md5(concat_ws("\u0001",
        col("__tomb_tag"), coalesce(col("__tomb_id").cast("string"), lit("\u0002")))),
        1, 15), 16, 10).cast("long").as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"), count(lit(1)).as("n")).head()
    val nHits = d.getLong(1)
    if (nHits == 0L) return 0L
    val tag = f"batch-auto-${d.getLong(0)}%016x-$nHits"
    // delete affected tags' hash sidecars FIRST (see crash posture above):
    // they assert removed content hashes and carry no ids to exclude by;
    // the tombstone-aware re-derivation paths rebuild them excluded
    val affectedTags = hits.select(col("__tomb_tag")).distinct()
      .collect().map(_.getString(0)).toSet
    val hashPath = storePath + "_hashes"
    listBatchDirs(spark, hashPath).filter(h => affectedTags.contains(dirTag(h)))
      .foreach { h =>
        val p = new org.apache.hadoop.fs.Path(h)
        p.getFileSystem(hconf).delete(p, true)
      }
    hits.write.mode("overwrite").parquet(s"$tombPath/$tag")
    nHits
  }

  /** Point near-dup lookup against an [[ingestStep]] near-tier store: the
    * store survivors whose exact Jaccard with `text` clears `threshold`,
    * found WITHOUT banding the store — this is the query shape the band
    * sidecar's sorted-bucket layout exists for. The probe's ≤`bands` band
    * keys (computed with the store's PINNED parameters, so a probe can
    * never silently mis-band) are pushed into the `_bands` sidecar read as
    * a parquet predicate — `bucket IN (probe's ≤bands buckets)` plus the
    * exact `(band, band_key)` pair disjunction — so the scan row-group-
    * prunes to the probe's own bucket ranges instead of reading the whole
    * band index; only the matched candidates' signatures are then fetched
    * for the exact-Jaccard verify. Store dirs without a trusted band
    * sidecar fall back to banding their sig dir, same as ingest. Recall is
    * the LSH recall of the store's pinned banding (the ingest s-curve);
    * every returned row is exact-verified, so precision is exact.
    *
    * @return (doc_id, jaccard) of matching survivors. */
  /** The (shingleSize, numHashes, bands) pin of a near-tier sig store —
    * the parameters every probe MUST band with (a mis-banded probe
    * silently loses recall, which is why lookups refuse stores without a
    * pin instead of guessing). */
  private def readSigPins(spark: org.apache.spark.sql.SparkSession,
                          sigPath: String): (Int, Int, Int) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val pinP = new org.apache.hadoop.fs.Path(sigPath, "_params.json")
    val fs = pinP.getFileSystem(hconf)
    require(fs.exists(pinP),
      s"$sigPath has no _params.json pin — not a near-tier ingest store")
    val pin = {
      val in = fs.open(pinP)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    def pinned(k: String): Int = (s""""$k"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(pin)
      .map(_.group(1).toInt).getOrElse(throw new graft.model.ValidationError(
        s"sig store pin $pinP is missing $k: $pin"))
    (pinned("shingleSize"), pinned("numHashes"), pinned("bands"))
  }

  /** The band sidecar's pinned bucket count, when the store has one. */
  private def readBandBucketsPin(spark: org.apache.spark.sql.SparkSession,
                                 bandsPath: String): Option[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val bandPin = new org.apache.hadoop.fs.Path(bandsPath, "_params.json")
    if (!bandPin.getFileSystem(hconf).exists(bandPin)) None
    else {
      val in = bandPin.getFileSystem(hconf).open(bandPin)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    }
  }

  def lookupNearDups(spark: org.apache.spark.sql.SparkSession, storePath: String,
                     text: String, threshold: Double): DataFrame = {
    require(text != null, "lookupNearDups probe text must be non-null " +
      "(null-content documents live in the exact tier only)")
    val hconf = spark.sparkContext.hadoopConfiguration
    val sigPath = storePath + "_sigs"
    val (shingleSize, numHashes, bands) = readSigPins(spark, sigPath)
    val rpb = numHashes / bands
    val sigDirs = listBatchDirs(spark, sigPath)
    require(sigDirs.nonEmpty, s"no ingested batches under $sigPath")
    // probe signature + band keys through the SAME kernels ingest used —
    // one-row frame, one collect
    val probeFrame = signatureTable(
      spark.range(1).select(col("id"), lit(text).as("text")),
      "id", "text", shingleSize, numHashes)
    val probe = probeFrame.select(col("sh"), col("sig")).head()
    val probeSh: Seq[Long] = probe.getSeq[Long](0)
    val bandsPath = storePath + "_bands"
    val bandsByTag = trustedSidecarDirsByTag(spark, bandsPath)
    val (bandedDirs, rawDirs) = sigDirs.partition(d => bandsByTag.contains(dirTag(d)))
    val buckets: Option[Int] = readBandBucketsPin(spark, bandsPath)
    // the probe's (band, band_key, bucket) rows — bucket via the same SQL
    // expression the sidecar writer used, so the prune can never drift
    // from the layout
    val probeKeys = probeFrame.select(
      posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig"))).as(Seq("band", "band_key")))
      .withColumn("bucket", pmod(xxhash64(col("band"), col("band_key")),
        lit(buckets.getOrElse(1).toLong)).cast("int"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    if (probeKeys.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"), lit(0.0).as("jaccard"))
    val pairCond = probeKeys.map { case (b, k, _) =>
      col("band") === b && col("band_key") === k }.reduce(_ || _)
    // candidates carry the FILE they matched in, so the verify below reads
    // only the store dirs that actually produced a candidate — point-query
    // IO proportional to matched dirs, not store size. The collect is
    // bounded by the store's FILE count (distinct files, never rows).
    val candParts = Seq(
      if (bandedDirs.isEmpty) None
      else {
        val read0 = spark.read.parquet(bandedDirs.map(d => bandsByTag(dirTag(d))): _*)
        val pruned = buckets match {
          case Some(nb) =>
            val bset = probeKeys.map(_._3).distinct
            if (bset.size < nb) read0.filter(col("bucket").isin(bset: _*)) else read0
          case None => read0
        }
        Some(pruned.filter(pairCond)
          .select(col("doc_id"), input_file_name().as("__f")))
      },
      if (rawDirs.isEmpty) None
      else Some(spark.read.parquet(rawDirs: _*).select(col("doc_id"),
        posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig"))).as(Seq("band", "band_key")),
        input_file_name().as("__f"))
        .filter(pairCond).select(col("doc_id"), col("__f")))
    ).flatten
    val cand0raw = candParts.reduce(_.unionByName(_))
    // tombstoned docs are excluded at candidate generation (their sig/band
    // rows are inert until compaction rewrites them) — the file-derived
    // tag is the same batch tag the tombstones record
    val cand0 = tombstonesOf(spark, storePath) match {
      case Some((tombs, _)) => minusTombstonesTagged(
        cand0raw.withColumn("__dir", substring_index(
          substring_index(col("__f"), "/", -2), "/", 1)),
        "__dir", "doc_id", tombs).drop("__dir")
      case None => cand0raw
    }
    lookupAuditHook.foreach(_("lookup_candidates", cand0))
    val cand = spill(cand0, "graft-lookup-cand")
    // one collect serves both prunes: the matched-dir set AND the
    // candidate ids (a point probe's candidates are its own LSH bucket
    // collisions — driver-bounded in practice; past the same 262144 cap
    // the batch lookup uses, the ids are dropped and only dirs prune)
    val meta = cand.select(col("doc_id"), col("__f")).distinct().collect()
    val matchedTags = meta.map { r =>
      val f = r.getString(1)
      dirTag(f.substring(0, f.lastIndexOf('/')))
    }.toSet
    val matchedSigDirs = sigDirs.filter(d => matchedTags.contains(dirTag(d)))
    if (matchedSigDirs.isEmpty)
      spark.read.parquet(sigDirs.head).limit(0)
        .withColumn("jaccard", lit(0.0)).select(col("doc_id"), col("jaccard"))
    else {
      // candidate-id predicate into the sig read — BETWEEN ranges against
      // the doc_id-clustered compacted layout, native parquet In against
      // the per-row-group blooms otherwise ([[chooseIdPredicate]]): a
      // point probe matching a handful of docs in a multi-GB compacted
      // dir row-group-prunes instead of scanning it whole
      val pred = (cand.schema("doc_id").dataType match {
        case org.apache.spark.sql.types.LongType =>
          Some(meta.filter(!_.isNullAt(0)).map(_.getLong(0)).distinct.sorted)
        case org.apache.spark.sql.types.IntegerType =>
          Some(meta.filter(!_.isNullAt(0)).map(_.getInt(0).toLong).distinct.sorted)
        case _ => None
      }).flatMap(ids => chooseIdPredicate(ids, 64, 262144))
      applyIdPredicate(spark.read.parquet(matchedSigDirs: _*), pred)
        .join(cand.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .withColumn("jaccard", Kernels.jaccardLongKernel(col("sh"),
          typedlit(probeSh)))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_id"), col("jaccard"))
    }
  }

  /** Batched [[lookupNearDups]]: a DATAFRAME of probes against the store
    * in one plan, instead of one driver round-trip per probe — the
    * decontamination-style workload (10k eval probes against a curated
    * store) pays 10k point calls otherwise. All probes are signed and
    * banded ONCE (the store's pinned parameters), candidates come from a
    * single bipartite band equi-join against the band sidecar
    * ([[Decontamination.flagFuzzy]]'s shape, served by the precomputed
    * ~20 B/row keys instead of re-banding the store), and the verify reads
    * ONLY the matched sig dirs filtered to the candidates' doc_id ranges —
    * the same matched-dir + id-range prune the ingest verify uses. Job
    * count is CONSTANT in the number of probes (spec-pinned); recall is
    * the store's pinned LSH s-curve per probe, precision exact.
    *
    * Null-text probes return no rows (null content lives in the exact
    * tier only — same contract as the point lookup's non-null require).
    *
    * @param probes frame carrying `probeIdCol` and `textCol`
    * @return (probeIdCol, doc_id, jaccard) — store survivors whose exact
    *         Jaccard with that probe clears `threshold`. */
  def lookupNearDupsBatch(spark: org.apache.spark.sql.SparkSession, storePath: String,
                          probes: DataFrame, probeIdCol: String, textCol: String,
                          threshold: Double): DataFrame = {
    val sigPath = storePath + "_sigs"
    val (shingleSize, numHashes, bands) = readSigPins(spark, sigPath)
    val rpb = numHashes / bands
    val sigDirs = listBatchDirs(spark, sigPath)
    require(sigDirs.nonEmpty, s"no ingested batches under $sigPath")
    val bandsPath = storePath + "_bands"
    val bandsByTag = trustedSidecarDirsByTag(spark, bandsPath)
    val (bandedDirs, rawDirs) = sigDirs.partition(d => bandsByTag.contains(dirTag(d)))
    val buckets: Option[Int] = readBandBucketsPin(spark, bandsPath)
    def emptyResult: DataFrame = spark.read.parquet(sigDirs.head).limit(0)
      .select(lit(null).cast(probes.schema(probeIdCol).dataType).as(probeIdCol),
        col("doc_id"), lit(0.0).as("jaccard"))
    // probe signatures through the SAME kernels ingest used, spilled once —
    // the band phase and the verify both reuse them
    val probeSigs = spill(
      signatureTable(probes.filter(col(textCol).isNotNull), probeIdCol, textCol,
        shingleSize, numHashes).withColumnRenamed("doc_id", "__probe_id"),
      "graft-lookupb-sigs", noDictOptions)
    val nProbes = probeSigs.count()
    if (nProbes == 0L) return emptyResult
    val probeBands = probeSigs.select(col("__probe_id"),
      posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig"))).as(Seq("band", "band_key")))
    // the batch-dir tag each store row came from — the matched-dir carrier
    // parent-dir name via substring_index (plain char scans), not a regex —
    // this evaluates per surviving sidecar row in the batch lookup's scan
    val dirCol = substring_index(
      substring_index(input_file_name(), "/", -2), "/", 1).as("__dir")
    val storeBands = {
      val sidecarPart =
        if (bandedDirs.isEmpty) None
        else {
          val sidecar0 = spark.read.parquet(bandedDirs.map(d => bandsByTag(dirTag(d))): _*)
          // bucket prune, bounded probes only — same arithmetic gate as
          // ingest (a large probe set covers every bucket by birthday
          // arithmetic; the narrow precomputed scan is the win there)
          val sidecar = buckets match {
            case Some(nb) if nProbes * bands <= nb * 2L =>
              val bks = probeBands
                .select(pmod(xxhash64(col("band"), col("band_key")),
                  lit(nb.toLong)).cast("int").as("bucket"))
                .distinct().collect().map(_.getInt(0)).toSeq
              if (bks.size < nb) sidecar0.filter(col("bucket").isin(bks: _*)) else sidecar0
            case _ => sidecar0
          }
          Some(sidecar.select(col("doc_id"), col("band"), col("band_key"), dirCol))
        }
      val rawPart =
        if (rawDirs.isEmpty) None
        else Some(spark.read.parquet(rawDirs: _*).select(col("doc_id"),
          posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig")))
            .as(Seq("band", "band_key")), dirCol))
      val all = Seq(sidecarPart, rawPart).flatten.reduce(_.unionByName(_))
      // tombstone exclusion at candidate generation, same as the ingest
      // tier — removed docs must not answer lookups
      tombstonesOf(spark, storePath) match {
        case Some((tombs, _)) => minusTombstonesTagged(all, "__dir", "doc_id", tombs)
        case None => all
      }
    }
    // ONE bipartite band join for every probe; spilled so the matched-dir
    // collect and the verify join share the candidate set
    val cand = spill(probeBands.join(storeBands, Seq("band", "band_key"))
      .select(col("__probe_id"), col("doc_id"), col("__dir")).distinct(),
      "graft-lookupb-cand")
    lookupAuditHook.foreach(_("lookup_batch_candidates", cand))
    val meta = cand.select(col("doc_id"), col("__dir")).distinct().collect()
    if (meta.isEmpty) return emptyResult
    val tags = meta.map(_.getString(1)).toSet
    val matchedSigDirs = sigDirs.filter(d => tags.contains(dirTag(d)))
    if (matchedSigDirs.isEmpty || tags.contains("")) return emptyResult
    // id predicate, same adaptive shape as the ingest verify: clustered
    // candidates → BETWEEN ranges (row-group min/max), uniform spread →
    // native parquet In against the sig dirs' doc_id blooms
    val pred = (cand.schema("doc_id").dataType match {
      case org.apache.spark.sql.types.LongType =>
        Some(meta.filter(!_.isNullAt(0)).map(_.getLong(0)).distinct.sorted)
      case org.apache.spark.sql.types.IntegerType =>
        Some(meta.filter(!_.isNullAt(0)).map(_.getInt(0).toLong).distinct.sorted)
      case _ => None
    }).flatMap(ids => chooseIdPredicate(ids, 64, 262144))
    val matchedSigs = applyIdPredicate(spark.read.parquet(matchedSigDirs: _*), pred)
    cand.select(col("__probe_id"), col("doc_id"))
      .join(matchedSigs.select(col("doc_id"), col("sh")), Seq("doc_id"))
      .join(probeSigs.select(col("__probe_id"), col("sh").as("__sh_p")), Seq("__probe_id"))
      .withColumn("jaccard", Kernels.jaccardLongKernel(col("sh"), col("__sh_p")))
      .filter(col("jaccard") >= threshold)
      .select(col("__probe_id").as(probeIdCol), col("doc_id"), col("jaccard"))
  }

  /** Compact an [[ingestStep]]-maintained store: bin-pack the accumulated
    * `batch-*` directories of the document store AND its `_sigs` /
    * `_hashes` sidecars into one `batch-compacted` directory each, sized
    * from actual on-disk bytes (`targetFileMB` per output file,
    * shuffle-free `coalesce`). A long-lived stream writes one directory
    * per micro-batch — thousands of small parquet files whose listing,
    * footer, and task overheads grow without bound, plus a cross-store
    * read set that unions one scan per dir; this is the maintenance step
    * that resets both, the [[Similarity.compactIvfStore]] of the dedup
    * store. Offline single-writer op, like retrain: run it while no
    * ingest holds the store, point the ingest at `outPath` after.
    *
    * Consistency rules the layout demands:
    *  - the stores compact TOGETHER (docs, signatures, hashes, band
    *    index) — a compacted doc store against stale per-batch sigs would
    *    double every signature's scan cost back and desync on any partial
    *    copy;
    *  - the sig store's `_params.json` pin is copied byte-for-byte and
    *    written LAST (the commit marker, same crash posture as the ANN
    *    store: a half-written output is simply re-compacted — `outPath*`
    *    is wiped first);
    *  - the hash sidecar is REGENERATED from the compacted doc store (one
    *    narrow scan) rather than copied, and only when the source store
    *    had sidecars or the compacted bytes clear
    *    [[exactBloomMinStoreBytes]] — the same arming rule ingest applies.
    *
    * @return number of output files the doc store was packed into. */
  def compactIngestStore(spark: org.apache.spark.sql.SparkSession, path: String,
                         outPath: String, contentCol: String,
                         targetFileMB: Int = 256,
                         hashSidecarMinStoreBytes: Long = exactBloomMinStoreBytes,
                         bandBuckets: Option[Int] = None,
                         bandBucketTargetRows: Long = 64000L): Int = {
    require(targetFileMB > 0, s"targetFileMB must be positive, got $targetFileMB")
    val hconf = spark.sparkContext.hadoopConfiguration
    // Disjointness across EVERY root this call wipes vs EVERY root it
    // reads: the wipe below deletes outPath, outPath_sigs and
    // outPath_hashes before anything is read, so a derived output root
    // colliding with a source root (path == outPath + "_sigs", a sibling
    // store named <outPath>_hashes, …) would destroy the source first.
    // Paths are FileSystem-qualified so scheme/relative aliases of one
    // location (file:///a/b vs /a/b, default-FS-relative vs absolute)
    // compare equal instead of slipping past a raw string prefix test —
    // the one canonical spelling [[qualifiedUri]] produces; the trailing
    // slash makes startsWith a whole-segment prefix test.
    def qualified(s: String): String = qualifiedUri(hconf, s) + "/"
    val sidecarSuffixes = Seq("", "_sigs", "_hashes", "_bands", "_tombstones")
    val srcRoots = sidecarSuffixes.map(sfx => qualified(path + sfx))
    val outRoots = sidecarSuffixes.map(sfx => qualified(outPath + sfx))
    for (s <- srcRoots; o <- outRoots)
      require(!o.startsWith(s) && !s.startsWith(o),
        s"output root ${o.stripSuffix("/")} overlaps source root ${s.stripSuffix("/")} — " +
          s"compaction wipes every output root before reading, so outPath $outPath and its " +
          s"_sigs/_hashes sidecars must be disjoint from the store at $path and its sidecars")
    val docDirs = listBatchDirs(spark, path)
    require(docDirs.nonEmpty, s"no ingested batches under $path")
    def dirBytes(dirs: Seq[String]): Long = dirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(hconf).getContentSummary(p).getLength
    }.sum
    def packed(dirs: Seq[String]): Int = math.max(1L,
      (dirBytes(dirs) + targetFileMB * 1048576L - 1) / (targetFileMB * 1048576L)).toInt
    def wipe(p: String): Unit = {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(hconf).delete(pp, true)
    }
    // wipe every output root first: a retry must not union half-written
    // artifacts or leave a stale pin next to them. The byte cache must
    // forget the output root too — compact→ingest→compact cycles reuse
    // `<outPath>/batch-compacted` with different contents, and a stale
    // cached size would mis-arm every later ingest against this store.
    sidecarSuffixes.map(outPath + _).foreach(wipe)
    invalidateDirBytes(hconf, outPath)
    // compaction CONSUMES tombstones ([[removeFromIngestStore]]): the
    // compacted output holds only LIVE rows (physical removal), its
    // sidecars are regenerated from those rows, and no tombstone root is
    // written — the fresh store starts with an empty removal ledger
    val tombs = tombstonesOf(spark, path)
    def docsMinusTombs(dirs: Seq[String]): DataFrame = {
      val base = spark.read.parquet(dirs: _*)
      tombs.fold(base) { case (t, tid) => minusTombstones(base, tid, t) }
    }
    val nDoc = packed(docDirs)
    docsMinusTombs(docDirs).coalesce(nDoc)
      .write.mode("overwrite").parquet(s"$outPath/batch-compacted")
    val hashDirs = listBatchDirs(spark, path + "_hashes")
    if (hashDirs.nonEmpty || dirBytes(docDirs) >= hashSidecarMinStoreBytes)
      spark.read.parquet(s"$outPath/batch-compacted")
        .select(md5(col(contentCol)).as("content_hash"))
        .write.mode("overwrite").parquet(s"${outPath}_hashes/batch-compacted")
    val sigDirs = listBatchDirs(spark, path + "_sigs")
    if (sigDirs.nonEmpty) {
      val srcPin = new org.apache.hadoop.fs.Path(path + "_sigs", "_params.json")
      val fs = srcPin.getFileSystem(hconf)
      require(fs.exists(srcPin), s"sig store ${path}_sigs has batch dirs but no " +
        "_params.json pin — refusing to compact a store with no recorded parameters")
      val pinBytes = {
        val in = fs.open(srcPin)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      // signatures are hash-valued arrays — see [[noDictOptions]].
      // repartitionByRange on doc_id, not the shuffle-free coalesce the doc
      // store keeps: compaction is the one offline moment that can buy the
      // sig store a doc_id-CLUSTERED layout (per-file disjoint id ranges,
      // rows sorted within), which is what lets the ingest verify's
      // id-range predicate and lookupNearDups' candidate fetch prune at
      // the file/row-group level instead of scanning the whole store —
      // one store-sized narrow shuffle, paid once per compaction, against
      // a store-linear read every future micro-batch.
      val nSig = packed(sigDirs)
      // sig rows are keyed by doc_id under the SAME batch tags as the
      // primary dirs, so the tombstone exclusion applies directly — a
      // removed doc's signature must not ride into the compacted store
      // (it would resurface as a candidate under the batch-compacted tag)
      val sigBase = spark.read.parquet(sigDirs: _*)
      tombs.fold(sigBase) { case (t, _) => minusTombstones(sigBase, "doc_id", t) }
        .repartitionByRange(nSig, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").options(sigWriteOptions)
        .parquet(s"${outPath}_sigs/batch-compacted")
      // Band sidecar: REGENERATED from the compacted signatures (one
      // scan), like the hash sidecar from the docs — never copied, so a
      // compaction also UPGRADES a pre-sidecar store to the banded layout
      // (its next ingest batch reads narrow precomputed keys instead of
      // re-banding the whole store). Bucket function: the source store's
      // pin if it has one, else the current default; the out pin is
      // written before the band dir (a pin can never be missing for a dir
      // that exists), and the sig `_params.json` stays the LAST write —
      // the commit marker for the whole compaction.
      val sigBands = """"bands"\s*:\s*(\d+)""".r.findFirstMatchIn(pinBytes).map(_.group(1).toInt)
      val sigHashes = """"numHashes"\s*:\s*(\d+)""".r.findFirstMatchIn(pinBytes).map(_.group(1).toInt)
      for (b <- sigBands; h <- sigHashes if h % b == 0) {
        // bucket function for the regenerated index: an explicit override
        // wins (the in-place auto-compact swap passes the LIVE store's pin
        // so the moved-in dir can never disagree with it); otherwise the
        // MAX of the source pin and the size-scaled value
        // ([[scaledBandBuckets]]) — compaction rewrites the whole index
        // and this root's own pin (written below, before the band dir),
        // so growing the bucket count here is the safe moment, and taking
        // the max keeps a store's probe-pruning resolution monotone
        // across compact cycles. The doc count comes from the compacted
        // sig dir just written: an empty-schema parquet count, row-group
        // footer metadata only, no column data read.
        val nSigDocs = spark.read.parquet(s"${outPath}_sigs/batch-compacted").count()
        val scaled = scaledBandBuckets(nSigDocs * b, bandBucketTargetRows)
        val buckets = bandBuckets.getOrElse(math.max(
          readBandBucketsPin(spark, path + "_bands").getOrElse(bandSidecarBuckets), scaled))
        val outBandPin = new org.apache.hadoop.fs.Path(outPath + "_bands", "_params.json")
        val obFs = outBandPin.getFileSystem(hconf)
        val ob = obFs.create(outBandPin, true)
        try ob.write(s"""{"buckets":$buckets}""".getBytes("UTF-8")) finally ob.close()
        // repartitionByRange, not coalesce (which would collapse the
        // explode into nSig serialized tasks) and not hash-repartition on
        // bucket (64 distinct values hashed into nSig partitions leaves
        // empties whenever nSig > 64 and can collide several buckets into
        // one file while others sit empty): ranging on (bucket, band_key)
        // fills every output file evenly AND gives each file a contiguous
        // bucket range — point probes then prune whole FILES by footer
        // stats, not just row groups. The exchange is narrow (~25 B/row).
        spark.read.parquet(s"${outPath}_sigs/batch-compacted")
          .select(col("doc_id"), posexplode(
            Kernels.bandKeysKernel(b, h / b)(col("sig"))).as(Seq("band", "band_key")))
          .withColumn("bucket", pmod(xxhash64(col("band"), col("band_key")),
            lit(buckets.toLong)).cast("int"))
          .repartitionByRange(nSig, col("bucket"), col("band_key"))
          .sortWithinPartitions("bucket", "band_key")
          .write.mode("overwrite")
          .options(noDictOptionsExcept("doc_id", "band", "bucket"))
          .parquet(s"${outPath}_bands/batch-compacted")
      }
      val outPin = new org.apache.hadoop.fs.Path(outPath + "_sigs", "_params.json")
      val outFs = outPin.getFileSystem(hconf)
      val o = outFs.create(outPin, true)
      try o.write(pinBytes.getBytes("UTF-8")) finally o.close()
    }
    nDoc
  }

  /** Threshold-gated in-place compaction for LONG-LIVED ingest sinks —
    * [[compactIngestStore]] is operator-invoked and writes a NEW root, but
    * a stream that runs for weeks accumulates one batch dir (plus sidecar
    * dirs) per micro-batch until someone remembers to run it. This hook
    * runs between micro-batches (same single-writer window every store
    * mutation already assumes): when the store holds ≥ `maxDirs` batch
    * dirs, it compacts into a STAGING root (`<storePath>__compacting`,
    * wiped first — the disjointness check applies as usual), then swaps:
    *
    *  1. the compacted dirs are MOVED IN first, as a fresh
    *     `batch-compacted-<k>` tag (k = 1 + the highest existing compacted
    *     ordinal, so a crash-left survivor never collides), docs first;
    *  2. only then are the old batch dirs deleted — sidecars first
    *     (derivable), then sigs, then docs.
    *
    * Crash posture: the store's read set is a MEMBERSHIP structure for
    * dedup (duplicates in it can only re-drop documents that are already
    * dups; they never admit one), so every intermediate state is safe —
    * before step 1 completes the original dirs are untouched; between 1
    * and 2 the store is read twice-over (wasteful, never wrong); a crash
    * mid-2 leaves a subset of the duplicates. The one forbidden state —
    * content MISSING from the union — is unreachable because nothing is
    * deleted until the compacted copy is fully in place. A half-written
    * staging root from an earlier crash is wiped by the next attempt.
    * The byte cache is invalidated for the whole store.
    *
    * The swap deliberately KEEPS the live band-bucket pin (no
    * [[scaledBandBuckets]] growth here): mid-crash, old dirs' sidecars and
    * the moved-in index coexist, and rows bucketed under two functions
    * against one pin would silently mis-prune. A long-lived sink therefore
    * never re-buckets in place — point-lookup-heavy deployments whose
    * store has outgrown its pinned count re-bucket via the offline path,
    * [[compactIngestStore]] to a NEW root (which writes its own pin before
    * its band dir and takes max(pin, scaled)).
    *
    * @return true if a compaction ran. */
  def autoCompactIngestStore(spark: org.apache.spark.sql.SparkSession, storePath: String,
                             contentCol: String, maxDirs: Int,
                             targetFileMB: Int = 256): Boolean = {
    require(maxDirs >= 2, s"maxDirs must be >= 2, got $maxDirs")
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirs = listBatchDirs(spark, storePath)
    // the tombstone ledger counts toward the threshold: every reader pays
    // the exclusion anti-join against the UNION of `_tombstones/batch-*`
    // dirs, so a removal-heavy store (thousands of small
    // [[removeFromIngestStore]] calls, no new ingest) grows read cost and
    // dir listings without ever growing primary dirs — and compaction is
    // exactly what consumes the ledger. Counting both means such a store
    // compacts (and applies its deletes physically) at the same threshold
    // an append-heavy one does.
    val tombDirs = listBatchDirs(spark, storePath + "_tombstones")
    if (dirs.size + tombDirs.size < maxDirs) return false
    val staging = storePath + "__compacting"
    // keep the LIVE band-bucket pin across the swap: the staged band index
    // must be bucketed by the function the live `_bands/_params.json`
    // already pins — re-bucketing here would leave the moved-in dir and
    // the live pin describing different functions mid-crash. A PIN-LESS
    // store (the pre-sidecar upgrade path) has no live function to keep,
    // but the same invariant still binds FORWARD: the next near-tier
    // ingest's checkOrWriteBandParams will pin [[bandSidecarBuckets]], so
    // the staged index must be bucketed at exactly that — letting
    // compactIngestStore apply its size-scaled rule here (whose pin the
    // swap discards with the staging root) would leave rows bucketed
    // under a grown function that the later 64-pin mis-prunes, silent
    // recall loss on every bucket-pruned probe. The swap also moves the
    // pin INTO the live root (below) so the moved-in dir can never
    // disagree with what a later writer records.
    val stagedBuckets = readBandBucketsPin(spark, storePath + "_bands")
      .getOrElse(bandSidecarBuckets)
    compactIngestStore(spark, storePath, staging, contentCol, targetFileMB,
      bandBuckets = Some(stagedBuckets))
    // fresh ordinal: one above any compacted tag already present (a crash
    // between move-in and delete leaves the prior ordinal in place)
    val k = 1 + dirs.map(dirTag).flatMap { t =>
      "^batch-compacted-(\\d+)$".r.findFirstMatchIn(t).map(_.group(1).toInt)
    }.foldLeft(0)(math.max)
    def fs(p: org.apache.hadoop.fs.Path) = p.getFileSystem(hconf)
    // move in (docs first — the primary store must never lag a sidecar)
    for (suffix <- Seq("", "_sigs", "_hashes", "_bands")) {
      val src = new org.apache.hadoop.fs.Path(staging + suffix, "batch-compacted")
      if (fs(src).exists(src)) {
        val dstRoot = new org.apache.hadoop.fs.Path(storePath + suffix)
        fs(dstRoot).mkdirs(dstRoot)
        // a PIN-LESS store gains its band pin here, BEFORE its first band
        // dir lands (the "pin can never be missing for a dir that exists"
        // invariant): the staged index was bucketed at stagedBuckets, and
        // recording it now means a later writer adopts this function
        // instead of re-pinning a default the moved-in rows might not
        // match. A crash between pin write and rename leaves a pin with
        // no dirs — harmless, the value is the default the next writer
        // would pin anyway.
        if (suffix == "_bands") {
          val livePin = new org.apache.hadoop.fs.Path(dstRoot, "_params.json")
          if (!fs(livePin).exists(livePin)) {
            val o = fs(livePin).create(livePin, true)
            try o.write(s"""{"buckets":$stagedBuckets}""".getBytes("UTF-8")) finally o.close()
          }
        }
        val dst = new org.apache.hadoop.fs.Path(dstRoot, s"batch-compacted-$k")
        fs(src).delete(dst, true)
        require(fs(src).rename(src, dst), s"rename $src -> $dst failed")
      }
    }
    // delete the old dirs — sidecars first, then sigs, then docs, so any
    // crash point leaves the union a superset of the content
    val oldTags = dirs.map(dirTag).toSet
    for (suffix <- Seq("_bands", "_hashes", "_sigs", "")) {
      listBatchDirs(spark, storePath + suffix)
        .filter(d => oldTags.contains(dirTag(d)))
        .foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          fs(p).delete(p, true)
        }
    }
    // tombstones were CONSUMED by the compaction (the moved-in dirs hold
    // only live rows); delete them LAST — a tombstone must outlive the
    // dirs it masks, and a crash right here leaves tombstones naming
    // dead tags, which exclude nothing
    val tombRoot = new org.apache.hadoop.fs.Path(storePath + "_tombstones")
    fs(tombRoot).delete(tombRoot, true)
    // wipe the now-empty staging roots (pins and parent dirs remain)
    for (suffix <- Seq("", "_sigs", "_hashes", "_bands")) {
      val p = new org.apache.hadoop.fs.Path(staging + suffix)
      fs(p).delete(p, true)
    }
    invalidateDirBytes(hconf, storePath)
    true
  }

  /** Merge one ingest store into another: replay `srcPath`'s batch dirs
    * into `dstPath` in tag order, deduping each against the accumulated
    * destination exactly as live ingest would — the consolidation step
    * when two corpora were curated INDEPENDENTLY (two crawls, two
    * pipelines, a backfill job and a live stream) and must converge to one
    * store. Semantics are precisely "the src batches arrive at dst after
    * everything dst already holds": dst's survivors always win ties, src
    * batches win only their genuinely new documents, src batches replay in
    * a DETERMINISTIC order (lexicographic tag order — [[listBatchDirs]]
    * sorts), and in-batch structure is preserved because each src DIR
    * replays as one batch. Note the replay order is src ARRIVAL order only
    * when the src store's tags sort like time (zero-padded sequence
    * numbers, ISO timestamps); auto (content-digest) tags sort in digest
    * order, which matters only when the merge uses a different
    * `nearThreshold` than the src was built with — at the src's own
    * threshold its survivors are mutually non-dup, so replay order cannot
    * change the outcome.
    *
    * Each replayed batch takes [[ingestStep]]'s AUTO tag (the
    * order-independent content digest), so merged dirs can never collide
    * with dst's existing tags (or with a different store's merged
    * batches), and a crashed merge RESUMES idempotently: re-running it
    * replays each batch onto its own digest tag, whose dir is excluded
    * from its read set, so already-merged batches overwrite themselves
    * with identical survivors and the crash-point batch completes — the
    * same single-writer retry contract every ingestStep tag carries
    * (re-run before further writers advance the store).
    *
    * Source SIG sidecars are REUSED when src's `_sigs/_params.json`
    * matches this call's (shingleSize, numHashes, bands) exactly: the
    * signatures are deterministic in (text, params), so each trusted src
    * sig dir is passed to the replay as precomputed — a narrow sidecar
    * read + semi-join instead of the O(src text) re-shingle. Per-dir
    * fallback re-shingles when a dir's sidecar is untrusted or the pin
    * differs (band sidecars are never reused — dst's pinned bucket
    * function owns that layout). `nearThreshold` must match dst's tier
    * shape: merging with a
    * near tier into a store whose earlier batches lack signatures trips
    * the coverage guard ([[backfillSigStore]] first), same as live ingest.
    *
    * @return the number of src batch dirs replayed. */
  def mergeIngestStores(spark: org.apache.spark.sql.SparkSession,
                        dstPath: String, srcPath: String,
                        idCol: String, contentCol: String,
                        nearThreshold: Option[Double] = None,
                        shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                        exactArmMinStoreBytes: Long = exactBloomMinStoreBytes): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // the replay WRITES the whole dst family (dstPath plus its
    // _sigs/_hashes/_bands sidecar roots) and READS the src family: any
    // overlap would let a replayed batch clobber its own source mid-merge.
    // Checked 4×4 across both families — same qualified whole-segment
    // check compaction uses — because the sibling-store hazard is exactly
    // a DERIVED root colliding with a primary (srcPath = dstPath + "_sigs"
    // passes a primary-vs-primary check, yet the replay would then write
    // dst's sig sidecar straight into the src store's root).
    val famSuffixes = Seq("", "_sigs", "_hashes", "_bands", "_tombstones")
    val srcFam = famSuffixes.map(sfx => qualifiedUri(hconf, srcPath + sfx) + "/")
    val dstFam = famSuffixes.map(sfx => qualifiedUri(hconf, dstPath + sfx) + "/")
    for (s <- srcFam; d <- dstFam)
      require(!s.startsWith(d) && !d.startsWith(s),
        s"merge source root ${s.stripSuffix("/")} overlaps destination root " +
          s"${d.stripSuffix("/")} — the replay writes dst and its _sigs/_hashes/_bands " +
          s"sidecars while reading src's, so the two stores' root families must be disjoint")
    val srcDirs = listBatchDirs(spark, srcPath)
    require(srcDirs.nonEmpty, s"no ingested batches under $srcPath")
    // a tombstoned src row was REMOVED from src — the replay must not
    // resurrect it in dst. The ledger union is SPILLED ONCE (broadcast-
    // hinted when small) before the loop: the exclusion anti-join runs per
    // replayed dir, and without the spill each iteration would re-list and
    // re-scan every `_tombstones/batch-*` dir — a removal-heavy src would
    // pay O(srcDirs × ledger) in scans for a ledger that is immutable for
    // the whole merge (single-writer). Pre-compacting such a src
    // ([[compactIngestStore]] consumes the ledger entirely) remains the
    // documented recommendation when the ledger is large relative to the
    // live rows.
    val srcTombs = tombstonesOf(spark, srcPath).map { case (t, tid) =>
      (spillSized(t, "graft-merge-src-tombs"), tid)
    }
    // SIDECAR-REUSE fast path: when src's sig pin matches this call's
    // parameters exactly, src's trusted sig dirs are bit-compatible with
    // what the replay would re-derive (same kernels, same params, same
    // text), so each replayed batch passes its dir's signatures as
    // precomputed — the O(src text) re-shingle becomes a narrow sidecar
    // read + semi-join to that batch's dst-surviving ids. Per-dir
    // fallback: an untrusted (or absent) sig dir re-shingles as before;
    // tombstoned rows can't leak through reuse (the semi-join is against
    // the already-excluded batch's survivors). Band sidecars are NOT
    // reused — dst's pinned bucket function owns that layout.
    val srcSigsByTag: Map[String, String] =
      if (nearThreshold.isEmpty) Map.empty
      else {
        val pinP = new org.apache.hadoop.fs.Path(srcPath + "_sigs", "_params.json")
        val fs = pinP.getFileSystem(hconf)
        val want = s"""{"shingleSize":$shingleSize,"numHashes":$numHashes,"bands":$bands}"""
        if (!fs.exists(pinP)) Map.empty
        else {
          val in = fs.open(pinP)
          val seen = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                     finally in.close()
          if (seen == want) trustedSidecarDirsByTag(spark, srcPath + "_sigs") else Map.empty
        }
      }
    srcDirs.foreach { d =>
      val base = spark.read.parquet(d)
      val batch = srcTombs.fold(base) { case (t, tid) => minusTombstones(base, tid, t) }
      ingestStep(batch, idCol, contentCol, dstPath,
        nearThreshold, shingleSize, numHashes, bands,
        batchTag = None,
        exactArmMinStoreBytes = exactArmMinStoreBytes,
        precomputedSigs = srcSigsByTag.get(d.substring(d.lastIndexOf('/') + 1))
          .map(spark.read.parquet(_)))
    }
    srcDirs.size
  }

  /** Backfill the near-tier signatures of a store whose batch dirs lack
    * them — the documented alternative to the rebuild [[ingestStep]]'s
    * coverage guard otherwise forces. Two workloads land here:
    *
    *  - an EXACT-ONLY store (weeks of `nearThreshold = None` ingest)
    *    being upgraded to the near tier: every batch dir needs signatures
    *    before cross-store near-dup detection can see its documents;
    *  - a near-tier store that lost one tag's sig dir (a crash between
    *    `store_write` and `sig_write` whose retry never ran): without the
    *    backfill that dir's documents are invisible to every future
    *    near-dup check — silent recall loss the coverage guard now
    *    refuses loudly instead.
    *
    * For each `batch-<tag>` under `storePath` with no `_sigs/batch-<tag>`
    * counterpart, one narrow scan of the primary dir derives signatures
    * through the SAME kernels ingest uses ([[signatureTable]]) and writes
    * the sig dir (doc_id-sorted — the verify prune's row-group layout),
    * then its band sidecar (the store's pinned bucket function). Hash
    * sidecars are backfilled for missing dirs when the store already
    * carries some or its bytes clear `hashSidecarMinStoreBytes` — the
    * arming rule ingest applies. Parameter pins are VALIDATED when
    * present (mixing shingle functions in one store would silently stop
    * detecting near-dups — loud refusal, same contract as ingest) and
    * written when absent.
    *
    * Idempotent and crash-safe: a re-run skips dirs whose sig dir is
    * `_SUCCESS`-marked — a crash mid-dir leaves a marker-less fragment
    * that the NEXT run overwrites whole (dir existence alone must not
    * count: skipping a fragment would let the coverage guard accept the
    * tag with partial signatures); each sig dir lands before its band
    * sidecar (ingest's ordering contract). Cost is one scan+write
    * per MISSING dir — O(unsigned portion of the store) once, by operator
    * choice, where the per-batch heal loop converges one dir per batch.
    *
    * @return the number of batch dirs whose signatures were backfilled. */
  def backfillSigStore(spark: org.apache.spark.sql.SparkSession, storePath: String,
                       idCol: String, contentCol: String,
                       shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                       hashSidecarMinStoreBytes: Long = exactBloomMinStoreBytes): Int = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val hconf = spark.sparkContext.hadoopConfiguration
    val docDirs = listBatchDirs(spark, storePath)
    require(docDirs.nonEmpty, s"no ingested batches under $storePath")
    val sigPath = storePath + "_sigs"
    checkOrWriteSigParams(spark, sigPath, shingleSize, numHashes, bands)
    val rpb = numHashes / bands
    val bandsPath = storePath + "_bands"
    val effBuckets = checkOrWriteBandParams(spark, bandsPath, bandSidecarBuckets)
    // skip set = _SUCCESS-marked sig dirs ONLY, not bare dir existence: a
    // crash mid-sig-write leaves a partial batch-<tag> fragment (Spark
    // creates the directory at job setup), and a name-keyed skip would
    // treat the fragment as that tag's complete signatures — the coverage
    // guard then accepts the tag and ingest reads PARTIAL signatures as
    // the batch's whole near-tier presence, the silent recall loss this
    // operator exists to close. Re-signing a fragment is safe: the write
    // below is mode("overwrite") onto the tag's own dir.
    val sigTags = trustedSidecarDirsByTag(spark, sigPath).keySet
    val hashPath = storePath + "_hashes"
    val hashArmed = listBatchDirs(spark, hashPath).nonEmpty ||
      docDirs.map(cachedDirBytes(hconf, _)).sum >= hashSidecarMinStoreBytes
    val hashTags = listBatchDirs(spark, hashPath).map(dirTag).toSet
    val missing = docDirs.filterNot(d => sigTags.contains(dirTag(d)))
    // tombstoned rows are not signed — their signatures would be inert
    // (candidate exclusion) but pay scan and storage forever
    val storeTombs = tombstonesOf(spark, storePath)
    def dirMinusTombs(d: String): DataFrame = {
      val base = spark.read.parquet(d)
      storeTombs.fold(base) { case (t, tid) => minusTombstones(base, tid, t) }
    }
    missing.foreach { d =>
      val tag = dirTag(d)
      // null-content rows are exact-tier-only, exactly as ingest signs them
      val sigs = signatureTable(
        dirMinusTombs(d).filter(col(contentCol).isNotNull),
        idCol, contentCol, shingleSize, numHashes)
      sigs.sortWithinPartitions("doc_id")
        .write.mode("overwrite").options(sigWriteOptions)
        .parquet(s"$sigPath/$tag")
      // band sidecar from the just-written sig dir — bit-identical to what
      // ingest would have persisted (same kernels, same pinned bucket fn)
      spark.read.parquet(s"$sigPath/$tag").select(col("doc_id"),
          posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig")))
            .as(Seq("band", "band_key")))
        .withColumn("bucket", pmod(xxhash64(col("band"), col("band_key")),
          lit(effBuckets.toLong)).cast("int"))
        .repartition(8, col("bucket"))
        .sortWithinPartitions("bucket", "band_key")
        .write.mode("overwrite")
        .options(noDictOptionsExcept("doc_id", "band", "bucket"))
        .parquet(s"$bandsPath/$tag")
      if (hashArmed && !hashTags.contains(tag))
        dirMinusTombs(d)
          .select(md5(col(contentCol)).as("content_hash"))
          .write.mode("overwrite").parquet(s"$hashPath/$tag")
    }
    missing.size
  }

  /** The signature parameters a store was built with — recorded next to the
    * signature store so every later shard provably shingles the same way
    * (mismatched shingleSize/numHashes/bands would silently stop detecting
    * near-dups against everything already ingested). */
  private def checkOrWriteSigParams(spark: org.apache.spark.sql.SparkSession,
                                    sigPath: String, shingleSize: Int,
                                    numHashes: Int, bands: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(sigPath, "_params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params = s"""{"shingleSize":$shingleSize,"numHashes":$numHashes,"bands":$bands}"""
    if (fs.exists(p)) {
      val in = fs.open(p)
      val seen = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
      if (seen != params) throw new graft.model.ValidationError(
        s"signature store $sigPath was built with $seen; this call uses $params — " +
          "near-dup detection against prior shards would silently miss, refusing")
    } else {
      val out = fs.create(p, true)
      try out.write(params.getBytes("UTF-8")) finally out.close()
    }
  }

  /** One shard's step of store-convergent ingestion — the batch form of
    * `GraftStreaming.incrementalDedupSink` (which delegates here per
    * micro-batch): dedup `batch` within itself and against the accumulated
    * store at `storePath`, then write the survivors. Call it shard-by-shard
    * over a 100 TB corpus and the store converges to one copy per distinct
    * (or, with `nearThreshold`, near-distinct) document.
    *
    * Arrival order is part of the near tier's semantics: whichever member
    * of a near-dup cluster lands first owns the store entry, and a cluster
    * split across shards can keep one representative per shard when the
    * earlier representative is itself dropped against a third document —
    * so re-ingesting the same corpus in a different shard order can shift
    * the surviving SET (and, at the margin, the count) while still keeping
    * ≥1 representative per cluster. The exact tier has no such dependence:
    * one survivor per distinct content whatever the order.
    *
    * Store layout: each call writes `storePath/batch-<tag>/` (and, with the
    * near tier, `storePath + "_sigs"/batch-<tag>/`); readers take the union
    * of batch directories via [[readStore]]. Writing a FRESH directory
    * instead of appending to the path being read is load-bearing twice
    * over: no plan ever has lineage across its own write target (the
    * recache-on-append trap that previously forced a per-batch scratch
    * round-trip), and a retried batch — `foreachBatch` is at-least-once —
    * overwrites its own directory idempotently, because the batch's own
    * tag is EXCLUDED from the read set, so a partial earlier attempt can
    * neither duplicate documents nor flag the retry's documents as dups of
    * their own orphaned signatures. Callers with natural batch identities
    * (a shard id, the streaming batchId) should pass `batchTag`; the
    * default tag is a deterministic digest of the batch's (id, content-hash)
    * pairs, so even a *crashed-and-retried* one-shot call overwrites its own
    * directory rather than appending a duplicate, while a recrawl that
    * re-ingests the SAME ids with DIFFERENT content lands as a new batch
    * instead of silently overwriting the earlier batch's survivors.
    *
    * Within a call the document directory is written BEFORE the signature
    * directory: a crash between the two costs only near-dup recall against
    * that batch, never documents (the reverse order could permanently drop
    * a retried batch against its own orphaned signatures).
    *
    * Per-call cost is bounded: the exact tier reads only the store's
    * content column (column-pruned scan, null-safe hash anti-join), and
    * the near tier never re-shingles the store — survivors' MinHash
    * signatures accumulate in the signature store ([[signatureTable]]'s
    * shape) and each shard band-joins only its own signatures against it.
    * Null-content documents pass through the exact tier only. The
    * signature parameters are recorded in `_sigs/_params.json` and checked
    * on every call; a parameter mismatch — or a near-tier call against a
    * store previously built without signatures — refuses loudly instead of
    * silently losing recall. */
  /** Test-only tap: when set, [[ingestStep]] hands each frame it is about
    * to execute (named) to the hook BEFORE running it, so the plan audit
    * (GatePlanSpec) can sweep the ACTUAL per-batch physical plans of the
    * streaming ingest tiers — not a reconstruction that could drift from
    * the production code path. `None` in production; costs one Option
    * check per frame. */
  private[graft] var planAuditHook: Option[(String, DataFrame) => Unit] = None

  /** Test-only tap for [[lookupNearDups]]'s candidate frame — the lookup
    * materializes candidates eagerly (the verify's dir pruning needs the
    * matched-file set), so its returned frame no longer contains the
    * band-sidecar scan; the spec asserts the bucket predicate reached the
    * parquet scan through this hook instead. `None` in production. */
  private[graft] var lookupAuditHook: Option[(String, DataFrame) => Unit] = None

  /** Profiling-only tap: when set, [[ingestStep]] reports wall seconds per
    * phase (exact tier / signature build / in-batch band join / cross-store
    * band+verify / store writes), FORCING a materialization barrier between
    * phases so the numbers attribute honestly — the production path
    * (`None`) keeps its lazy fusion and pays only an Option check.
    * Feeds the curated near-ingest per-batch cost breakdown
    * (tools.StreamNearProfile). */
  private[graft] var phaseHook: Option[(String, Double) => Unit] = None

  @inline private def phase[T](name: String)(f: => T): T = phaseHook match {
    case None => f
    case Some(h) =>
      val t0 = System.nanoTime()
      val r = f
      h(name, (System.nanoTime() - t0) / 1e9)
      r
  }

  /** `precomputedSigs`: a frame of [[signatureTable]]-shaped rows
    * (`doc_id`, `sh`, `sig`) covering AT LEAST the batch's non-null-text
    * documents, derived under the SAME (shingleSize, numHashes, seed)
    * parameters — when passed, the near tier semi-joins it to the exact
    * tier's survivors instead of re-shingling their text
    * ([[mergeIngestStores]]'s sidecar-reuse fast path; the caller owns the
    * parameter-compatibility proof). Results are bit-identical by
    * construction: the kernels are deterministic in (text, params), so a
    * trusted sig sidecar IS what signatureTable would produce. */
  def ingestStep(batch: DataFrame, idCol: String, contentCol: String,
                 storePath: String, nearThreshold: Option[Double] = None,
                 shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                 batchTag: Option[String] = None,
                 exactArmMinStoreBytes: Long = exactBloomMinStoreBytes,
                 precomputedSigs: Option[DataFrame] = None): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val spark = batch.sparkSession
    // Default tag = order-independent digest of the batch's (id, content)
    // pairs, so a crashed-and-retried one-shot call lands in the SAME
    // directory (the overwrite makes the retry idempotent instead of
    // duplicating the batch's survivors), while a RE-INGEST with the same
    // ids but different content — the stable-id recrawl workload — gets a
    // DISTINCT directory instead of silently overwriting the earlier
    // batch's survivors. One extra column-pruned scan of the batch.
    // Explicit tags must be directory-safe as-is: sanitizing would
    // collapse distinct tags ("a/b", "a.b") onto one directory and let
    // one shard silently overwrite another — loud refusal instead.
    val tag = "batch-" + batchTag.map { t =>
        if (!t.matches("[A-Za-z0-9_-]+")) throw new graft.model.ValidationError(
          s"batch tag '$t' must match [A-Za-z0-9_-]+ — it names a store directory, and " +
            "sanitizing distinct tags onto one name would silently overwrite a batch")
        t
      }
      .getOrElse {
        val d = batch
          .select(conv(substring(md5(concat_ws("\u0001",
              coalesce(col(idCol).cast("string"), lit("\u0002")),
              coalesce(md5(col(contentCol).cast("string")), lit("\u0002")))), 1, 15), 16, 10)
            .cast("long").as("h"))
          .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"), count(lit(1)).as("n"))
          .head()
        f"auto-${d.getLong(0)}%016x-${d.getLong(1)}"
      }
    val sigPath = storePath + "_sigs"
    // read set = every batch directory EXCEPT this call's own (retry safety)
    val docDirs = listBatchDirs(spark, storePath).filterNot(_.endsWith("/" + tag))
    val sigDirs = listBatchDirs(spark, sigPath).filterNot(_.endsWith("/" + tag))
    nearThreshold.foreach { _ =>
      // COVERAGE guard, tag-set-exact: every store dir must have a sig dir
      // or its documents are invisible to cross-store near-dup detection —
      // not just the all-missing case (an exact-only store being switched
      // to the near tier) but the PARTIAL one (a crash between store_write
      // and sig_write whose retry never ran), which a bare emptiness check
      // let through as permanent silent recall loss. [[backfillSigStore]]
      // is the remedy either way.
      val unsigned = docDirs.map(dirTag).toSet -- sigDirs.map(dirTag).toSet
      if (unsigned.nonEmpty) throw new graft.model.ValidationError(
        s"store $storePath holds ${unsigned.size} ingested batch dir(s) with no " +
          s"signatures under $sigPath (${unsigned.toSeq.sorted.take(3).mkString(", ")}…): " +
          "their documents would be silently skipped by cross-store near-dup " +
          "detection — run Dedup.backfillSigStore first (or rebuild the store)")
      checkOrWriteSigParams(spark, sigPath, shingleSize, numHashes, bands)
    }

    // exact tier: in-batch dedup, then null-safe content-hash anti-join
    // against the store's content hashes. Two O(store)-per-batch costs are
    // bounded here (r11 curated near-ingest profiling), both ADAPTIVE on the
    // same gate — total store bytes ≥ `exactArmMinStoreBytes`, a free
    // FileSystem listing:
    //  - SCAN: once armed, each ingested batch dir gets a narrow
    //    `content_hash` sidecar under storePath + "_hashes" (written below,
    //    after the store dir), so later batches read ~33 B/doc instead of
    //    re-reading and re-hashing the full text column of the accumulated
    //    store every batch. Per-dir fallback: a store dir with no sidecar
    //    (pre-sidecar or pre-arming store, or a crash between store and
    //    sidecar write) is re-hashed from its text — self-healing, results
    //    identical, mixed stores fine.
    //  - EXCHANGE: once armed, a bloom of the BATCH's own hashes (bounded
    //    by the batch, ~300 KB per 250k docs at 1%) is probed scan-side on
    //    the store hashes, so only the colliding sliver enters the
    //    anti-join exchange and per-batch shuffle tracks the batch, not
    //    the store. A store hash the bloom rejects is a definite
    //    non-member of the batch — it can't anti-delete anything. Null
    //    store hashes can't probe; they stay in the join unconditionally,
    //    preserving the <=> null-equals-null semantics.
    // Below the gate neither pays: the bloom needs two extra per-batch
    // driver actions (pin-count + bloom agg) and the sidecar a write +
    // readback (~0.7 s/batch of job barriers) — an r11 streaming-ingest run
    // measured the unconditional forms costing the 6M-doc/2.4 GB-store exact tier
    // 64→93 s wall while the text they stopped re-scanning was cheap
    // (GenSf1 docs are ~300 B; at production 2-50 KB docs the scan the
    // sidecar bounds is 10-100× the hashes, which is what the gate's 8 GB
    // ≈ 20M-short-doc / 1M-web-doc arming point prices).
    val hashPath = storePath + "_hashes"
    val hconf = spark.sparkContext.hadoopConfiguration
    // trusted = _SUCCESS-marked only (see [[trustedSidecarDirsByTag]]):
    // a partial hash sidecar would silently shrink the anti-join's seen
    // set and let exact duplicates into the store
    val hashDirsByTag = trustedSidecarDirsByTag(spark, hashPath)
    val rawDocDirs = docDirs.filterNot(d => hashDirsByTag.contains(dirTag(d)))
    // the one arming gate for both exact-tier amortizations (see above):
    // total store bytes — per-dir listings cached for the JVM's lifetime
    // ([[cachedDirBytes]]), so a long-lived stream lists each dir once,
    // not every dir every batch
    val storeBytes = docDirs.map(cachedDirBytes(hconf, _)).sum
    val armed = storeBytes >= exactArmMinStoreBytes
    // tombstones ([[removeFromIngestStore]]): removed rows must not
    // suppress a re-ingest of their content. Trusted hash sidecars are
    // tombstone-consistent by construction (removal deletes affected
    // tags' sidecars; re-derivation excludes), so only the RAW primary
    // scans here need the exclusion — None keeps every plan untouched.
    val tombs = tombstonesOf(spark, storePath)
    def primaryMinusTombs(dirs: Seq[String]): DataFrame = {
      val base = spark.read.parquet(dirs: _*)
      tombs.fold(base) { case (t, tidCol) => minusTombstones(base, tidCol, t) }
    }
    val exact0 = exactDedup(batch, idCol, contentCol)
    var pinnedExact0: Option[DataFrame] = None
    val exact = (
      if (docDirs.isEmpty) exact0
      else {
        val hashedDirs = docDirs.filterNot(rawDocDirs.contains)
        val seenAll = Seq(
          if (hashedDirs.nonEmpty) Some(
            spark.read.parquet(hashedDirs.map(d => hashDirsByTag(dirTag(d))): _*)
              .select(col("content_hash").as("__seen_hash")))
          else None,
          if (rawDocDirs.nonEmpty) Some(
            primaryMinusTombs(rawDocDirs)
              .select(md5(col(contentCol)).as("__seen_hash")))
          else None).flatten.reduce(_.unionByName(_))
        if (!armed)
          exact0.join(seenAll.distinct(),
            md5(col(contentCol)) <=> col("__seen_hash"), "left_anti")
        else {
          // pinned: the bloom build and the anti-join probe both evaluate
          // the in-batch dedup; batch-bounded memory, released after
          // `exact` materializes in the phase("exact") count below
          val p = exact0.persist()
          pinnedExact0 = Some(p)
          val nBatch = phase("exact_pin")(p.count())
          if (nBatch == 0L) p
          else {
            val bf = p.select(xxhash64(md5(col(contentCol))).as("__h"))
              .filter(col("__h").isNotNull)
              .stat.bloomFilter("__h", nBatch, 0.01)
            val mightMatch = bloomProbe(spark, bf)
            val seen = seenAll.filter(col("__seen_hash").isNull ||
              mightMatch(xxhash64(col("__seen_hash"))))
            p.join(seen.distinct(), md5(col(contentCol)) <=> col("__seen_hash"), "left_anti")
          }
        }
      }).persist()
    try {
      planAuditHook.foreach(_("ingest_exact", exact))
      phase("exact")(exact.count())
      pinnedExact0.foreach(_.unpersist())
      // HEAL one sidecar-less store dir per armed batch: a crash fragment
      // or pre-sidecar dir otherwise pays the full-text re-hash fallback
      // on EVERY future batch until a compaction happens to run; one
      // narrow scan + write per batch converges in #rawDirs batches and
      // doubles as the in-place upgrade path for pre-sidecar stores
      if (armed) rawDocDirs.headOption.foreach { d =>
        phase("hash_heal")(
          primaryMinusTombs(Seq(d))
            .select(md5(col(contentCol)).as("content_hash"))
            .write.mode("overwrite").parquet(s"$hashPath/${dirTag(d)}"))
      }
      // sidecar writer (armed stores only): hash the JUST-WRITTEN batch dir
      // (one narrow scan of a batch-sized dir) so the sidecar provably
      // mirrors the dir contents — minus tombstones, which can name this
      // tag when an explicit-tag retry follows a removal
      def writeHashSidecar(): Unit = if (armed) phase("hash_write")(
        primaryMinusTombs(Seq(s"$storePath/$tag"))
          .select(md5(col(contentCol)).as("content_hash"))
          .write.mode("overwrite").parquet(s"$hashPath/$tag"))
      // Run IMMEDIATELY BEFORE this tag's store-dir overwrite, closing two
      // retry windows a crash between "overwrite" and "rewrite sidecars /
      // re-invalidate" would otherwise leave open:
      //  - the byte cache could re-cache the tag's PRIOR bytes between a
      //    partially-failed retry's overwrite and its next attempt (the
      //    post-write invalidation below stays — this is the pre-write
      //    half of the same contract);
      //  - a prior COMPLETED attempt's `_SUCCESS`-marked hash/band sidecar
      //    would stay trusted against the dir this retry is about to
      //    rewrite (the fragment hardening covers partial sidecars, not
      //    stale-complete ones). Both sidecars are derivable and HEALED
      //    within a bounded number of batches, so deleting first costs at
      //    most transient fallback scans; the SIG dir is deliberately NOT
      //    deleted — see [[trustedSidecarDirsByTag]]'s replay note.
      def clearStaleTagState(near: Boolean): Unit = {
        invalidateDirBytes(hconf, s"$storePath/$tag")
        def drop(p: String): Unit = {
          val pp = new org.apache.hadoop.fs.Path(p)
          pp.getFileSystem(hconf).delete(pp, true)
        }
        drop(s"$hashPath/$tag")
        if (near) drop(s"${storePath}_bands/$tag")
      }
      nearThreshold match {
        case None =>
          clearStaleTagState(near = false)
          exact.write.mode("overwrite").parquet(s"$storePath/$tag")
          writeHashSidecar()
        case Some(t) =>
          // near tier over non-null text only; null-content rows are
          // exact-tier-only (no shingles to compare). A precomputed sig
          // frame (merge's sidecar reuse) replaces the shingle+minhash
          // scan with a semi-join to the exact tier's survivors.
          val sigs = precomputedSigs
            .map(_.join(exact.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi"))
            .getOrElse(signatureTable(exact.filter(col(contentCol).isNotNull),
              idCol, contentCol, shingleSize, numHashes))
            .persist()
          try {
            if (phaseHook.isDefined)
              phase(if (precomputedSigs.isDefined) "sig_reuse" else "sig_build")(sigs.count())
            val rpb = numHashes / bands
            val dropInBatch = minhashPairsFromSignatures(
              sigs, sigs, bands, rpb, t, selfPairs = true, "id_a", "id_b")
              .select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct()
            // persisted: the cross-store prune evaluates fresh three times
            // (bloom build, band join, verify fetch) — without the pin each
            // evaluation replays the in-batch self band join above.
            // Batch-bounded memory, released in the finally below.
            val fresh = sigs.join(dropInBatch, Seq("doc_id"), "left_anti").persist()
            try {
            // count on the pinned frame: materializes it (the cross-store
            // prune would anyway) and sizes the bucket-prune gate below
            val nFresh = phase("inbatch_band")(fresh.count())
            // Band sidecar plumbing: each ingested batch dir keeps a
            // NARROW precomputed band index (doc_id, band, band_key,
            // bucket) next to its signatures, so the cross-store candidate
            // phase below reads ~20 B/row of ready keys instead of
            // re-reading the store's wide `sig` column and re-running the
            // banding kernel per micro-batch — the one per-batch cost that
            // grew with the store (StreamNearProfile r11: 4→20 s/batch by
            // 4.5M docs). Trusted under _SUCCESS only; a store dir with no
            // (or a partial) band sidecar falls back to banding its sig
            // dir directly — self-healing, mixed stores fine, results
            // identical (the sidecar rows ARE the banding the kernel would
            // produce, just persisted at write time).
            val bandsPath = storePath + "_bands"
            val effBuckets = checkOrWriteBandParams(spark, bandsPath, bandSidecarBuckets)
            val bandsDirByTag = trustedSidecarDirsByTag(spark, bandsPath) - tag
            // frames the bounded verify fetch pins inside
            // minhashPairsFromSignatures; released in the finally below
            val verifyPins = scala.collection.mutable.ListBuffer.empty[DataFrame]
            val dropCross =
              if (sigDirs.nonEmpty) phase("cross_band_cand") {
                val (bandedDirs, rawDirs) =
                  sigDirs.partition(d => bandsDirByTag.contains(dirTag(d)))
                // the batch-dir tag each banded row came from, extracted
                // scan-side (band-sidecar tags == sig-dir tags by layout) —
                // the matched-dir carrier the bounded verify fetch collects.
                // substring_index, not a regex: this evaluates per
                // bloom-surviving sidecar row every micro-batch
                val dirCol = substring_index(
                  substring_index(input_file_name(), "/", -2), "/", 1).as("__dir")
                val preRight = {
                  val sidecarPart =
                    if (bandedDirs.isEmpty) None
                    else {
                      val sidecar0 = spark.read.parquet(
                        bandedDirs.map(d => bandsDirByTag(dirTag(d))): _*)
                      // bucket prune: only computed for a bounded probe — a
                      // streaming batch's key set covers every bucket by
                      // birthday arithmetic, so the distinct-set action
                      // would buy nothing there (the narrow scan is the win)
                      val sidecar =
                        if (nFresh * bands <= effBuckets * 2L) {
                          val bks = fresh.select(
                            posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig")))
                              .as(Seq("band", "band_key")))
                            .select(pmod(xxhash64(col("band"), col("band_key")),
                              lit(effBuckets.toLong)).cast("int").as("bucket"))
                            .distinct().collect().map(_.getInt(0)).toSeq
                          if (bks.size < effBuckets)
                            sidecar0.filter(col("bucket").isin(bks: _*))
                          else sidecar0
                        } else sidecar0
                      Some(sidecar.select(col("doc_id"), col("band"), col("band_key"), dirCol))
                    }
                  val rawPart =
                    if (rawDirs.isEmpty) None
                    else Some(spark.read.parquet(rawDirs: _*).select(col("doc_id"),
                      posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig")))
                        .as(Seq("band", "band_key")), dirCol))
                  // tombstoned docs must stop suppressing near-dups of
                  // their (removed) content: excluded at CANDIDATE
                  // generation, which makes their still-present sig/band
                  // rows inert everywhere downstream (the verify only
                  // fetches join partners for surviving candidates)
                  Seq(sidecarPart, rawPart).flatten.reduceOption(_.unionByName(_))
                    .map(pre => tombs.fold(pre) { case (tFrame, _) =>
                      minusTombstonesTagged(pre, "__dir", "doc_id", tFrame) })
                }
                // the bounded verify fetch's resolver: only the sig dirs
                // that produced candidates, filtered by the chosen id
                // predicate — BETWEEN ranges row-group-prune against the
                // sorted sig layout, the In set against the dirs' doc_id blooms
                val resolver: (Set[String], Option[IdPredicate]) => DataFrame = {
                  (tags, pred) =>
                    val matched = sigDirs.filter(d => tags.contains(dirTag(d)))
                    if (matched.isEmpty) spark.read.parquet(sigDirs.head).limit(0)
                    else applyIdPredicate(spark.read.parquet(matched: _*), pred)
                }
                minhashPairsFromSignatures(
                  fresh,
                  spark.read.parquet(sigDirs: _*),
                  bands, rpb, t,
                  selfPairs = false, "new_id", "seen_id",
                  leftBoundedPrune = true, rightBandedPre = preRight,
                  verifyPrune = Some(VerifyPrune(resolver, df => verifyPins += df)))
                  .select(col("new_id").as("doc_id")).distinct()
              } else fresh.select(col("doc_id")).limit(0)
            val keepSigs = fresh.join(dropCross, Seq("doc_id"), "left_anti").persist()
            try {
              planAuditHook.foreach(_("ingest_keep_sigs", keepSigs))
              // materialize before any store mutation
              val nKeep = phase("cross_band_verify")(keepSigs.count())
              val storeWrite =
                exact.join(keepSigs.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
                .unionByName(exact.filter(col(contentCol).isNull))
              planAuditHook.foreach(_("ingest_store_write", storeWrite))
              clearStaleTagState(near = true)
              phase("store_write")(storeWrite
                .write.mode("overwrite").parquet(s"$storePath/$tag"))
              writeHashSidecar()
              // signatures are hash-valued arrays — see [[noDictOptions]].
              // Sorted by doc_id within each (batch-bounded) partition so
              // every row group carries tight doc_id min/max stats, and
              // bloom-filtered on doc_id ([[sigWriteOptions]]) — the
              // layout half of the verify prune: later batches fetch
              // candidate signatures through an id predicate that
              // row-group-prunes (ranges via stats, uniform-spread In
              // sets via the blooms) instead of scanning the dir.
              phase("sig_write")(keepSigs.sortWithinPartitions("doc_id")
                .write.mode("overwrite").options(sigWriteOptions)
                .parquet(s"$sigPath/$tag"))
              // band sidecar LAST (derivable from the sig dir just
              // written: a crash between the two costs one per-dir
              // fallback re-band on the next batch, never documents or
              // recall). Sorted by bucket so row-group stats prune
              // bounded probes; coalesce keeps the per-batch file count
              // at ~8M narrow rows per file.
              phase("bands_write") {
                // the repartition is a real (small: ~25 B/row, batch-
                // bounded) exchange rather than a coalesce because coalesce
                // would collapse the upstream explode+sort into nOutFiles
                // tasks — measured 41 s/batch serialized vs parallel
                // compute + a cheap narrow shuffle. Width floor 8: the
                // reduce side carries the per-file sort + parquet encode,
                // and a 3.4M-row batch sidecar in ONE reduce task measured
                // 8-10 s/batch vs ~1-2 s at 8 ways; ceiling 16 bounds the
                // file count a long stream accumulates between compactions
                val nOutFiles = math.min(16L, math.max(8L, nKeep * bands / 2000000L)).toInt
                keepSigs.select(col("doc_id"),
                    posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig")))
                      .as(Seq("band", "band_key")))
                  .withColumn("bucket", pmod(xxhash64(col("band"), col("band_key")),
                    lit(effBuckets.toLong)).cast("int"))
                  .repartition(nOutFiles, col("bucket"))
                  .sortWithinPartitions("bucket", "band_key")
                  .write.mode("overwrite")
                  .options(noDictOptionsExcept("doc_id", "band", "bucket"))
                  .parquet(s"$bandsPath/$tag")
              }
              // HEAL one band-sidecar-less sig dir per batch — same
              // bounded-convergence posture as the hash-sidecar heal:
              // a crash fragment or pre-sidecar dir re-bands once here
              // instead of on every future batch's cross-store phase
              sigDirs.filterNot(d => bandsDirByTag.contains(dirTag(d)))
                .headOption.foreach { d =>
                  phase("bands_heal")(
                    spark.read.parquet(d).select(col("doc_id"),
                        posexplode(Kernels.bandKeysKernel(bands, rpb)(col("sig")))
                          .as(Seq("band", "band_key")))
                      .withColumn("bucket", pmod(xxhash64(col("band"), col("band_key")),
                        lit(effBuckets.toLong)).cast("int"))
                      .repartition(8, col("bucket"))
                      .sortWithinPartitions("bucket", "band_key")
                      .write.mode("overwrite")
                      .options(noDictOptionsExcept("doc_id", "band", "bucket"))
                      .parquet(s"$bandsPath/${dirTag(d)}"))
                }
            } finally {
              keepSigs.unpersist()
              verifyPins.foreach(_.unpersist())
            }
            } finally fresh.unpersist()
          } finally sigs.unpersist()
      }
      // a RETRY overwrites this tag's dir with possibly different bytes —
      // later batches must re-list it, not sum a prior attempt's cached
      // size (the pre-write invalidation in clearStaleTagState covers the
      // partially-failed-retry window; this post-write half keeps the
      // completed call's contract)
      invalidateDirBytes(hconf, s"$storePath/$tag")
    } finally exact.unpersist()
  }

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(1.0))
  }

  /** Brute-force n-gram Jaccard pairs within blocking groups — the exact
    * (oracle-checkable) tier: O(block²) so callers must block on cheap keys
    * (e.g. lang+source); the LSH variant above is the unblocked scale path. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], shingleSize: Int,
                        threshold: Double): DataFrame = {
    val sh = df.select(
      (col(idCol).as("doc_id") +: blockCols.map(col)) :+
        Kernels.wordShinglesKernel(shingleSize)(col(textCol)).as("sh"): _*)
    val a = sh.select(blockCols.map(col) :+ col("doc_id").as("id_a") :+ col("sh").as("sh_a"): _*)
    val b = sh.select(blockCols.map(col) :+ col("doc_id").as("id_b") :+ col("sh").as("sh_b"): _*)
    a.join(b, blockCols).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", Kernels.jaccardKernel(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------------------
  // Near-dup clustering: pairs → connected components → survivors
  // -------------------------------------------------------------------------

  /** Connected components over a near-duplicate pair graph via iterative
    * min-label propagation with DELTA (frontier) propagation: each round,
    * only labels that CHANGED last round are offered to neighbors. This is
    * equivalent to the synchronous recipe — an unchanged neighbor label was
    * already offered the round after it became current, and min-adoption is
    * monotone, so re-offering it cannot lower anything further — but after
    * the first round the edge join runs against the shrinking frontier
    * instead of the full label set. At 100-TB graph sizes that difference
    * (rounds × full volume vs rounds × still-moving volume) dominates the
    * whole clustering cost; at the 6M-row soak it is the largest single
    * item. O(diameter) rounds; dup clusters have tiny diameters so the
    * frontier collapses after 2-3.
    * Returns (doc_id, cluster) where cluster is the smallest member id. */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    clusterPairs(pairs, maxIter, ccCollectMaxEdges)

  /** [[clusterPairs]] with the union-find arm's edge budget as an argument:
    * 0 forces the distributed rounds (the differential specs run both arms
    * on one graph). */
  private[graft] def clusterPairs(pairs: DataFrame, maxIter: Int,
                                  collectMaxEdges: Long): DataFrame = {
    // ---- bounded-graph union-find arm (r15 optimization round) ----
    // The distributed rounds price the 100-TB dup graph, but each round is
    // 4-5 shuffles + a lineage-truncation spill + a delta count — ~2 s of
    // fixed job overhead per round on this host, which DOMINATED the
    // measured cost of every bench-scale clustering (sf0.1 dedupSurvivor:
    // CC 6.9 s of an 8.9 s warm wall on a pair set of a few thousand
    // rows; phase-attributed via Dedup.phaseHook). A near-dup graph's
    // edge set is bounded by the VERIFIED pair count — the duplicated
    // fraction of the corpus, orders of magnitude smaller than the corpus
    // itself — so up to `collectMaxEdges` edges (~128 MB of driver
    // longs at the default, the same bounded-driver-materialization class
    // as the ANN centroids and the verify id-set collect) the component
    // fixpoint is computed in one pass of union-find on the driver:
    // collect the DEDUPED edge list with a single take-bounded probe job
    // (limit gate+1 — under the gate that IS the edge list; over it the
    // take stops early), union with
    // min-root-wins so every root IS its component's minimum id, and
    // parallelize the (doc_id, cluster) labels back out. Identical labels
    // by construction — both arms compute per-component min ids — and the
    // differential spec (ExtSpec "clusterPairs union-find arm") pins
    // equality against the distributed arm on the same graph. Non-integral
    // id types and over-gate graphs keep the distributed rounds unchanged.
    val idType = pairs.schema.find(_.name == "id_a").map(_.dataType)
    val integral = idType.exists(t =>
      t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType)
    // the gate probe, when it ran but declined, stays persisted here so the
    // distributed arm's both-direction edge list derives from the already-
    // deduped half-size frame instead of re-distinct-ing the raw pair set
    var seedOnce: Option[DataFrame] = None
    if (integral && collectMaxEdges > 0) {
      val edgesOnce = pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .distinct().persist()
      // ONE bounded probe job: take gate+1 deduped edges. Under the gate the
      // result IS the complete edge list (the r15 form paid a full
      // distinct+count job and then a second collect of the same rows);
      // a (gate+1)-th row proves over-gate with the final aggregation's
      // take stopped early instead of counting all of it.
      // clamp before the +1: a gate of Long.MaxValue must not wrap
      val probeLimit = (math.min(collectMaxEdges, Int.MaxValue - 1L) + 1).toInt
      val probe = phase("cc_edges")(
        edgesOnce.select(col("src").cast("long"), col("dst").cast("long"))
          .limit(probeLimit).collect())
      // null ids: the distributed arm limps through them (null join keys
      // drop out of propagation), a driver getLong would NPE — exact check
      // on the data in hand (under-gate = every row), not on schema
      // nullability, which parquet-sourced ids carry even when all-non-null
      val hasNull = probe.exists(r => r.isNullAt(0) || r.isNullAt(1))
      if (probe.length < probeLimit && !hasNull) {
        val out = phase("cc_unionfind")(
          clusterPairsUnionFind(pairs.sparkSession, probe, idType.get))
        edgesOnce.unpersist()
        System.err.println(s"[graft] clusterPairs: union-find arm " +
          s"(${probe.length} edges <= $collectMaxEdges gate)")
        return out
      }
      seedOnce = Some(edgesOnce)
      System.err.println(s"[graft] clusterPairs: distributed arm " +
        s"(probe ${if (hasNull) "found null ids" else s"exceeded $collectMaxEdges gate"})")
    }
    val once = seedOnce.getOrElse(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    val edges = once
      .unionByName(once.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    var labels = edges.select(col("src").as("doc_id"))
      .distinct().withColumn("cluster", col("doc_id")).persist()
    // round 1's frontier is every node: all initial labels need offering
    var frontier = labels
    var iter = 0
    var moved = phase("cc_init")(frontier.count()) // also materializes labels
    // edges (and through it labels) is materialized now — the declined
    // probe's one-direction frame has served its purpose
    seedOnce.foreach(_.unpersist())
    while (moved > 0 && iter < maxIter) {
      val offers = edges
        .join(frontier.select(col("doc_id").as("dst"), col("cluster").as("nc")), "dst")
        .groupBy(col("src").as("doc_id")).agg(min(col("nc")).as("nmin"))
      val prop = labels.join(offers, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
      // pointer jumping: cluster(v) := min(cluster(v), cluster(cluster(v))).
      // Edge-propagation alone needs O(diameter) rounds, and edit-tiered
      // duplicate chains (A ~ A' ~ A'' where A !~ A'') give dup graphs real
      // diameters — the sf0.1 soak's size-31 chain cost ~30 sub-second
      // rounds whose fixed job overhead dominated the whole workload. One
      // label-table self-join per round halves remaining chain length
      // exponentially, so total rounds track log(diameter). Labels only
      // decrease and every label IS a member node's id, so jumping through
      // it preserves the component-min fixpoint.
      // spill = per-round lineage truncation (the checkpoint-interval every
      // distributed CC needs): the jump's double self-reference would
      // otherwise DOUBLE the logical plan per round — exponential analyzer
      // cost — and even the propagation-only plan grew linearly, which is
      // what made 30 chain rounds cost ~80 s of sub-second jobs. Scratch
      // holds one labels table per round (deleted at JVM exit).
      val next = phase("cc_round")(spill(prop.as("l")
        .join(prop.select(col("doc_id").as("__c"), col("cluster").as("__cc")).as("r"),
          col("l.cluster") === col("__c"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.cluster"), coalesce(col("__cc"), col("l.cluster"))).as("cluster")),
        "graft-cc-round"))
      val changed = next
        .join(labels.select(col("doc_id"), col("cluster").as("__prev")), "doc_id")
        .filter(col("cluster") < col("__prev"))
        .select(col("doc_id"), col("cluster")).persist()
      moved = phase("cc_delta")(changed.count())
      iter += 1
      labels.unpersist()
      if (frontier ne labels) frontier.unpersist()
      labels = next
      frontier = changed
      if (moved == 0) changed.unpersist()
    }
    System.err.println(s"[graft] clusterPairs: converged in $iter rounds" +
      s" (frontier empty=${moved == 0}, maxIter=$maxIter)")
    edges.unpersist()
    // Materialize the final labels so the last persist can be released too —
    // recomputing them lazily would replay every propagation round.
    val out = spill(labels, "graft-cc-labels")
    labels.unpersist()
    if (frontier ne labels) frontier.unpersist()
    out
  }

  /** The driver-side union-find behind [[clusterPairs]]' bounded-graph
    * arm: dense-index the ids, union with min-id-root-wins (so every
    * root IS its component's minimum id — the same fixpoint the
    * distributed min-propagation converges to), path-halving finds keep
    * it near-linear. Labels are parallelized back out (an RDD, not a
    * LocalRelation, so the plan stays small and downstream joins see an
    * ordinary scannable frame) and cast back to the pairs' id type. */
  private def clusterPairsUnionFind(spark: org.apache.spark.sql.SparkSession,
                                    rows: Array[org.apache.spark.sql.Row],
                                    idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val idx = new scala.collection.mutable.LongMap[Int](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](rows.length)
    var parent = new Array[Int](math.max(16, rows.length))
    def indexOf(v: Long): Int = idx.getOrElse(v, {
      val i = ids.length
      ids += v
      if (i >= parent.length) parent = java.util.Arrays.copyOf(parent, parent.length * 2)
      parent(i) = i
      idx.update(v, i)
      i
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      val ra = find(indexOf(row.getLong(0)))
      val rb = find(indexOf(row.getLong(1)))
      if (ra != rb) {
        // min-id root wins: the surviving root is the component minimum
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
      r += 1
    }
    val n = ids.length
    val labels = new Array[org.apache.spark.sql.Row](n)
    var i = 0
    while (i < n) {
      labels(i) = org.apache.spark.sql.Row(ids(i), ids(find(i)))
      i += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster", org.apache.spark.sql.types.LongType, nullable = false)))
    val slices = math.max(1, n / 2000000)
    spark.createDataFrame(spark.sparkContext.parallelize(labels.toIndexedSeq, slices), schema)
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster").cast(idType).as("cluster"))
  }

  /** Duplicate-cluster size report — what you inspect BEFORE committing a
    * dedup run at scale: one row per cluster size with how many clusters
    * and documents sit at that size (a heavy tail or one giant cluster
    * means the threshold, shingle size, or a boilerplate pattern needs
    * attention, and predicts the skew the in-cluster joins will see).
    * Covers documents that appear in `pairs` — singletons by definition
    * join no cluster. Two keyed aggregations over [[clusterPairs]] labels.
    *
    * @return rows of (size, n_clusters, n_docs = size * n_clusters). */
  def clusterStats(pairs: DataFrame): DataFrame =
    clusterPairs(pairs)
      .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", (col("size") * col("n_clusters")).cast("long"))

  /** Full near-dup dedup: MinHash-LSH pairs → connected components → keep
    * the smallest doc id per cluster (plus all documents that joined no
    * cluster). The end-to-end shape a training-data pipeline runs. */
  def dedupNear(df: DataFrame, idCol: String, textCol: String,
                shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleSize, numHashes, bands, threshold)
    val clusters = clusterPairs(pairs)
    // loser ids are bounded by the pair set but arrive fused — materialize
    // so the anti join back over the full (text-carrying) corpus plans
    // from the true size instead of an AQE estimate (see [[spillSized]])
    val losers = spillSized(clusters.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id")), "graft-neardup-losers")
    df.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** Exact-tier near-dup dedup: blocked brute-force Jaccard pairs →
    * connected components → keep the smallest doc id per cluster. Same
    * shape as [[dedupNear]] but with deterministic exact pair generation
    * (O(block²), caller must block) — the oracle-checkable tier. */
  def dedupNearExact(df: DataFrame, idCol: String, textCol: String,
                     blockCols: Seq[String], shingleSize: Int = 3,
                     threshold: Double = 0.8): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, blockCols, shingleSize, threshold)
    val clusters = clusterPairs(pairs)
    val losers = spillSized(clusters.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id")), "graft-neardup-losers")
    df.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** Survivor selection with an explicit quality policy: given cluster
    * labels from [[clusterPairs]], keep per cluster the member with the
    * HIGHEST `priority` (smallest id on ties) instead of [[dedupNear]]'s
    * smallest-id convention — the FineWeb/RefinedWeb posture of retaining
    * the best representative (longest document, highest quality score) of
    * each duplicate group. Documents in no cluster pass through untouched.
    *
    * Cost: one per-cluster window over the cluster-MEMBER table (bounded
    * by the pair set, not the corpus) + the usual anti join back. */
  def keepBestPerCluster(df: DataFrame, idCol: String, clusters: DataFrame,
                         priority: Column): DataFrame = {
    val members = df.select(col(idCol), priority.as("__pri"))
      .join(clusters.withColumnRenamed("doc_id", idCol), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("__pri").desc, col(idCol).asc)
    // the loser set is pair-set-bounded but fused through the window —
    // materialize so the corpus-wide anti join plans from its true size
    // (a sort-merge fallback here shuffles the whole text-carrying corpus)
    val losers = spillSized(members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col(idCol)), "graft-survivor-losers")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupNear]] with [[keepBestPerCluster]] survivor selection. */
  def dedupNearBy(df: DataFrame, idCol: String, textCol: String,
                  priority: Column, shingleSize: Int = 3, numHashes: Int = 64,
                  bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleSize, numHashes, bands, threshold)
    keepBestPerCluster(df, idCol, clusterPairs(pairs), priority)
  }

  /** Exact-tier companion of [[dedupNearBy]] (deterministic O(block²)
    * pair generation — the oracle-checkable tier, like [[dedupNearExact]]). */
  def dedupNearExactBy(df: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], priority: Column,
                       shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, blockCols, shingleSize, threshold)
    keepBestPerCluster(df, idCol, clusterPairs(pairs), priority)
  }

  // -------------------------------------------------------------------------
  // Partial duplicates via content-defined chunking
  // -------------------------------------------------------------------------

  /** Partial/contained duplicate pairs: documents sharing at least
    * `minShared` content-defined chunks (rolling-hash boundaries, see
    * [[Kernels.chunkHashesKernel]]). Catches the cases whole-document
    * Jaccard misses — a long quote, a copied section, containment — because
    * shared regions keep identical chunk hashes regardless of surrounding
    * edits. Candidate generation is an equi-join on the chunk hash; the
    * shared count itself is the signal, so there is no re-read verify pass.
    * Returns (id_a, id_b, shared_chunks). */
  def chunkOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                        window: Int = 32, maskBits: Int = 6,
                        minShared: Int = 2): DataFrame = {
    val chunks = df.select(col(idCol).as("doc_id"),
      explode(array_distinct(Kernels.chunkHashesKernel(window, maskBits)(col(textCol)))).as("chunk"))
    val a = chunks.select(col("chunk"), col("doc_id").as("id_a"))
    val b = chunks.select(col("chunk"), col("doc_id").as("id_b"))
    a.join(b, "chunk").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
  }

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: split the 64-bit signature into equal segments
    * and bucket on each (pigeonhole: a pair within Hamming distance d must
    * agree exactly on at least one of s segments whenever d < s), then
    * verify the true Hamming distance. The segment count is the smallest
    * power of two > maxHamming, so recall is exact for the requested radius.
    * Equi-join candidate generation, no cross join.
    * `md5Compat` switches the per-token hash to the MD5-derived kernel,
    * reproducible outside the JVM (used by the oracle gate). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, md5Compat: Boolean = false): DataFrame = {
    val segments = Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxHamming).getOrElse(64)
    val width = 64 / segments
    val mask = if (width == 64) -1L else (1L << width) - 1
    val kernel = if (md5Compat) Kernels.simhashKernelMd5 else Kernels.simhashKernel
    val sigs = df.select(col(idCol).as("doc_id"),
      kernel(TextFunctions.tokens(col(textCol))).as("sig"))
    val quarters = sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(segments - 1)),
        q => call_function("shiftright", col("sig"), (q * width).cast("int")).bitwiseAND(lit(mask))))
        .as(Seq("q", "qkey")))
    val a = quarters.select(col("q"), col("qkey"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = quarters.select(col("q"), col("qkey"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("q", "qkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------------
  // Embedding near-dup
  // -------------------------------------------------------------------------

  /** Near-duplicate pairs by embedding cosine ≥ threshold. Blocked by LSH
    * sign-buckets when `planes` > 0 (random hyperplanes, `tables`
    * independent bucketings, one equi-join on (table, bucket)); planes = 0
    * falls back to the exact all-pairs comparison (oracle cross-check tier,
    * small inputs only). More tables raises recall (a pair is a candidate
    * if it agrees in ANY table: miss probability (1−(1−θ/π)^planes)^tables),
    * fewer planes widens buckets; the gate uses few-planes/many-tables so
    * recall is effectively total and the brute-force oracle hash matches.
    * Returns (id_a, id_b, cos) with id_a < id_b. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Int = 0, tables: Int = 1,
                            seed: Long = 42L, dim: Int = 64): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    // norms hoisted per vector (see [[semDedup]]): bit-for-bit the fused
    // cosine at 1/3 of the per-candidate flops
    val base = df.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("__nrm", sqrt(GraftFunctions.dot(col("v"), col("v"))))
    val candidates =
      if (planes <= 0) {
        val a = base.select(col("vid").as("id_a"), col("v").as("v_a"), col("__nrm").as("n_a"))
        val b = base.select(col("vid").as("id_b"), col("v").as("v_b"), col("__nrm").as("n_b"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
      } else {
        val bucketed = base.select(col("vid"), col("v"), col("__nrm"),
          posexplode(Kernels.hyperplaneBucketsKernel(planes, tables, dim, seed)(col("v")))
            .as(Seq("t", "bucket")))
        val a = bucketed.select(col("t"), col("bucket"), col("vid").as("id_a"),
          col("v").as("v_a"), col("__nrm").as("n_a"))
        val b = bucketed.select(col("t"), col("bucket"), col("vid").as("id_b"),
          col("v").as("v_b"), col("__nrm").as("n_b"))
        a.join(b, Seq("t", "bucket")).filter(col("id_a") < col("id_b"))
          .drop("t", "bucket")
      }
    candidates
      .withColumn("cos", when(col("n_a") * col("n_b") > 0,
        GraftFunctions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public recipe):
    * semantic dedup over an embedding column. K-means clusters the corpus,
    * near-duplicate pairs are found only WITHIN each cluster
    * (cos ≥ threshold), and every connected component keeps its smallest
    * id (a deterministic stand-in for the paper's keep-one policy).
    *
    * The cluster restriction is the scale lever: candidate generation is an
    * equi-join on the cluster id (expected block size n/k) instead of an
    * all-pairs comparison, which is how the recipe runs on billion-document
    * corpora; pairs straddling a cluster boundary are missed by design (the
    * paper's recall/cost trade). `k = 1` disables the restriction — the
    * exact global tier the oracle gates. Returns the surviving rows. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
               threshold: Double, iterations: Int = 1, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val centroids = Similarity.kmeansTrain(df, idCol, vecCol, k, iterations, seed)
    // Norms hoisted out of the O(cluster²) pair sweep: each vector's
    // sqrt(dot(v,v)) is computed ONCE here, and the pair stage divides the
    // pair dot by the norm product — bit-for-bit the fused cosine (same
    // ascending summation, same sqrt(na)*sqrt(nb) product) at 1/3 of the
    // per-pair flops. A zero-norm vector keeps cosine's null semantics via
    // the d > 0 guard below.
    val assigned = spill(df.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("__cluster", Similarity.kmeansAssign(col("v"), centroids))
      .withColumn("__nrm", sqrt(GraftFunctions.dot(col("v"), col("v")))),
      "graft-semdedup-assign")
    val a = assigned.select(col("__cluster"), col("vid").as("id_a"),
      col("v").as("v_a"), col("__nrm").as("n_a"))
    val b = assigned.select(col("__cluster"), col("vid").as("id_b"),
      col("v").as("v_b"), col("__nrm").as("n_b"))
    val pairs = a.join(b, Seq("__cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", when(col("n_a") * col("n_b") > 0,
        GraftFunctions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
    val losers = spillSized(clusterPairs(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as(idCol)), "graft-semdedup-losers")
    df.join(losers, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------------
  // Line-level dedup (CCNet-style boilerplate removal)
  // -------------------------------------------------------------------------

  /** Remove lines that repeat across the corpus — the CCNet recipe that
    * strips navigation chrome, cookie banners and signature blocks which
    * whole-document dedup can't see. A line is dropped from EVERY document
    * when its corpus-wide occurrence count exceeds `maxCount`; surviving
    * lines are reassembled in their original order.
    *
    * Lines are compared after trimming; blank lines are dropped outright
    * (they carry no content and their counts would swamp the threshold).
    *
    * Plan shape: explode to (line, position) — narrow — then ONE aggregation
    * keyed on the line text for corpus counts, a shuffle whose key space is
    * the distinct-line set; the count frame joins back by line (hash join,
    * same key) and documents reassemble with a sort-within-group collect,
    * keyed on the document id. No global ordering anywhere. At heavy skew
    * (one line in half the corpus) AQE's skew handling splits the hot key;
    * the aggregation itself is a partial/final pair so the hot line arrives
    * pre-combined.
    *
    * @return one row per input document: `clean_text` (kept lines joined
    *         with newline, "" when everything was boilerplate), `n_lines`
    *         (non-blank input lines), `n_removed`. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxCount: Long = 1L, sepRegex: String = "\n",
                joinStr: String = "\n"): DataFrame = {
    require(maxCount >= 1, s"maxCount must be >= 1, got $maxCount")
    // Spilled: BOTH branches below (corpus counts + reassembly join) read
    // the exploded line table, which otherwise re-splits every document
    // twice; the spill's metadata row count also prices the line-keyed
    // shuffle for free, and the repartition feeds the groupBy and the join
    // back with ONE exchange sized to the data ([[scaledParts]] — the line
    // key space is near-unique, the same spill-prone shape as the span
    // cut's grams).
    val lines0 = spill(df
      .select(col(idCol),
        posexplode(filter(transform(split(col(textCol), sepRegex), l => trim(l)),
          l => l =!= "")).as(Seq("__pos", "__line"))),
      "graft-linededup-lines")
    val lines = lines0.repartition(
      scaledParts(df.sparkSession, lines0.count()), col("__line"))
    val counts = lines.groupBy(col("__line")).agg(count(lit(1)).as("__cnt"))
    val kept = lines.join(counts, Seq("__line"))
      .withColumn("__keep", col("__cnt") <= maxCount)
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__line"))))),
          s => s.getField("__line")), joinStr).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"))
    // documents that were entirely blank never produced a line row — restore
    // them with an empty clean_text so the output stays one row per input
    df.select(col(idCol)).distinct()
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Paragraph-grain [[lineDedup]]: units are blank-line-separated blocks,
    * the granularity at which templated page sections (footers, legal
    * blocks, repeated intros) recur verbatim while individual lines might
    * not. Same corpus-count plan shape; survivors reassemble with a blank
    * line between paragraphs. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     maxCount: Long = 1L): DataFrame =
    lineDedup(df, idCol, textCol, maxCount, sepRegex = "\n{2,}", joinStr = "\n\n")

  /** Cross-document duplicated-span REMOVAL — the transform companion of
    * [[TextFunctions.dupNgramFraction]] (which only measures): every token
    * covered by a word `n`-gram that also occurs in at least one OTHER
    * document is cut, the practical distributed form of exact-substring
    * dedup (Lee et al. 2021; FineWeb removes such spans rather than whole
    * documents). Token grain: the result is the kept token sequence, not a
    * byte-offset splice of the raw text — spans are judged on the same
    * lowercased `\W+` tokens every other text tier here uses.
    *
    * Plan shape: one positional gram explode per document, one count
    * aggregation keyed on the gram (partial/final combine, so hot
    * boilerplate grams pre-combine map-side), a join back on the same key,
    * one per-document aggregation of duplicated start positions, and a
    * scan-side coverage filter. Two keyed shuffles, no windows; per-row
    * work is |tokens|·|dup starts| with both factors document-bounded.
    *
    * @return one row per document: cleaned token text, `n_tokens`,
    *         `n_removed` (tokens cut). Documents shorter than `n` tokens
    *         have no grams and pass through whole. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val spark = df.sparkSession
    val base = spill(
      df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks")),
      "graft-dupspan-toks")
    // The gram-keyed shuffles are sized to the GRAM COUNT ([[scaledParts]]):
    // at sf1 this operator pushes ~350M gram rows with a near-unique key
    // space through groupBy+join, priced by one column-pruned count over
    // the spilled token table.
    val nGramRows = base
      .agg(sum(greatest(size(col("__toks")) - (n - 1), lit(0)))).first().getLong(0)
    val grams = positionalGrams(base, idCol, n)
      .repartition(scaledParts(spark, nGramRows), col("__g"))
    // "appears in >= 2 DISTINCT documents" is exactly min(id) != max(id) —
    // two streaming aggregates with full map-side partial combine, where
    // countDistinct would carry a per-gram distinct-id set through the
    // shuffle (an Expand + second aggregate) for a predicate that only ever
    // asks "more than one?". The groupBy and the join back both reuse the
    // explicit __g partitioning — one exchange feeds all three.
    val hot = grams.groupBy(col("__g"))
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
      .filter(col("__lo") =!= col("__hi")).select(col("__g"))
    val dupStarts = grams.join(hot, Seq("__g"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__s"))).as("__starts"))
    // the hit subtree executes eagerly inside cutCoveredSpans' materialize,
    // leaving the returned frame's lineage without the gram exchanges —
    // hand it to the audit hook so the plan-shape spec still sees it
    planAuditHook.foreach(_("dupspans_hits", dupStarts))
    cutCoveredSpans(base, idCol, dupStarts, n)
  }

  /** Positional word n-grams of a `(idCol, __toks)` frame: one row per
    * gram start `(idCol, __s, __g)` — the shared grain of the span-cut
    * operators (cross-document dup spans here, eval-overlap spans in
    * [[Decontamination.removeContaminatedSpans]]).
    *
    * `__g` is a 128-bit content fingerprint (two independently-seeded
    * xxhash64 runs over the token slice), NOT the joined gram string: both
    * consumers only ever test gram EQUALITY (a count-keyed self-join here,
    * a broadcast eval-gram join in decontamination), and at corpus scale
    * the gram column dominates the two biggest shuffles of the whole
    * operator — one row per token position, each previously carrying an
    * `n`-word string (~50+ B for n=8 prose) now carries 16 B and skips the
    * per-position string allocation entirely. Collision math: P(any two of
    * G distinct grams colliding on both hashes) ≈ G²/2^129 — ~6e-13 even
    * at G = 2e13 (a 100-TB corpus), vs an expected ~1e7 collisions for a
    * single 64-bit hash at that size. Fingerprints come from
    * [[Kernels.positionalGramHashKernel]], which char-hashes each token
    * once per seed and folds pre-hashed longs per position — the
    * declarative `xxhash64(slice(...))` form it replaces re-hashed every
    * token n× and allocated two slice copies per position (the dominant
    * scan-side CPU of the span-cut operators at sf1). */
  private[ext] def positionalGrams(base: DataFrame, idCol: String,
                                   n: Int): DataFrame =
    base.filter(size(col("__toks")) >= n)
      .select(col(idCol),
        posexplode(Kernels.positionalGramHashKernel(n)(col("__toks")))
          .as(Seq("__s", "__g")))

  /** Cut every token covered by a length-`n` span starting at any position
    * in `hitStarts` (`(idCol, __starts)`; docs absent from it pass whole):
    * token p dies iff some start s satisfies p-(n-1) <= s <= p. The ONE
    * copy of the coverage interval arithmetic both span-cut operators
    * share — returns `(idCol, cleaned_text, n_tokens, n_removed)`.
    *
    * The cut itself is [[Kernels.spanCutKernel]] — gap slicing between
    * covered runs (`__starts` is sorted and every span has length `n`, so
    * coverage is a union of runs breaking exactly where consecutive starts
    * gap by more than `n`) as one straight-line JVM loop,
    * O(|starts| + |tokens|) per document. Two declarative formulations
    * were benched and replaced: a per-token `exists` over starts
    * (O(T·|starts|) ≈ T² on dup-heavy text) and the same gap slicing via
    * filter/sequence/slice higher-order functions, which priced the
    * interpreted per-element expression-tree walk at ~2,900 CPU-s for the
    * sf1 corpus where the loop costs a few hundred. */
  private[ext] def cutCoveredSpans(base: DataFrame, idCol: String,
                                   hitStarts: DataFrame, n: Int): DataFrame = {
    // The hit set arrives as a fused subtree (gram explode → join →
    // aggregate) whose size AQE can only estimate — and the OTHER side of
    // this join is the full corpus carrying its token arrays, so an
    // estimate landing on the sort-merge side of the threshold shuffles
    // and sorts every document for an identical answer. [[spillSized]]
    // makes the strategy deterministic: hit sets are one id + int-array
    // row per affected document (dup/contamination fraction of the
    // corpus, parquet-delta-packed), so the common case broadcasts and
    // `base` never crosses an exchange at all. Both callers are batch
    // operators (no per-micro-batch caller to accumulate scratch).
    val cut = Kernels.spanCutKernel(n)(col("__toks"), col("__starts"))
    base.join(spillSized(hitStarts, "graft-spancut-hits"), Seq(idCol), "left")
      .withColumn("__cut", cut)
      .select(col(idCol),
        col("__cut.cleaned_text").as("cleaned_text"),
        col("__cut.n_tokens").as("n_tokens"),
        col("__cut.n_removed").as("n_removed"))
  }
}
