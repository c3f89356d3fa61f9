package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data step that removes documents
  * overlapping a held-out evaluation set, so the model isn't graded on text
  * it memorized. The standard public recipe (GPT-3 appendix C, The Pile,
  * FineWeb) flags a document when any word n-gram (n≈13) also occurs in the
  * eval set.
  *
  * Plan shape at 100 TB: the eval side is benchmark-sized (thousands of
  * documents, millions of n-grams at most), so its distinct n-gram set is
  * BROADCAST; the corpus side is one narrow scan + explode feeding a
  * broadcast hash join, then a single hash aggregation back to document
  * grain. The corpus is never shuffled by n-gram — the only exchange is the
  * per-document count, keyed on the document id.
  */
object Decontamination {

  /** Per-document contamination report against `eval`.
    *
    * N-grams are [[TextFunctions.wordShingles]] (lowercased word tokens,
    * distinct within a document; a document shorter than `n` tokens
    * contributes its whole token sequence as one gram, so short eval rows
    * still match verbatim copies).
    *
    * Shingling runs through [[Kernels.wordShinglesKernel]] — one JVM pass
    * per document instead of the interpreted higher-order-function tree the
    * declarative form plans (the HOF path measured ~30× slower per row on
    * the bench corpus; same shingle sets by construction). `n_ngrams` is
    * counted from the exploded rows, so the shingle array is built exactly
    * once per document.
    *
    * @return one row per input document: `n_ngrams` (distinct grams in the
    *         doc), `n_hits` (how many of them occur anywhere in the eval
    *         set), `contaminated` (`n_hits >= minHits`). */
  def flagContaminated(docs: DataFrame, idCol: String, textCol: String,
                       eval: DataFrame, evalTextCol: String,
                       n: Int = 13, minHits: Int = 1): DataFrame = {
    require(n > 0 && minHits > 0, s"n=$n and minHits=$minHits must be positive")
    val shingle = Kernels.wordShinglesKernel(n)
    val evalGrams = eval
      .select(explode(shingle(col(evalTextCol))).as("__g"))
      .distinct()
    val docGrams = docs.select(col(idCol), explode(shingle(col(textCol))).as("__g"))
    docGrams
      .join(broadcast(evalGrams.withColumn("__hit", lit(1))), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"), count(col("__hit")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** The filter form: drops contaminated documents, keeps everything else
    * untouched (columns pass through). */
  def removeContaminated(docs: DataFrame, idCol: String, textCol: String,
                         eval: DataFrame, evalTextCol: String,
                         n: Int = 13, minHits: Int = 1): DataFrame = {
    // the flagged-id set is contamination-fraction-small but fused through
    // a corpus-wide aggregate — materialize so the anti join back over the
    // full text-carrying corpus plans from its true size, not an AQE
    // estimate (see Dedup.spillSized)
    val flags = Dedup.spillSized(
      flagContaminated(docs, idCol, textCol, eval, evalTextCol, n, minHits)
        .filter(col("contaminated")).select(col(idCol)), "graft-decontam-flags")
    docs.join(flags, Seq(idCol), "left_anti")
  }

  /** Span-grain decontamination: cut exactly the tokens covered by an
    * eval-set word n-gram instead of dropping the document whole — the
    * treatment for a long, otherwise-good document that shares only a
    * quoted benchmark passage with the eval set ([[Dedup.removeDupSpans]]'s
    * surgical cut applied across the train/eval boundary).
    *
    * Same plan posture as [[flagContaminated]]: the eval side's distinct
    * n-grams are benchmark-sized and BROADCAST; the corpus side is one
    * scan + positional explode into a broadcast hash join, then one
    * id-keyed aggregation of matching start positions — the corpus is
    * never shuffled by n-gram. The cut itself is scan-side array work
    * bounded per document.
    *
    * Matching is fixed-length only: eval documents shorter than `n`
    * tokens contribute no grams here (use [[removeContaminated]]'s
    * whole-sequence short-row handling when verbatim short eval rows
    * matter); corpus documents shorter than `n` pass through whole.
    *
    * @return one row per input document: `cleaned_text` (space-joined
    *         surviving tokens), `n_tokens`, `n_removed`. */
  def removeContaminatedSpans(docs: DataFrame, idCol: String, textCol: String,
                              eval: DataFrame, evalTextCol: String,
                              n: Int = 13): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val base = Dedup.spill(
      docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks")),
      "graft-decontspan-toks")
    val evalGrams = Dedup.positionalGrams(
      eval.select(lit(0L).as("__eid"),
        TextFunctions.tokens(col(evalTextCol)).as("__toks")), "__eid", n)
      .select(col("__g")).distinct()
    val hitStarts = Dedup.positionalGrams(base, idCol, n)
      .join(broadcast(evalGrams), Seq("__g"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__s"))).as("__starts"))
    Dedup.cutCoveredSpans(base, idCol, hitStarts, n)
  }

  /** Semantic decontamination: flag corpus documents whose EMBEDDING is
    * within `threshold` cosine of any eval-set embedding — catches
    * paraphrased leakage the n-gram tiers can't see (the SemDeDup insight
    * applied across the train/eval boundary).
    *
    * `planes = 0` is the exact bipartite tier (corpus × eval cosine —
    * eval is benchmark-sized, so Spark broadcasts it and the "cross join"
    * is one broadcast nested loop over a single corpus scan). `planes > 0`
    * buckets BOTH sides with the seeded hyperplane LSH
    * ([[Dedup.embeddingNearDupPairs]]'s scale lever) and equi-joins on
    * (table, bucket) — the shape for eval sets too big to broadcast.
    *
    * @return one row per flagged corpus id: `(idCol, max_cos)`. */
  def flagSemantic(corpusEmb: DataFrame, idCol: String, vecCol: String,
                   evalEmb: DataFrame, evalVecCol: String,
                   threshold: Double, planes: Int = 0, tables: Int = 32,
                   dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val c = corpusEmb.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val e = evalEmb.select(col(evalVecCol).as("__ev"))
    val candidates =
      if (planes <= 0) c.crossJoin(broadcast(e))
      else {
        val bucket = Kernels.hyperplaneBucketsKernel(planes, tables, dim, seed)
        val cb = c.select(col("__cid"), col("__cv"),
          posexplode(bucket(col("__cv"))).as(Seq("__t", "__b")))
        val eb = e.select(col("__ev"),
          posexplode(bucket(col("__ev"))).as(Seq("__t", "__b")))
        cb.join(eb, Seq("__t", "__b")).drop("__t", "__b")
      }
    candidates
      .withColumn("__cos", graft.exprs.catalyst.GraftFunctions.cosine(col("__cv"), col("__ev")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("__cid"))
      .agg(max(col("__cos")).as("max_cos"))
      .select(col("__cid").as(idCol), col("max_cos"))
  }

  /** The filter form of [[flagSemantic]]: drops corpus rows whose embedding
    * is within `threshold` cosine of any eval embedding; columns pass
    * through untouched. */
  def removeSemantic(corpusEmb: DataFrame, idCol: String, vecCol: String,
                     evalEmb: DataFrame, evalVecCol: String,
                     threshold: Double, planes: Int = 0, tables: Int = 32,
                     dim: Int = 64, seed: Long = 42L): DataFrame = {
    val flagged = Dedup.spillSized(
      flagSemantic(corpusEmb, idCol, vecCol, evalEmb, evalVecCol,
        threshold, planes, tables, dim, seed).select(col(idCol)),
      "graft-decontam-flags")
    corpusEmb.join(flagged, Seq(idCol), "left_anti")
  }

  /** Fuzzy decontamination: flag corpus documents whose shingle-set Jaccard
    * similarity to ANY eval document reaches `threshold` — the tier between
    * [[flagContaminated]] (any single shared n-gram) and [[flagSemantic]]
    * (embedding cosine). This is the document-level overlap definition the
    * public near-dup-decontamination recipes use (FineWeb / Dolma style:
    * "drop training docs that are near-duplicates of an eval doc").
    *
    * Plan shape: both sides run through [[Dedup.signatureTable]] (hashed
    * shingles + MinHash signatures — 8 bytes per shingle in every exchange),
    * candidates come from the banded LSH equi-join on (band, band_key), and
    * each candidate pair is verified with EXACT Jaccard over the hashed
    * shingle sets, so band collisions never inflate the answer. The corpus
    * is shuffled only on band keys and candidate ids — never all-pairs; the
    * eval side is benchmark-sized. Band parameters set the recall knee
    * exactly as in [[Dedup.minhashLshPairs]] (16 bands × 4 rows ⇒ miss
    * probability (1−j⁴)¹⁶, ≈1e−12 at j=0.95).
    *
    * @return one row per flagged corpus id: `(idCol, max_jaccard)`. */
  def flagFuzzy(docs: DataFrame, idCol: String, textCol: String,
                eval: DataFrame, evalTextCol: String,
                shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val corpusSigs = Dedup.spill(
      Dedup.signatureTable(docs, idCol, textCol, shingleSize, numHashes, seed),
      "graft-decontam-fuzzy-corpus")
    // The eval id only needs to be unique (the verify join keys on it; the
    // output aggregates it away), so a synthesized id is safe here.
    val evalWithId = eval.select(col(evalTextCol))
      .withColumn("__evalid", monotonically_increasing_id())
    val evalSigs = Dedup.spill(
      Dedup.signatureTable(evalWithId, "__evalid", evalTextCol, shingleSize,
        numHashes, seed),
      "graft-decontam-fuzzy-eval")
    Dedup.minhashPairsFromSignatures(corpusSigs, evalSigs, bands, numHashes / bands,
      threshold, selfPairs = false, "__cid", "__eid", materializeCandidates = true)
      .groupBy(col("__cid"))
      .agg(max(col("jaccard")).as("max_jaccard"))
      .select(col("__cid").as(idCol), col("max_jaccard"))
  }

  /** The filter form of [[flagFuzzy]]: drops corpus rows near-duplicating
    * any eval document; columns pass through untouched. */
  def removeFuzzy(docs: DataFrame, idCol: String, textCol: String,
                  eval: DataFrame, evalTextCol: String,
                  shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                  threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val flagged = Dedup.spillSized(
      flagFuzzy(docs, idCol, textCol, eval, evalTextCol,
        shingleSize, numHashes, bands, threshold, seed).select(col(idCol)),
      "graft-decontam-flags")
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /** Bloom-filter variant of [[flagContaminated]] for eval sets whose
    * distinct-gram table is too big to broadcast exactly: the grams are
    * folded into a Bloom filter (`expectedGrams` capacity, `fpp` false-
    * positive rate — ~12 MB for 10M grams at 1%, a 10-50× smaller broadcast
    * than the exact string set) and the corpus probes it per gram.
    *
    * False positives flag a small fraction of CLEAN documents as
    * contaminated — the conservative direction for decontamination (you
    * drop slightly more than needed, never keep a contaminated doc that
    * the exact tier would drop). The filter build is deterministic for a
    * given input, but the bit pattern is Spark's implementation detail, so
    * this tier is gated by spec + a rows-only driver check rather than a
    * cross-engine oracle.
    *
    * Plan shape: the eval side reduces to one driver-bounded Bloom filter
    * (same bounded-materialization class as the ANN centroids), embedded as
    * a foldable binary literal; the corpus side stays one scan + explode +
    * hash aggregate keyed on the document id. The probe is Spark's
    * codegen'd `BloomFilterMightContain` bit test over `xxhash64` of the
    * gram — no row-at-a-time UDF, no join at all, where the exact tier
    * pays a broadcast hash join. */
  def flagContaminatedBloom(docs: DataFrame, idCol: String, textCol: String,
                            eval: DataFrame, evalTextCol: String,
                            n: Int = 13, minHits: Int = 1,
                            expectedGrams: Long = 10000000L,
                            fpp: Double = 0.01): DataFrame = {
    flagContaminatedBloom(docs, idCol, textCol,
      evalGramBloom(eval, evalTextCol, n, expectedGrams, fpp), n, minHits)
  }

  /** Per-benchmark contamination report — the overlap table a data card
    * publishes (GPT-3 appendix C, The Pile §6): one row per eval set with
    * how many corpus documents share at least `minHits` word n-grams with
    * it. All eval sets are checked in ONE plan: their tagged distinct
    * grams union into a single broadcast, the corpus is scanned and
    * exploded once, and two keyed aggregations produce the table — adding
    * an eval set adds broadcast bytes, not corpus passes.
    *
    * @return one row per `evals` key (zero-contamination sets included):
    *         `(eval_name, n_contaminated, n_docs, contamination_rate)`. */
  def report(docs: DataFrame, idCol: String, textCol: String,
             evals: Map[String, DataFrame], evalTextCol: String,
             n: Int = 13, minHits: Int = 1): DataFrame = {
    require(evals.nonEmpty, "report needs at least one eval set")
    require(n > 0 && minHits > 0, s"n=$n and minHits=$minHits must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val shingle = Kernels.wordShinglesKernel(n)
    val tagged = evals.toSeq.sortBy(_._1).map { case (name, ev) =>
      ev.select(lit(name).as("__eval"),
        explode(shingle(col(evalTextCol))).as("__g")).distinct()
    }.reduce(_ unionAll _)
    val docGrams = docs.select(col(idCol), explode(shingle(col(textCol))).as("__g"))
    val contaminated = docGrams
      .join(broadcast(tagged), Seq("__g"))
      .groupBy(col("__eval"), col(idCol)).agg(count(lit(1)).as("__h"))
      .filter(col("__h") >= minHits)
      .groupBy(col("__eval")).agg(count(lit(1)).as("n_contaminated"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
    evals.keys.toSeq.sorted.toDF("eval_name")
      .join(contaminated.withColumnRenamed("__eval", "eval_name"), Seq("eval_name"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .crossJoin(broadcast(totals))
      // 0.0/0.0 is NaN: an empty corpus must read as rate 0 with n_docs=0
      // visible beside it, not publish NaN into a data card
      .withColumn("contamination_rate",
        when(col("n_docs") === 0, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") / col("n_docs")))
  }

  /** Build the serialized eval-set n-gram Bloom filter once — the static
    * artifact a long-running (or streaming) ingest probes per batch
    * instead of re-deriving the eval grams every micro-batch. Built over
    * xxhash64 LONGS (putLong) so the probe side's
    * `might_contain(bf, xxhash64(gram))` hashes identically — building
    * over raw strings would putBinary and the long probe would miss. */
  def evalGramBloom(eval: DataFrame, evalTextCol: String, n: Int = 13,
                    expectedGrams: Long = 10000000L,
                    fpp: Double = 0.01): Array[Byte] = {
    require(n > 0, s"n must be positive, got $n")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val shingle = Kernels.wordShinglesKernel(n)
    val bf = eval.select(explode(shingle(col(evalTextCol))).as("__g"))
      .select(xxhash64(col("__g")).as("__h"))
      .stat.bloomFilter("__h", expectedGrams, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Probe-only overload: flag against a prebuilt [[evalGramBloom]]. */
  def flagContaminatedBloom(docs: DataFrame, idCol: String, textCol: String,
                            bloom: Array[Byte], n: Int,
                            minHits: Int): DataFrame = {
    require(n > 0 && minHits > 0, s"n=$n and minHits=$minHits must be positive")
    val shingle = Kernels.wordShinglesKernel(n)
    val hit = graft.exprs.catalyst.GraftFunctions.mightContain(lit(bloom), xxhash64(col("__g")))
    docs.select(col(idCol), explode(shingle(col(textCol))).as("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(hit, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }
}
