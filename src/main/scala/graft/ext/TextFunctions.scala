package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * All functions are pure Catalyst `Column` builders (no UDFs): they stay
  * inside codegen/vectorized execution and scale linearly with no shuffle.
  * Tokenization is lowercase split on non-word chars — chosen because it is
  * reproducible bit-for-bit in other engines (DuckDB:
  * `regexp_split_to_array(lower(x), '\W+')`), which the correctness oracle
  * relies on.
  */
object TextFunctions {

  /** Lowercased word tokens; empty tokens (leading/trailing separators)
    * removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style subword-ish token count: segments the raw text the way
    * GPT-family pre-tokenizers do (contraction suffixes, letter runs with an
    * optional leading space, digit runs, punctuation runs, whitespace runs)
    * and counts the segments. A real tokenizer then splits these further by
    * merges, so this is a fast lower-bound estimate usable for length
    * filtering and cost accounting at scan speed — no model file, no UDF. */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
  def bpeTokenCountApprox(text: Column): Column =
    size(call_function("regexp_extract_all", text, lit(BpePattern), lit(0)))

  def charCount(text: Column): Column = length(text)

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Mean token length in characters (null for empty docs). */
  def avgTokenLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
  }

  /** Fraction of characters that are not letters/digits/whitespace. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Fraction of tokens found in `stopwords` (type-1 fluency signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      size(filter(ts, t => t.isin(stopwords.map(lit): _*))).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Type-token ratio: distinct tokens / tokens (repetition signal). */
  def typeTokenRatio(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0, size(array_distinct(ts)).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Heuristic quality score in [0,1]: combines length, repetition and
    * punctuation signals the way C4/Gopher-style filters do (public recipe),
    * kept as a deterministic closed formula so it is oracle-checkable.
    * score = 0.4·min(1, tokens/100) + 0.4·ttr + 0.2·(1 − min(1, 4·punct)). */
  def qualityScore(text: Column): Column = qualityScoreFrom(tokens(text), text)

  /** [[qualityScore]] over a pre-computed token array. Callers that already
    * carry `tokens(text)` as a named column (e.g. [[Corpus.curate]]) avoid
    * re-running the tokenizing regex for each of the three signals —
    * Catalyst declines to inline a non-trivial alias referenced more than
    * once, so the split really does run once per row. Identical arithmetic,
    * bit-identical result. */
  def qualityScoreFrom(toks: Column, text: Column): Column = {
    val lenScore = least(lit(1.0), size(toks).cast("double") / 100.0)
    val ttr = when(size(toks) > 0, size(array_distinct(toks)).cast("double") / size(toks))
      .otherwise(lit(0.0))
    val punct = lit(1.0) - least(lit(1.0), punctRatio(text) * 4.0)
    lenScore * 0.4 + ttr * 0.4 + punct * 0.2
  }

  /** Small per-language marker vocabularies for the n-gram/stopword language
    * heuristic. Real pipelines plug in fastText-style models; the interface
    * (text → code) is the stable part. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "de", "est", "pas", "pour", "dans", "que"),
    "es" -> Seq("el", "la", "los", "las", "es", "de", "no", "por", "para", "que"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4", "ren2")
  )

  /** Language-ID heuristic: count marker-word hits per language, return the
    * best-scoring code or "und" when nothing matches. Deterministic
    * tie-break: higher hit count wins, then earlier language in the list. */
  def langId(text: Column): Column = {
    val ts = array_distinct(tokens(text))
    val scored = langMarkers.map { case (code, markers) =>
      (code, size(array_intersect(ts, array(markers.map(lit): _*))))
    }
    // fold: keep (bestCode, bestScore); strictly-greater keeps list order
    val init = struct(lit("und").as("code"), lit(0).as("hits"))
    val best = scored.foldLeft(init) { case (acc, (code, hits)) =>
      when(hits > acc.getField("hits"), struct(lit(code).as("code"), hits.as("hits")))
        .otherwise(acc)
    }
    best.getField("code")
  }

  /** Order-invariant document fingerprint: md5 of the sorted distinct token
    * set. Collapses documents that differ only in token order/duplication —
    * the cheap first tier of near-dup detection (reference analogue: aggo
    * dedups $addToSet members by JSON serialization, accumulators.ts:175). */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Redact common PII shapes in place, each replaced by a typed tag:
    * emails, IPv4 addresses, international `+`-prefixed phone numbers, and
    * 13-19 digit card-like numbers. A chain of `regexp_replace` — codegen,
    * one scan, no UDF — with patterns kept to the regex subset Java and
    * RE2 agree on, so an external SQL engine reproduces the byte-identical
    * output (the DuckDB oracle does). Conservative by design: a scrub
    * pass for training corpora, not a compliance guarantee. */
  def scrubPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phone = "\\+[0-9]{7,15}\\b"
    val card  = "\\b[0-9]{13,19}\\b"
    val afterEmail = regexp_replace(text, email, "<EMAIL>")
    val afterIp    = regexp_replace(afterEmail, ipv4, "<IP>")
    val afterPhone = regexp_replace(afterIp, phone, "<PHONE>")
    regexp_replace(afterPhone, card, "<NUMBER>")
  }

  /** Line-level repetition: the fraction of non-blank (trimmed) lines that
    * are duplicates of another line — 0 for all-unique, →1 for boilerplate
    * spam. A standard training-data quality signal alongside
    * [[qualityScore]]. */
  def lineRepetitionRatio(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
    when(size(lines) > 0,
      (size(lines) - size(array_distinct(lines))).cast("double") / size(lines))
      .otherwise(lit(0.0))
  }

  /** Top-k TF-IDF terms per document — the corpus-level companion to the
    * per-document signals above (keyword extraction, topic hints, boilerplate
    * term discovery at training-corpus scale).
    *
    * tf = termCount/docLength, idf = ln(nDocs/docFreq), score = tf·idf; ties
    * broken by term so the ranking is total. Plan shape: one explode shuffle
    * to (doc, term) counts, one term-keyed shuffle for document frequencies,
    * a single-row corpus-count frame broadcast into the join (no driver
    * action), and a per-document window for the top-k — every exchange is
    * keyed, nothing global.
    *
    * @return (doc_id, term, rank, score) — `score` truncated to 1e-6 so the
    *         cross-engine `ln` is comparison-stable. */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val docs = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val termCounts = docs
      .select(col("doc_id"), size(col("toks")).as("n_terms"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "n_terms", "term").agg(count(lit(1)).as("cnt"))
    // termCounts is one row per (doc_id, term) by construction, so the
    // document frequency is a plain count — no distinct-set shuffle needed
    val docFreq = termCounts.groupBy("term")
      .agg(count(lit(1)).as("doc_freq"))
    val scored = termCounts.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("cnt").cast("double") / col("n_terms") *
          log(col("n_docs").cast("double") / col("doc_freq")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("rank"),
        (floor(col("score") * 1e6 + 0.5) / 1e6).as("score"))
  }

  /** Corpus vocabulary: the top-`k` tokens by total term count with their
    * document frequencies — the frequency table tokenizer training starts
    * from (and the quick sanity view of what a corpus is made of). Two
    * keyed aggregations (term count + doc frequency in one pass over the
    * exploded (doc, token) grain, partial-aggregated map-side) and a
    * global top-k that fuses to `TakeOrderedAndProject`. Ties break by
    * token text so the cut is total and engine-reproducible.
    *
    * @return (token, n_tokens, n_docs, rank), rank 1-based. */
  def vocab(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
            k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ranked = df
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("__doc")).as("n_docs"))
      .orderBy(col("n_tokens").desc, col("token").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").desc, col("token").asc)
    ranked.withColumn("rank", row_number().over(w))
  }

  /** BM25-ranked retrieval of the top-k documents for a bag of query terms —
    * the classic probabilistic ranking function (Robertson et al.; Lucene's
    * default), used in data pipelines for retrieval-based corpus filtering
    * and eval-set mining. Lucene-style non-negative IDF:
    *
    *   score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *              · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *
    * Plan shape: one explode shuffle to (doc, term) counts filtered to the
    * query terms (the filter lands before the shuffle, so only matching
    * terms move), document frequencies from a term-keyed aggregation over
    * that pre-filtered frame, the single-row (N, avgdl) corpus frame
    * broadcast in, and a global top-k that fuses to TakeOrderedAndProject.
    * Scores truncated to 1e-6 for cross-engine comparison stability.
    *
    * @return (doc_id, rank, score) — rank ties broken by doc id. */
  def bm25Search(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queryTerms.nonEmpty, "bm25Search needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val docs = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"), avg(size(col("toks"))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms.map(lit): _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    // tf is one row per (doc_id, term) by construction → df_t is a count
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)))
      .withColumn("part", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1))
      .groupBy("doc_id").agg(sum(col("part")).as("score_raw"))
      // rank on the TRUNCATED score: the raw per-term sum can differ by an
      // ulp between engines (FP addition order), which would flip near-tied
      // ranks; after 1e-6 quantization the ordering is engine-stable
      .withColumn("score", floor(col("score_raw") * 1e6 + 0.5) / 1e6)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    // global top-k over the scored docs fuses to TakeOrderedAndProject; the
    // rank window then runs over ≤ k rows
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /** Split a document into token-window chunks of `chunkSize` tokens with
    * `stride` tokens between chunk starts (stride < chunkSize ⇒ overlap) —
    * the standard preprocessing step for context-window-bounded training
    * and embedding pipelines. Operates on the normalized [[tokens]] stream,
    * so chunks come back space-joined and lowercased. Pure array ops on one
    * scan; explode the result to get one row per chunk.
    *
    * Chunk count = 1 + ceil(max(0, |d| − chunkSize) / stride), so every
    * token lands in ≥ 1 chunk and a short doc yields exactly itself. */
  def chunkByTokens(text: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0, s"need positive chunkSize/stride, got $chunkSize/$stride")
    require(stride <= chunkSize,
      s"stride ($stride) > chunkSize ($chunkSize) would silently skip tokens between chunks")
    val ts = tokens(text)
    val n = size(ts)
    val nChunks = lit(1) + ceil(greatest(n - chunkSize, lit(0)).cast("double") / stride).cast("int")
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(ts, i * stride + 1, lit(chunkSize)), " "))
  }

  /** Strip HTML to visible text: script/style elements vanish with their
    * contents, `<br>` and closing `</p>` become newlines, remaining tags
    * become spaces, the six entities that survive real-world scrapes are
    * decoded (`&amp;` last, per the spec), horizontal whitespace collapses
    * to one space, and lines are trimmed with blanks dropped. Newlines are
    * deliberately PRESERVED — line structure is what the line-level dedup
    * tier keys on, so a scrub that flattened it would silently disable
    * boilerplate removal downstream. A chain of codegen string functions —
    * one scan, no UDF, no parser; patterns stay in the Java/RE2 common
    * regex subset (no backreferences) so the DuckDB oracle reproduces the
    * bytes. For full DOM fidelity plug a real parser into the multimodal
    * mapInPandas tier; this is the scan-speed scrub that handles the
    * web-crawl 99%. */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle  = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val breaks   = regexp_replace(noStyle, "(?i)<br[^>]*>|</p>", "\n")
    val noTags   = regexp_replace(breaks, "(?s)<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        call_function("replace", c, lit(from), lit(to))
      }
    val hCollapsed = regexp_replace(decoded, "[^\\S\\n]+", " ")
    array_join(filter(transform(split(hCollapsed, "\n"), l => trim(l)),
      l => l =!= ""), "\n")
  }

  /** Unicode NFC canonicalization via the native codegen expression
    * (graft.exprs.catalyst.NfcNormalizeExpr). Run this BEFORE any
    * hash-based dedup or n-gram matching: composed and decomposed forms of
    * the same rendered text are different byte strings and silently defeat
    * exact-match tiers. */
  def normalizeNfc(text: Column): Column = graft.exprs.catalyst.GraftFunctions.nfc(text)

  /** Host part of a URL, lowercased: scheme and userinfo stripped, cut at
    * the first `/:?#`. A single regex (RE2-compatible, reproduced by the
    * oracle) rather than `parse_url` so the extraction is engine-portable;
    * null for strings with no scheme://host shape. The C4-style crawl
    * filters key on this. */
  def extractHost(url: Column): Column = {
    val h = regexp_extract(lower(url),
      "^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1)
    when(h =!= "", h)
  }

  /** Naive registered domain: the last two dot-labels of the host
    * ("a.b.example.com" → "example.com"). Real pipelines substitute the
    * Public Suffix List here; the operator shape (host → group key) is the
    * stable part. Hosts with fewer than two labels pass through. */
  def registeredDomain(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** Canonical form of a URL for crawl deduplication — the same page
    * reached through different surface forms should map to one string.
    * Applied rules (each engine-portable `Column` arithmetic, reproduced by
    * the oracle):
    *
    *  - scheme and host lowercased; userinfo (`user:pw@`) dropped
    *  - fragment (`#...`) dropped
    *  - default ports stripped (`:80` for http, `:443` for https)
    *  - empty path becomes `/`
    *  - tracking query parameters removed (`utm_*`, `fbclid`, `gclid`,
    *    `msclkid`, `mc_eid`, `igshid`); survivors sorted lexicographically
    *    so parameter order is irrelevant; an emptied query drops its `?`
    *
    * Path case and percent-encoding are preserved (they can be
    * significant). Null for strings without a `scheme://host` shape. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = element_at(split(url, "#", 2), 1)
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1))
    val port = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+)", 1)
    val path = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = try_element_at(split(noFrag, "\\?", 2), lit(2))
    val keptParams = array_sort(filter(split(query, "&"), p =>
      p =!= "" &&
        !lower(element_at(split(p, "=", 2), 1)).startsWith("utm_") &&
        !lower(element_at(split(p, "=", 2), 1))
          .isin("fbclid", "gclid", "msclkid", "mc_eid", "igshid")))
    val portPart = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val queryPart = when(query.isNull || size(keptParams) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(keptParams, "&")))
    when(scheme =!= "" && host =!= "",
      concat(scheme, lit("://"), host, portPart,
        when(path === "", "/").otherwise(path), queryPart))
  }

  /** Crawl URL dedup: one row per [[canonicalizeUrl]] form, the row with
    * the smallest `idCol` winning (deterministic keep-first). Rows whose
    * URL does not parse are kept unconditionally (their canonical form is
    * null, never equal to another's). One hash aggregation keyed on the
    * canonical string + a self equi-join on the id — no window, no global
    * sort. */
  def urlDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
               urlCol: String): org.apache.spark.sql.DataFrame = {
    val canon = df.withColumn("__canon", canonicalizeUrl(col(urlCol)))
    val winners = canon.filter(col("__canon").isNotNull)
      .groupBy(col("__canon")).agg(min(col(idCol)).as("__keep_id"))
      .select(col("__keep_id"))
    canon.filter(col("__canon").isNull)
      .unionByName(canon.join(winners,
        col(idCol) === col("__keep_id"), "left_semi"))
      .drop("__canon")
  }

  /** Deflate compression ratio of the text (compressed / raw bytes) — the
    * entropy quality signal published corpus recipes filter on: template
    * spam and repeated boilerplate land well below prose (~0.3), binary
    * junk pasted as text lands near 1.0. Typical gate: keep 0.35..0.9.
    * See [[Kernels.compressionRatioKernel]]. */
  def compressionRatio(text: Column): Column = Kernels.compressionRatioKernel(text)

  /** Repair UTF-8-as-Windows-1252 mojibake ("Ã©" → "é", "â€™" → "’") —
    * the ftfy-style fix for the double-encoding corruption web scrapes
    * accumulate. Strict re-decode, clean text untouched, idempotent; run
    * BEFORE [[normalizeNfc]] in a cleaning chain so NFC composes the
    * repaired code points. See [[Kernels.mojibakeRepairKernel]]. */
  def repairMojibake(text: Column): Column = Kernels.mojibakeRepairKernel(text)

  /** Recrawl dedup: one row per [[canonicalizeUrl]] form, the FRESHEST
    * fetch winning (max `tsCol`, smallest id on ties) — [[urlDedup]]'s
    * keep-first is right for a single crawl snapshot; a corpus built from
    * repeated crawls wants the latest content for each page. Plan shape:
    * two hash aggregations keyed on the canonical string (max ts, then
    * min id among rows at that ts) joined back — id-type-agnostic, no
    * window, no global sort. Unparseable URLs are kept unconditionally. */
  def urlDedupLatest(df: org.apache.spark.sql.DataFrame, idCol: String,
                     urlCol: String, tsCol: String): org.apache.spark.sql.DataFrame = {
    val canon = df.withColumn("__canon", canonicalizeUrl(col(urlCol)))
    val parsed = canon.filter(col("__canon").isNotNull)
    // freshest ts per canonical form, then the smallest id among rows AT
    // that ts — two keyed aggs, id-type-agnostic (string ids included,
    // where a numeric negate tie-break would fail or go nondeterministic)
    val freshest = parsed.groupBy(col("__canon"))
      .agg(max(col(tsCol)).as("__max_ts"))
      .withColumnRenamed("__canon", "__fcanon")
    val winners = parsed
      .join(freshest, col("__canon") === col("__fcanon") &&
        col(tsCol) <=> col("__max_ts"))
      .groupBy(col("__canon")).agg(min(col(idCol)).as("__keep_id"))
      .select(col("__keep_id"))
    canon.filter(col("__canon").isNull)
      .unionByName(canon.join(winners,
        col(idCol) === col("__keep_id"), "left_semi"))
      .drop("__canon")
  }

  /** Drop rows whose URL's registered domain is on `blocked` — blocklist
    * filtering, the first gate of a crawl pipeline. Pure scan-side filter:
    * no shuffle, no join (the blocklist compiles into the predicate; for
    * million-entry lists switch to a broadcast left-anti join instead). */
  def filterBlockedDomains(df: org.apache.spark.sql.DataFrame, urlCol: String,
                           blocked: Seq[String]): org.apache.spark.sql.DataFrame = {
    val dom = registeredDomain(extractHost(col(urlCol)))
    df.filter(dom.isNull || !dom.isin(blocked.map(_.toLowerCase): _*))
  }

  /** Evaluate `bound` exactly once per row and feed the result to `f`.
    *
    * Catalyst's `SimplifyExtractValueOps` inlines every field extracted from
    * a literal `struct(...)`, re-evaluating the field's defining expression
    * at each use site — for [[gopherFlags]] that meant the `words`/`lines`/
    * `paras` splits ran once per rule (~20 array materializations per row).
    * A lambda variable cannot be inlined, so routing the value through a
    * single-element `transform` pins it to one evaluation. Costs one
    * 1-element array allocation per row. */
  private def bindOnce(bound: Column)(f: Column => Column): Column =
    element_at(transform(array(bound), f), 1)

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, public
    * heuristics — same family the reference's quality filtering belongs to).
    * Returns a struct of per-rule booleans (`true` = rule passed) plus the
    * word count and an overall `pass` conjunction, so pipelines can either
    * hard-filter on `pass` or keep the flags as features.
    *
    * Pure `Column` arithmetic — one scan, codegen, no UDF — and every rule
    * is reproducible bit-for-bit in another SQL engine (the DuckDB oracle
    * recomputes all of them). Thresholds are the published ones:
    *
    *  - 50 ≤ word count ≤ 100,000
    *  - 3 ≤ mean word length ≤ 10
    *  - symbol-to-word ratio (`#` and `...`) < 0.1
    *  - < 90% of lines start with a bullet; < 30% end with an ellipsis
    *  - > 80% of words contain an alphabetic character
    *  - ≥ 2 of the 8 required English stopwords appear
    *  - duplicate-line / duplicate-paragraph fraction < 0.30
    *  - characters in duplicate lines / paragraphs < 0.20
    *
    * "Duplicate" counts all-but-first occurrences, so the char fraction is
    * (total chars − chars of the distinct set) / total chars — no quadratic
    * per-document work. */
  def gopherFlags(text: Column): Column = {
    val requiredStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def charSum(arr: Column): Column = aggregate(arr, lit(0L), (a, x) => a + length(x))
    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))

    // Three binding levels: the tokenized arrays, their distinct sets, then
    // the scalar reductions — each expensive intermediate evaluated once.
    val arrays = struct(
      filter(split(text, "\\s+"), w => length(w) > 0).as("words"),
      filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "").as("lines"),
      filter(transform(split(text, "\n\\s*\n"), p => trim(p)), p => p =!= "").as("paras"))
    bindOnce(arrays) { a =>
      val words = a.getField("words")
      val lines = a.getField("lines")
      val paras = a.getField("paras")
      val distincts = struct(
        array_distinct(lines).as("dlines"), array_distinct(paras).as("dparas"))
      bindOnce(distincts) { d =>
        val stats = struct(
          size(words).as("n_words"),
          charSum(words).as("word_chars"),
          size(filter(words, w => w.rlike("[A-Za-z]"))).as("alpha_words"),
          size(lines).as("n_lines"),
          size(filter(lines, l =>
            l.startsWith("•") || l.startsWith("- ") || l.startsWith("* "))).as("bullet_lines"),
          size(filter(lines, l =>
            l.endsWith("...") || l.endsWith("…"))).as("ellipsis_lines"),
          size(d.getField("dlines")).as("n_dist_lines"),
          charSum(lines).as("line_chars"),
          charSum(d.getField("dlines")).as("dist_line_chars"),
          size(paras).as("n_paras"),
          size(d.getField("dparas")).as("n_dist_paras"),
          charSum(paras).as("para_chars"),
          charSum(d.getField("dparas")).as("dist_para_chars"),
          // non-overlapping "..." occurrences + lone '#' characters, per word
          (size(split(text, "\\.\\.\\.")) - 1).as("n_ellipsis"),
          (length(text) -
            length(call_function("replace", text, lit("#"), lit("")))).as("n_hash"),
          size(array_intersect(array_distinct(tokens(text)),
            array(requiredStops.map(lit): _*))).as("stop_hits"))
        bindOnce(stats) { s =>
          val nWords = s.getField("n_words")
          val nLines = s.getField("n_lines")
          val nParas = s.getField("n_paras")
          val meanWordLen = when(nWords > 0,
            s.getField("word_chars").cast("double") / nWords).otherwise(lit(0.0))
          val symbolRatio = when(nWords > 0,
            (s.getField("n_ellipsis") + s.getField("n_hash")).cast("double") / nWords)
            .otherwise(lit(0.0))
          val lineChars = s.getField("line_chars")
          val paraChars = s.getField("para_chars")
          struct(
            nWords.as("words"),
            (nWords >= 50 && nWords <= 100000).as("r_word_count"),
            (meanWordLen >= 3.0 && meanWordLen <= 10.0).as("r_mean_word_len"),
            (symbolRatio < 0.1).as("r_symbol_ratio"),
            (frac(s.getField("bullet_lines"), nLines) < 0.9).as("r_bullet_lines"),
            (frac(s.getField("ellipsis_lines"), nLines) < 0.3).as("r_ellipsis_lines"),
            (frac(s.getField("alpha_words"), nWords) > 0.8).as("r_alpha_words"),
            (s.getField("stop_hits") >= 2).as("r_stopwords"),
            (frac(nLines - s.getField("n_dist_lines"), nLines) < 0.3).as("r_dup_lines"),
            (frac(nParas - s.getField("n_dist_paras"), nParas) < 0.3).as("r_dup_paras"),
            (frac(lineChars - s.getField("dist_line_chars"), lineChars) < 0.2)
              .as("r_dup_line_chars"),
            (frac(paraChars - s.getField("dist_para_chars"), paraChars) < 0.2)
              .as("r_dup_para_chars"))
        }
      }
    }
  }

  /** `true` iff every [[gopherFlags]] rule passes — the hard-filter form.
    * The flags struct is bound once; extracting the 11 fields from a plain
    * `gopherFlags(text)` would duplicate the whole tree per rule. */
  def gopherPass(text: Column): Column =
    bindOnce(gopherFlags(text)) { f =>
      Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
        "r_ellipsis_lines", "r_alpha_words", "r_stopwords", "r_dup_lines",
        "r_dup_paras", "r_dup_line_chars", "r_dup_para_chars")
        .map(f.getField).reduce(_ && _)
    }

  /** Cross-document duplicated-n-gram fraction (the FineWeb/RefinedWeb
    * "dup n-gram" signal): for each document, the share of its DISTINCT
    * word n-grams that also occur in at least one OTHER document. High
    * values mark templated or heavily copied text that whole-document and
    * line dedup both miss. Distinct from [[gopherFlags]]' intra-document
    * repetition rules — this one is corpus-relative.
    *
    * Plan shape: one explode of distinct grams per document, one count
    * aggregation keyed on the gram (partial/final, so hot boilerplate
    * grams pre-combine), a join back on the same key, and a per-document
    * aggregation. Two keyed shuffles, no windows, no driver state — the
    * same scale class as [[graft.ext.Dedup.lineDedup]].
    *
    * @return one row per document: `n_ngrams` (distinct grams),
    *         `n_dup` (grams seen in ≥2 documents), `dup_fraction`
    *         (1e-6-quantized; 0.0 for documents shorter than `n`). */
  def dupNgramFraction(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, n: Int = 8): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // Spilled: the count branch and the per-document join both read the
    // exploded gram table (previously the shingle kernel ran twice); the
    // metadata row count sizes the gram-keyed shuffle to the data
    // (Dedup.scaledParts — near-unique key space, the spill-prone shape).
    val grams0 = Dedup.spill(df.select(col(idCol),
      explode(Kernels.wordShinglesKernel(n)(col(textCol))).as("__g")),
      "graft-dupngram-grams")
    val grams = grams0.repartition(
      Dedup.scaledParts(df.sparkSession, grams0.count()), col("__g"))
    // wordShinglesKernel emits DISTINCT grams per document, so "documents
    // containing this gram" is a plain count of the exploded rows
    val docCounts = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__docs"))
    val per = grams.join(docCounts, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_fraction",
        floor(col("n_dup").cast("double") / col("n_ngrams") * 1e6 + 0.5) / 1e6)
    df.select(col(idCol)).distinct()
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_fraction"), lit(0.0)).as("dup_fraction"))
  }

  /** Hashed-bag-of-words linear classifier score — the fastText-shaped
    * model-based quality filter of the public curation recipes (C4's
    * badwords successor: DCLM and FineWeb-Edu both gate on a linear
    * classifier over token features). Tokens hash into `weights.length`
    * buckets (md5-derived, engine-reproducible); the score is
    * `sigmoid(bias + mean(weights[bucket(token)]))`. Purely scan-side
    * codegen — at 100 TB this is one more column on the quality pass, no
    * shuffle, no UDF; swap in trained weights without changing the plan.
    * Token-less documents score `sigmoid(bias)`. */
  def linearClassifierScore(text: Column, weights: Seq[Double],
                            bias: Double = 0.0): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    // expression-backed since r15 (graft.exprs.catalyst.ClassifierSumExpr):
    // the interpreted transform+aggregate walked ~6 expression-tree nodes
    // per token and the md5 path materialized a hex STRING per token and
    // re-parsed it with the base-16 string parser (conv) — the kernel
    // digests the UTF-8 bytes and takes the same first 60 bits
    // arithmetically, left-folding the sum in the same token order, so the
    // score doubles are bit-identical (KernelsEquivSpec).
    val toks = tokens(text)
    val mean = graft.exprs.catalyst.GraftFunctions.classifierSum(toks, weights.toArray) /
      size(toks)
    when(size(toks) > 0,
      lit(1.0) / (lit(1.0) + exp(-(lit(bias) + mean))))
      .otherwise(lit(1.0 / (1.0 + math.exp(-bias))))
  }

  /** The filter form of [[linearClassifierScore]]: keep documents scoring
    * at least `threshold`, score surfaced (1e-6-quantized so downstream
    * ordering is ulp-stable across engines). */
  def classifierFilter(df: org.apache.spark.sql.DataFrame, textCol: String,
                       weights: Seq[Double], bias: Double,
                       threshold: Double): org.apache.spark.sql.DataFrame = {
    val s = floor(linearClassifierScore(col(textCol), weights, bias) * 1e6 + 0.5) / 1e6
    df.withColumn("classifier_score", s).filter(col("classifier_score") >= threshold)
  }

  // ---------------------------------------------------------- C4 rules ----

  /** C4 line cleaning (Raffel et al. 2020 §2.2, the public recipe): keep
    * only lines that end in terminal punctuation (`.`, `!`, `?`, `"`),
    * have at least `minWordsPerLine` words, and do not contain the word
    * "javascript" (case-insensitive). Kept lines are trimmed and rejoined
    * with newlines; a page with no surviving lines becomes "".
    * Pure array ops — one codegen scan, reproduced by the oracle. */
  def c4LineClean(text: Column, minWordsPerLine: Int = 5): Column =
    array_join(
      filter(transform(split(text, "\n"), l => trim(l)), l =>
        l.rlike("[.!?\"]$") &&
          size(filter(split(l, "\\s+"), w => w =!= "")) >= minWordsPerLine &&
          !lower(l).contains("javascript")),
      "\n")

  /** C4 page rules over [[c4LineClean]]ed text: at least `minSentences`
    * sentences (terminal-punctuation count — C4's own sentence proxy), no
    * curly brace (code), no "lorem ipsum", and none of `badWords` as a
    * word (the public recipe uses the "List of Dirty, Naughty ..." list;
    * pass your own — the default is empty). */
  def c4PagePass(cleaned: Column, badWords: Seq[String] = Nil,
                 minSentences: Int = 3): Column = {
    val base =
      size(filter(split(cleaned, "[.!?]"), s => trim(s) =!= "")) >= minSentences &&
        !cleaned.contains("{") && !lower(cleaned).contains("lorem ipsum")
    if (badWords.isEmpty) base
    else base && !arrays_overlap(tokens(cleaned),
      array(badWords.map(w => lit(w.toLowerCase)): _*))
  }

  /** The composed C4 filter: line-clean every page, drop pages failing the
    * page rules, return survivors with `textCol` cleaned in place plus an
    * `n_lines_kept` count. Scan-side only — no shuffle at all. */
  def c4Filter(df: org.apache.spark.sql.DataFrame, textCol: String,
               minWordsPerLine: Int = 5, minSentences: Int = 3,
               badWords: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    df.withColumn(textCol, c4LineClean(col(textCol), minWordsPerLine))
      .filter(c4PagePass(col(textCol), badWords, minSentences))
      .withColumn("n_lines_kept",
        size(filter(split(col(textCol), "\n"), l => l =!= "")).cast("long"))

  /** Character k-gram shingles (distinct) of the lowercased text. */
  def charShingles(text: Column, k: Int): Column = {
    val t = lower(text)
    when(length(t) < k, array(t)).otherwise(
      array_distinct(transform(sequence(lit(1), length(t) - (k - 1)),
        i => t.substr(i, lit(k)))))
  }

  /** Word n-gram shingles (distinct), joined with spaces. */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) < n, array(array_join(ts, " "))).otherwise(
      array_distinct(transform(sequence(lit(0), size(ts) - n),
        i => array_join(slice(ts, i + 1, lit(n)), " "))))
  }
}
