package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language identification and document
  * fingerprinting. All pure `org.apache.spark.sql.functions` compositions —
  * codegen'd, whole-stage-fused, no UDFs — so they run at full Tungsten speed
  * over 100 TB of documents.
  */
object TextAnalysis {

  /** Word-token pattern shared by all operators (BPE-ish: runs of
    * alphanumerics; punctuation splits).
    */
  val TokenPattern = "[A-Za-z0-9]+"

  /** Small per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Kept tiny and public-knowledge (most-frequent function
    * words).
    */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "los", "con", "por", "una"),
    "fr" -> Seq("le", "la", "les", "des", "est", "dans", "pour", "une"),
    "it" -> Seq("il", "di", "che", "per", "con", "del", "una", "sono")
  )

  /** Number of word tokens. */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit(TokenPattern)).cast("long")

  /** GPT-2-style pretokenizer pattern (lookahead-free subset so the Java and
    * RE2 regex dialects count identically): a leading-space word, number or
    * symbol run, else a whitespace run. Each match approximates one BPE
    * pretoken, giving the standard fast estimate of LLM token counts without
    * a vocabulary.
    */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** BPE-ish pretoken count: total matches of [[BpePattern]]. Single spaces
    * fold into the following word (`' ?'`), so only residual whitespace runs
    * count as their own token — the same arithmetic GPT-2's pretokenizer
    * produces on ASCII text.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")

  /** Whitespace-separated words as an array (empty-safe). */
  def words(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Host part of every URL in `text`, lowercased, `www.`-prefix and port
    * stripped — the key for per-domain quotas, blocklist anti-joins and
    * provenance stats over web-crawl corpora. The capture stays inside the
    * RE2-compatible subset so an independent engine running the same
    * pattern extracts the identical array.
    */
  val UrlHostPattern = "https?://([^/\\s:?#]+)"

  def urlHosts(text: Column): Column =
    transform(regexp_extract_all(lower(text), lit(UrlHostPattern), lit(1)),
      h => regexp_replace(h, "^www\\.", ""))

  /** Normalized text for fuzzy-exact dedup — the C4/RefinedWeb staple in
    * front of hash-grouping: lowercase, punctuation stripped to spaces,
    * whitespace runs collapsed, edges trimmed. Two documents differing
    * only in case, punctuation or spacing then share one digest. The
    * semantics are the RE2∩Java regex composition the oracle runs
    * (`trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9\s]+', ' '),
    * '\s+', ' '))`); the implementation is the native single-pass byte
    * kernel [[graft.functions.NormalizeForDedup]] (the negated-class
    * regex measured ~1.3 ms/doc — 40× the whole rest of the query — and
    * the kernel is spec-pinned equivalent, with a declarative fallback
    * for non-ASCII input).
    */
  def normalizedForDedup(text: Column): Column =
    graft.functions.NormalizeForDedup.normalizeForDedup(text)

  /** Canonical form of a URL for exact-URL dedup over crawl corpora:
    * fragment stripped, tracking parameters (`utm_*`, `fbclid`, `gclid`,
    * `ref`) dropped, remaining query parameters SORTED, scheme+host
    * lowercased (paths stay case-sensitive per RFC 3986), and a bare
    * trailing slash removed — so the same landing page reached via a
    * campaign link, a share link and a typed URL folds to one key.
    * Pure regex/array algebra in the RE2-compatible subset: an oracle
    * running the identical steps produces the identical string, and on
    * Spark the whole thing is one codegen'd projection (no UDF).
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base   = regexp_replace(noFrag, "\\?.*$", "")
    val query  = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept   = array_sort(filter(split(query, "&"), p =>
      length(p) > 0 && !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=")))
    val lowered = concat(
      lower(regexp_extract(base, "^(https?://[^/]+)", 1)),
      regexp_extract(base, "^https?://[^/]+(.*)$", 1))
    val noSlash = regexp_replace(lowered, "/$", "")
    when(size(kept) > 0, concat_ws("?", noSlash, array_join(kept, "&")))
      .otherwise(noSlash)
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * word `n`-grams whose FIRST corpus occurrence (minimum id) is this
    * document — the "how much of this text is new" curriculum/dedup
    * triage signal (a near-copy of an earlier doc scores ~0, fresh prose
    * ~1). Documents shorter than `n` words have no shingles and drop out,
    * like the fingerprint operators.
    *
    * Scale shape (measured at 500k docs / 24M shingles): the raw shingle
    * explode carries only the 64-bit hash (the [[Dedup.jaccardPairs]]
    * convention — a collision merges two shingles' first-occurrence
    * bookkeeping with probability ~2⁻⁶⁴ per pair, far below the score's
    * rounding); per-doc DISTINCT comes from a (doc, hash) aggregate whose
    * MAP-SIDE partial dedups within-doc repeats before the shuffle — the
    * `array_distinct` the explode used to run per row is O(k²) string
    * equality and alone cost 12× the raw explode. The novelty numerator
    * needs no shingle-keyed join back: a shingle is novel for exactly its
    * min-id doc, so `n_novel(doc) = |{shingles: min(id) = doc}|` — two
    * chained aggregates, and only DOC-sized frames ever join. The cheap
    * hash-only lineage is re-derived once per consumer instead of
    * checkpointing a shingle-frame-sized table.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, roundTo: Int = 6): DataFrame = {
    // hash at the byte scan ([[graft.functions.ShingleHashes]] — bit-equal
    // to xxhash64(word_shingles(...)) but with no shingle-string
    // allocation; the per-shingle UTF8String burst was the recorded GC
    // band at the 500k-doc crossover fixture)
    val exD = docs
      .select(col(idCol), explode(
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n)).as("__sh"))
      .distinct()
    val perDoc = exD.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val novel = exD.groupBy(col("__sh")).agg(min(col(idCol)).as("__first"))
      .groupBy(col("__first").as(idCol))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"),
          roundTo))
  }

  /** Count of whole-word hits from a word list — native single-pass scan
    * ([[graft.functions.WordListHits]]), exactly equivalent to the oracle's
    * `regexp_count(lower(text), '\b(w1|...|wN)\b')` for `\w`-only word lists
    * (each match is a maximal word-character run equal to a target).
    */
  def wordListHits(text: Column, ws: Seq[String]): Column =
    graft.functions.WordListHits.wordListHits(text, ws)

  /** Quality-signal columns: length, token count, punctuation count, mean
    * token length, stopword(en) ratio, uppercase ratio. Deterministic
    * integer counts + single-division ratios so a SQL oracle reproduces them
    * bit-for-bit.
    */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    // ONE native byte-scan for every integer signal
    // ([[graft.functions.QualityCounts]] documents the per-field regex
    // equivalences); the six getFields share the single kernel evaluation
    // via codegen subexpression elimination. The previous formulation paid
    // four regex passes + a word scan per row — the regex engine was the
    // whole cost of q_text_quality.
    val enStops = StopwordsByLang.collectFirst { case ("en", ws) => ws }.get
    val qc      = graft.functions.QualityCounts.qualityCounts(text, enStops)
    val nChars  = qc.getField("n_chars")
    val nTokens = qc.getField("n_tokens")
    val nPunct  = qc.getField("n_punct")
    val nAlnum  = qc.getField("n_alnum")
    val nUpper  = qc.getField("n_upper")
    val nStops  = qc.getField("n_stops")
    Seq(
      "n_chars"        -> nChars,
      "n_tokens"       -> nTokens,
      "n_punct"        -> nPunct,
      "mean_tok_len"   -> when(nTokens > 0, nAlnum.cast("double") / nTokens.cast("double")).otherwise(lit(0.0)),
      "stopword_ratio" -> when(nTokens > 0, nStops.cast("double") / nTokens.cast("double")).otherwise(lit(0.0)),
      "upper_ratio"    -> when(nChars > 0, nUpper.cast("double") / nChars.cast("double")).otherwise(lit(0.0))
    )
  }

  /** Language-ID by stopword voting: the language with the most whole-word
    * stopword hits wins; ties break by list order; zero hits → "und"
    * (undetermined). A standard n-gram-free heuristic that stays in codegen.
    */
  def langIdScores(text: Column): Seq[(String, Column)] =
    StopwordsByLang.map { case (lang, ws) =>
      s"score_$lang" -> wordListHits(text, ws)
    }

  def langId(text: Column): Column = {
    val scores = langIdScores(text)
    val best   = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // First language (in declared order) achieving the max; "und" when all 0.
    scores.reverse.foldLeft(lit("und")) { case (acc, (name, score)) =>
      when(score === best && best > 0, lit(name.stripPrefix("score_"))).otherwise(acc)
    }
  }

  /** Word n-gram shingles (space-joined), for fingerprinting and near-dup.
    * Native single-pass expression ([[graft.functions.WordShingles]]); the
    * equivalent builtin composition
    * `transform(sequence(0, size(ws)-n), i -> concat_ws(" ", slice(ws, i+1, n)))`
    * is what the DuckDB oracles replicate.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  /** PII scrub patterns, restricted to the regex subset Java and RE2 parse
    * identically (no lookaround, no backrefs) so oracles reproduce the
    * rewrite byte-for-byte.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern   = "https?://[^\\s]+"
  val PhonePattern = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val Ipv4Pattern  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Scrub emails and URLs from a text column (training-data hygiene pass):
    * each match is replaced with its placeholder token. One
    * [[graft.functions.PiiScrub]] kernel call, spec-pinned bit-equal to
    * the declarative formulation every DuckDB oracle keeps —
    * `regexp_replace(regexp_replace(text, EmailPattern, '<EMAIL>'),
    * UrlPattern, '<URL>')` — which cost a Java-regex multiple of the byte
    * scan at crossover scale (the q_pii_risk measurement).
    */
  def scrub(text: Column): Column = graft.functions.PiiCounts.piiScrub(text)

  /** Count of scrubbed spans (emails + URLs) for audit/quality columns —
    * two [[graft.functions.PiiCounts]] fields; the oracle face is
    * `regexp_count(text, EmailPattern) + regexp_count(text, UrlPattern)`.
    */
  def scrubCount(text: Column): Column = {
    val pc = graft.functions.PiiCounts.piiCounts(text)
    pc.getField("n_emails") + pc.getField("n_urls")
  }

  /** HTML/markup boilerplate strip — the canonical web-crawl → text
    * extraction pass: drop `<script>`/`<style>` elements WITH their
    * content, drop every remaining tag, decode the six ubiquitous
    * entities (`&amp;` LAST, so `&amp;lt;` yields the literal `&lt;` and
    * never double-decodes), then collapse whitespace runs and trim.
    *
    * Runs as the [[graft.functions.HtmlStrip]] byte kernel (the
    * [[scrub]]/[[graft.functions.PiiScrub]] precedent: Java's regex engine
    * on multi-KB documents is the cost, not the logic — the declarative
    * chain measured 2.8× DuckDB at 500k docs). The kernel is bit-equal to
    * [[htmlStripDeclarative]], the regexp formulation the DuckDB oracles
    * keep, spec-pinned on random and adversarial inputs. Pure projection
    * work — no explode, no join; at 100 TB this is one codegen'd map over
    * the corpus scan.
    */
  def htmlStrip(text: Column): Column =
    graft.functions.HtmlKernels.htmlStrip(text)

  /** The oracle-facing regexp formulation [[htmlStrip]]'s kernel twins.
    * Kept in the regex subset Java and RE2 evaluate identically (the
    * [[EmailPattern]] discipline): no backrefs (script/style are two
    * separate patterns), no `\b`, and the whitespace class is written
    * out as `[ \t\n\r\f]` because Java's `\s` includes `\x0B` while
    * RE2's does not. Lazy `.*?` and `(?is)` flags parse the same in
    * both.
    */
  private[graft] def htmlStripDeclarative(text: Column): Column = {
    val noScript = regexp_replace(text,
      "(?is)<script[^>]*>.*?</script[ \t\n\r\f]*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style[ \t\n\r\f]*>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "[ \t\n\r\f]+", " "))
  }

  /** Count of tags removed by [[htmlStrip]] (markup-density audit column):
    * tags remaining after the script/style elements drop. Kernel-backed
    * like [[htmlStrip]]; [[htmlTagCountDeclarative]] is the oracle twin.
    */
  def htmlTagCount(text: Column): Column =
    graft.functions.HtmlKernels.htmlTagCount(text)

  private[graft] def htmlTagCountDeclarative(text: Column): Column = {
    val noScript = regexp_replace(text,
      "(?is)<script[^>]*>.*?</script[ \t\n\r\f]*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style[ \t\n\r\f]*>", " ")
    regexp_count(noStyle, lit("(?s)<[^>]*>")).cast("long")
  }

  /** Document fingerprint: the k lexicographically-smallest md5 digests of
    * the word `n`-gram shingles (a winnowing-style min-hash sketch built
    * from codegen'd builtins; md5 is identically defined everywhere, so
    * oracles reproduce it exactly).
    */
  def fingerprint(text: Column, n: Int = 3, k: Int = 4): Column =
    slice(array_sort(transform(array_distinct(shingles(text, n)), s => md5(s))), 1, k)

  /** Single-value fingerprint (minimum shingle digest), via the native
    * [[graft.functions.MinMd5Hex]] expression: digests compare as raw bytes
    * inside whole-stage codegen; only the winning digest is hex-encoded.
    * Equivalent to `array_min(transform(shingles, md5))` (hex encoding is
    * order-preserving), which remains the DuckDB-oracle formulation.
    */
  def minFingerprint(text: Column, n: Int = 3): Column =
    graft.functions.MinMd5Hex.minMd5Hex(shingles(text, n))

  /** Intra-document repetition signals (Gopher-style boilerplate filters):
    * per document, the fraction of word occurrences that are repeats
    * (`dup_word_frac`), the share of the most frequent word
    * (`top_word_frac`), and the fraction of word-3-gram occurrences that are
    * repeats (`dup_trigram_frac`). High values flag boilerplate / templated
    * / degenerate documents for removal before training.
    *
    * Scale shape: a pure NARROW map — all five counts come from ONE pass
    * over each row's raw bytes ([[graft.functions.RepetitionCounts]], a
    * codegen'd native expression with exact intern-table counting), so
    * the operator has NO exchange at all: no regex splits, no explode, no
    * groupBy, no join — embarrassingly parallel at any corpus size, with
    * O(L) work per document of token count L. The former two
    * explode → groupBy → groupBy legs + id join moved every token through
    * two shuffles twice.
    *
    * Output: `(id, n_words, dup_word_frac, top_word_frac,
    * dup_trigram_frac)`; documents with no words produce no row; fractions
    * are single divisions of exact integer counts (bit-reproducible by a SQL
    * oracle); `dup_trigram_frac` is 0.0 for documents shorter than 3 words.
    */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    docs
      .select(col(idCol),
        graft.functions.RepetitionCounts.repetitionCounts(col(textCol)).as("__r"))
      .filter(col("__r.n_words") > 0)
      .select(
        col(idCol),
        col("__r.n_words").as("n_words"),
        ((col("__r.n_words") - col("__r.n_distinct")).cast("double")
          / col("__r.n_words")).as("dup_word_frac"),
        (col("__r.top_c").cast("double") / col("__r.n_words")).as("top_word_frac"),
        when(col("__r.n_tri") > 0,
          (col("__r.n_tri") - col("__r.nd_tri")).cast("double") / col("__r.n_tri"))
          .otherwise(lit(0.0)).as("dup_trigram_frac"))
  }

  /** Percentile quality gate — the canonical "drop the worst X% of the
    * corpus" curation step: rows below `minTokens` are dropped outright,
    * then rows whose quality score sits below the corpus `p`-quantile are
    * dropped too. The score is the English stopword ratio (rounded to the
    * 1e-6 grid so independent engines agree bit-for-bit); natural text
    * scores high, boilerplate/code/gibberish scores near zero.
    *
    * Scale shape: ONE scoring descent of the input — the narrow scored
    * frame `(id, n_tokens, score)` is checkpointed and feeds both the
    * exact-percentile aggregate (a 1-row broadcast back) and the filter
    * against it; previously the filter leg re-ran the full scoring lineage
    * (regex token/stopword extraction over the corpus) a second time. For
    * a checkpoint-free single-scan variant at extreme scale, feed the
    * threshold from [[graft.pipeline.Sketches.approxPercentilesCertified]]'s
    * sketch instead of the exact percentile.
    *
    * Output: `(id, n_tokens, score)` for the surviving rows.
    */
  def qualityGate(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Long = 5L, p: Double = 0.25): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0, 1): $p")
    val sigs = qualitySignals(col(textCol)).toMap
    val scored = Dedup.materializeOnce(
      docs.select(col(idCol), sigs("n_tokens").as("n_tokens"),
          round(sigs("stopword_ratio"), 6).as("score"))
        .filter(col("n_tokens") >= minTokens))
    val thr = scored.agg(expr(s"percentile(score, $p)").as("__thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("score") >= col("__thr"))
      .select(col(idCol), col("n_tokens"), col("score"))
  }

  /** The quality gate's trained threshold as a driver scalar — the
    * train-once artifact for gating LATER batches (or a stream — see
    * `StreamingTextQuality`) against a reference corpus' score
    * distribution, instead of re-deriving the percentile per batch
    * (which would also let a low-quality batch lower its own bar).
    * Same score, filter and percentile as [[qualityGate]], so gating a
    * corpus against its own trained threshold reproduces `qualityGate`
    * row-for-row.
    */
  def qualityThreshold(docs: DataFrame, textCol: String,
      minTokens: Long = 5L, p: Double = 0.25): Double = {
    require(p > 0 && p < 1, s"p must be in (0, 1): $p")
    val sigs = qualitySignals(col(textCol)).toMap
    docs.select(sigs("n_tokens").as("n_tokens"),
        round(sigs("stopword_ratio"), 6).as("score"))
      .filter(col("n_tokens") >= minTokens)
      .agg(expr(s"percentile(score, $p)").as("__thr"))
      .head() match {
        // percentile over zero rows is NULL — surface a clear trainer error
        // instead of an opaque NPE when the reference corpus is empty or
        // every document falls under the minTokens floor
        case r if r.isNullAt(0) => throw new IllegalArgumentException(
          s"qualityThreshold: reference corpus has no document with >= " +
          s"$minTokens tokens — cannot train a threshold from an empty " +
          "score distribution")
        case r => r.getDouble(0)
      }
  }

  /** Gate rows against a FIXED trained threshold (from
    * [[qualityThreshold]]): pure per-row work — one [[qualitySignals]]
    * kernel evaluation and two comparisons, no aggregation — so it runs
    * identically over a batch or a stream.
    */
  def gateAgainstThreshold(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, minTokens: Long = 5L): DataFrame = {
    val sigs = qualitySignals(col(textCol)).toMap
    docs.select(col(idCol), sigs("n_tokens").as("n_tokens"),
        round(sigs("stopword_ratio"), 6).as("score"))
      .filter(col("n_tokens") >= minTokens && col("score") >= lit(threshold))
  }

  /** Top-`k` most characteristic terms per document by tf-idf with a LINEAR
    * idf (`score = tf · n_docs / df` — no logarithm): cross-engine `ln`
    * implementations differ in the last ulp, while this score is exact
    * integer counts through one correctly-rounded IEEE division and one
    * multiplication, so an independent SQL engine reproduces it
    * bit-for-bit. Linear idf ranks rarer terms more aggressively than
    * log-idf but serves the same keyword-extraction purpose.
    *
    * Scale shape: tf comes from [[graft.functions.WordCounts]] — the
    * per-document term grouping happens row-locally inside the native
    * expression, so the plan goes straight from the ONE tokenizing scan
    * to already-aggregated `(id, term, tf)` rows with NO aggregation
    * exchange. `df` aggregates that frame by term (map-side combine
    * shrinks the shuffle to per-partition vocabularies) into a
    * vocab-sized table, re-attached by a term equi-join that AQE
    * broadcasts whenever the vocabulary is small — corpora with huge
    * vocabularies fall back to a keyed shuffle join, the same cost the
    * former term-window paid unconditionally. `n_docs` rides in as a
    * broadcast scalar from an id-only (column-pruned) scan — it must
    * count zero-token documents too, which never reach the tf frame; the
    * final top-k is a window partitioned by document — every stage is
    * keyed, nothing is global. Ranking ties are impossible:
    * (score desc, term asc) is total.
    *
    * Output: `(id, term, tf, df, score, rank)`, `rank` in 1..k.
    */
  def tfIdfTopK(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame =
    scoreTfIdfAgainstIdf(docs, textCol, idCol,
      trainIdf(docs, textCol, idCol), k)

  /** The per-document `(id, term, tf)` frame via the
    * [[graft.functions.WordCounts]] kernel: the per-document term
    * grouping happens row-locally inside the native expression, so the
    * plan goes straight from the ONE tokenizing scan to
    * already-aggregated rows with NO aggregation exchange.
    */
  private def tfFrame(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol),
        explode(graft.functions.WordCounts.wordCounts(col(textCol))).as("__wc"))
      .select(col(idCol), col("__wc.term").as("term"), col("__wc.tf").as("tf"))

  /** Train the idf table — the tf-idf family's persistable artifact
    * ([[Artifacts]] convention): one row per term TYPE with its document
    * frequency and the precomputed linear idf `n_docs / df` (one IEEE
    * division per TYPE — bit-identical to computing it per occurrence,
    * the [[graft.pipeline.LanguageModel.trainBigramModel]] argument).
    * `n_docs` counts EVERY document — including zero-token ones that
    * never reach the tf frame — so it rides in from an id-only
    * (column-pruned) scan.
    *
    * Output: `(term, df, __idf)`; persist with [[Artifacts.save]], load
    * with [[Artifacts.sizedBroadcast]] wrapping `spark.read.parquet`.
    * Vocabulary-scale on a web corpus — never collected.
    */
  def trainIdf(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val dfreq = tfFrame(docs, textCol, idCol)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(idCol)).as("__n_docs"))
    dfreq.crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"),
        (col("__n_docs").cast("double") / col("df")).as("__idf"))
  }

  /** Score documents against a trained idf artifact: tokenize (narrow
    * kernel tf), ONE term equi-join, per-document top-k window. Scoring a
    * corpus against its own self-trained idf reproduces [[tfIdfTopK]]
    * bit-for-bit; scoring against a FOREIGN idf (the production regime —
    * train on a reference snapshot, score every later batch) drops
    * out-of-vocabulary terms from the ranking (INNER join, the
    * [[LanguageModel.scoreAgainstModel]] contract).
    */
  def scoreTfIdfAgainstIdf(docs: DataFrame, textCol: String, idCol: String,
      idf: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val scored = tfFrame(docs, textCol, idCol)
      .join(idf, "term")
      .withColumn("score", col("tf") * col("__idf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)
    // the rank predicate stays on the raw row_number so Spark plans
    // WindowGroupLimit (partial per-doc top-k BEFORE the id exchange —
    // the shuffle then carries ~k rows per document, not the full tf
    // frame); cast only after the filter
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank").cast("long").as("rank"))
  }

  /** Per-document mean unigram probability — the linear cousin of the
    * LM-perplexity quality score (CCNet-style): how "ordinary" a document's
    * vocabulary is under the corpus's own unigram distribution. Gibberish,
    * boilerplate-free spam and wrong-language text score low; typical prose
    * scores near the corpus mean. Linear (mean of p(term)) rather than
    * log-perplexity so the whole score is integer counts through ONE IEEE
    * division — bit-reproducible by an independent SQL engine, where `ln`
    * differs in the last ulp.
    *
    * score = (Σ_occurrences cf(term)) / (n_tokens · total_tokens); the
    * numerator stays integer-exact below 2^53 — at corpus scales beyond
    * that, the last bits of the mantissa go (the RANKING a gate needs is
    * unaffected).
    *
    * Scale shape (r11 — trained-artifact boundary, the [[LanguageModel]]
    * convention): [[trainUnigramModel]] builds the per-term corpus
    * frequencies once (narrow kernel tf → one vocabulary-keyed combine);
    * [[scoreAgainstUnigramModel]] is kernel tf → ONE term equi-join →
    * per-document aggregate. This single-call face self-trains and
    * scores in one plan — production pipelines split at the artifact.
    * Output: (id, n_tokens, mean_unigram_p).
    */
  def unigramScore(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    scoreAgainstUnigramModel(docs, textCol, idCol,
      trainUnigramModel(docs, textCol, idCol))

  /** Train the unigram model — one row per term TYPE with its corpus
    * frequency and the corpus total (a constant column: parquet RLE
    * stores it for free, and carrying it in-row keeps the artifact ONE
    * table instead of a table + sidecar scalar). Exact integer counts.
    * The tf source is the narrow [[graft.functions.WordCounts]] kernel,
    * so training is one tokenizing scan + one vocabulary-keyed combine —
    * the old `(id, term)` pre-aggregation exchange is gone.
    * Persist with [[Artifacts.save]]; vocabulary-scale — never collected.
    * Output: `(term, cf, __total)`.
    */
  def trainUnigramModel(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cf = tfFrame(docs, textCol, idCol)
      .groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val total = cf.agg(sum(col("cf")).as("__total"))
    cf.crossJoin(broadcast(total))
  }

  /** Score documents against a trained unigram model: narrow kernel tf →
    * ONE term equi-join → per-document aggregate (`max(__total)` reads
    * the constant column back without a second descent of the model).
    * Self-trained scoring reproduces the single-call [[unigramScore]]
    * exactly (integer counts through one IEEE division); against a
    * FOREIGN model, out-of-vocabulary terms drop from both the numerator
    * and `n_tokens` (INNER join, the
    * [[LanguageModel.scoreAgainstModel]] contract).
    */
  def scoreAgainstUnigramModel(docs: DataFrame, textCol: String,
      idCol: String, model: DataFrame): DataFrame =
    tfFrame(docs, textCol, idCol)
      .join(model, "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("cf")).as("__sum_cf"),
           sum(col("tf")).as("n_tokens"),
           max(col("__total")).as("__total"))
      .withColumn("mean_unigram_p",
        col("__sum_cf").cast("double") / (col("n_tokens") * col("__total")))
      .select(col(idCol), col("n_tokens"), col("mean_unigram_p"))

  /** Adjacent-symbol pair frequencies over the corpus — the counting step
    * of BPE vocabulary training (Sennrich et al., ACL'16): every adjacent
    * character pair inside a word, weighted by how often the word occurs.
    * Full training is the loop "take the top pair, merge it everywhere,
    * recount" — each iteration is exactly this operator over the rewritten
    * vocabulary, so the one-step statistics are what get oracle-checked.
    *
    * The heavy corpus scan collapses to the VOCABULARY first (distinct
    * word + count — the Zipf-shrunk frame), and pairs explode from that:
    * at 100 TB the corpus→vocab groupBy is the only full-width pass;
    * the pair explode touches ~|vocab|·avg_len rows, orders of magnitude
    * smaller. Pure integer counts — hash-exact cross-engine.
    *
    * Output: (`pair`, `cnt`) — one row per distinct 2-char sequence with
    * its corpus-weighted occurrence count.
    */
  def bpePairStats(docs: DataFrame, textCol: String): DataFrame = {
    val vocab = docs
      .select(explode(words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    // sequence(1, 0) DESCENDS in Spark, so 1-char words need the explicit
    // empty guard rather than relying on an empty range
    val pairIdx = when(length(col("word")) >= 2,
      sequence(lit(1), length(col("word")) - 1)).otherwise(array())
    vocab
      .select(explode(transform(pairIdx, i => col("word").substr(i, lit(2))))
        .as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
  }

  /** Line-level boilerplate removal (the FineWeb/Dolma curation pass):
    * drop every line whose EXACT text repeats more than `maxCount` times
    * across the corpus — navigation menus, cookie banners, copyright
    * footers — and reassemble each document from its surviving lines in
    * original order. Every input document appears in the output (a doc
    * whose lines are all boilerplate keeps an empty rewritten text).
    *
    * Returns `(idCol, n_lines, n_kept, text_kept)`.
    *
    * Scale shape: one explode pass → a map-side-combined line-frequency
    * aggregate (bounded by the DISTINCT line count, which Zipf-shrinks
    * like a vocabulary) → one hash join of the exploded lines against the
    * OVER-THRESHOLD subset only → one per-doc reassembly aggregate. The
    * over-threshold side is broadcast by default (`hintBroadcast`):
    * boilerplate = lines repeating more than `maxCount` times, few by
    * definition in any real corpus, but AQE cannot discover that — its
    * runtime estimate reflects the aggregate's shuffle stats BEFORE the
    * threshold filter prunes the vocabulary-scale count table, so it
    * plans the big join (measured: 1.90 → 1.38 s at 500k docs / 1.5M
    * lines from the hint alone). Disable for a pathological corpus whose
    * over-threshold set is itself huge. The join keys on the raw line
    * text so the semantics are exact (a production variant can key on
    * xxhash64 to narrow the exchange; collisions then merge distinct
    * lines, the standard trade).
    */
  def lineDedup(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxCount: Long = 4,
      hintBroadcast: Boolean = true): DataFrame = {
    require(maxCount >= 1, s"lineDedup: maxCount must be >= 1, got $maxCount")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val boiler = lines.groupBy(col("__line"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > maxCount)
      .select(col("__line"), lit(true).as("__boiler"))
    dropAndReassemble(lines, idCol, boiler, hintBroadcast)
  }

  /** Corpus line frequencies as a persistable artifact (write with a
    * plain parquet save) — the [[lineDedupAgainstPrior]] input contract:
    * `(line, prior_c)`.
    */
  def lineCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\n")).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("prior_c"))

  /** Incremental [[lineDedup]]: rewrite only the FRESH batch, with
    * boilerplate judged against prior + batch frequencies combined — a
    * batch document keeps exactly the lines a full rebuild over
    * (prior ∪ batch) would keep (spec-pinned), but the prior corpus is
    * never rescanned and never rewritten. One batch explode → batch line
    * counts LEFT-joined to the (vocabulary-scale, Zipf-shrunk) prior
    * artifact → the same broadcast-hinted threshold join + reassembly.
    */
  def lineDedupAgainstPrior(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      prior: DataFrame,
      maxCount: Long = 4,
      hintBroadcast: Boolean = true): DataFrame = {
    require(maxCount >= 1,
      s"lineDedupAgainstPrior: maxCount must be >= 1, got $maxCount")
    val lines = batch.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val boiler = lines.groupBy(col("__line"))
      .agg(count(lit(1)).as("__bc"))
      .join(prior.select(col("line").as("__line"), col("prior_c")),
        Seq("__line"), "left")
      .filter(col("__bc") + coalesce(col("prior_c"), lit(0L)) > maxCount)
      .select(col("__line"), lit(true).as("__boiler"))
    dropAndReassemble(lines, idCol, boiler, hintBroadcast)
  }

  /** Shared tail of the line-dedup faces: drop flagged lines, reassemble
    * per doc in original order; every doc survives.
    */
  private def dropAndReassemble(
      lines: DataFrame,
      idCol: String,
      boiler: DataFrame,
      hintBroadcast: Boolean): DataFrame =
    lines
      .join(if (hintBroadcast) broadcast(boiler) else boiler,
        Seq("__line"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("__boiler").isNull, struct(col("__pos"), col("__line"))))),
            s => s.getField("__line"))).as("text_kept"))
}
