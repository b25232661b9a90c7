package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Caching.Syntax

/** Text-analysis operators for LLM-data-pipeline workloads (north-star
  * extension, BASELINE.json): token/char statistics, language ID, quality
  * scoring, document fingerprinting — all built from codegen'd built-ins
  * (`split`, `regexp_count`, `regexp_replace`, `md5`), no UDFs, so they run
  * inside whole-stage codegen and scale linearly with the corpus: one
  * narrow map stage, no shuffle.
  */
object TextOps {

  /** Whitespace tokens of a text column: the maximal runs of characters
    * outside `[ \t\n\u000B\f\r]` (Java's regex `\s`; U+00A0, U+3000 and
    * other Unicode spaces do NOT split), via the native
    * [[graft.functions.TextSplit]] kernel — bit-identical to
    * `filter(split(trim(text), "\\s+"), _ =!= "")`, ill-formed UTF-8
    * included (decoded with U+FFFD replacement, as `split` does). Empty or
    * whitespace-only text yields an EMPTY array, never the phantom `[""]`
    * a bare split returns; NULL text yields NULL.
    */
  def tokens(text: Column): Column = graft.functions.SplitFunctions.graft_split(text)

  /** Whitespace-collapsed, lowercased, trimmed normalization. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Unicode text normalization — the ENCODING-REPAIR stage every
    * web-corpus pipeline runs before any token/hash operator (dedup keys,
    * shingles and vocabularies all assume one byte sequence per logical
    * string; a decomposed `e`+U+0301 and a composed `é` must not count as
    * different tokens). Three mirrored steps, in order:
    *
    *  1. Unicode NFC via the native [[graft.functions.NfcNormalize]]
    *     kernel (ASCII rows: one byte scan, zero allocation — the 100 TB
    *     fast path);
    *  2. non-breaking/figure/narrow spaces (U+00A0, U+2007, U+202F) →
    *     plain space;
    *  3. zero-width characters (U+200B..U+200D, U+FEFF) and C0 controls
    *     except `\t`/`\n` (plus DEL) stripped.
    *
    * Deliberately NOT lowercased/whitespace-collapsed ([[normalize]] is
    * that policy step) and NOT NFKC (rewriting ligatures/full-width forms
    * is a policy choice, not canonical equivalence).
    *
    * Output: (idCol, text_norm, n_chars_before, n_chars_after, changed) —
    * char counts are CODEPOINTS (Spark `length` and DuckDB `length`
    * agree on that unit).
    */
  def unicodeNormalize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val composed = graft.functions.NfcFunctions.graft_nfc(t)
    val spaced = regexp_replace(composed, "[\\x{00A0}\\x{2007}\\x{202F}]", " ")
    val cleaned = regexp_replace(spaced,
      "[\\x{200B}-\\x{200D}\\x{FEFF}\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    df.select(
      col(idCol),
      cleaned.as("text_norm"),
      length(t).cast("long").as("n_chars_before"),
      length(cleaned).cast("long").as("n_chars_after"),
      (cleaned =!= t).as("changed"))
  }

  /** Mojibake (double-encoding) repair — the ftfy slot, sitting right
    * next to [[unicodeNormalize]] in the encoding-repair stage: "cafÃ©"
    * (UTF-8 bytes mis-decoded as cp1252 upstream) → "café", up to
    * `maxRounds` inversions for double-encoded text. All semantics,
    * safety proofs (genuine accented text provably untouched) and the
    * DOCUMENT-ATOMIC contract live on
    * [[graft.functions.MojibakeKernel]]; this is the one-projection
    * DataFrame face. Zero shuffle at any scale; ASCII rows exit on one
    * byte scan.
    *
    * Output: (idCol, text_fixed, changed, n_rounds).
    */
  def fixMojibake(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxRounds: Int = 2): DataFrame = {
    val s = graft.functions.MojibakeFunctions
      .graft_fix_mojibake(coalesce(col(textCol), lit("")), maxRounds)
    df.select(col(idCol), s.getField("text_fixed").as("text_fixed"),
      s.getField("changed").as("changed"),
      s.getField("n_rounds").as("n_rounds"))
  }

  /** Per-document token/char statistics. Counts are BIGINT (engine-wide
    * convention so oracles agree on schema).
    */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTokens = size(toks).cast("long")
    val tokenChars = length(regexp_replace(t, "\\s+", "")).cast("long")
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      nTokens.as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("uniq_tokens"),
      // empty docs: NULL ratios, not a DIVIDE_BY_ZERO job abort (ANSI mode)
      when(nTokens > 0, tokenChars.cast("double") / nTokens.cast("double"))
        .as("avg_token_len"),
      when(length(t) > 0,
        regexp_count(t, lit("[.,;:!?]")).cast("double") / length(t).cast("double"))
        .as("punct_ratio"))
  }

  /** Token counting: plain whitespace tokens plus a BPE-ish segmentation
    * (letter runs / digit runs / single punctuation marks) — the usual cheap
    * proxy for subword token counts.
    */
  def tokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(tokens(t)).cast("long").as("ws_tokens"),
      regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_tokens"))
  }

  /** Corpus-frequency rarity stats per document — the integer-exact proxy
    * for a unigram-LM quality score (true log-probs need float `log`s that
    * don't reproduce bit-identically across engines; sums of corpus counts
    * do): per document, the token count, how many of its token OCCURRENCES
    * have corpus frequency below `rareBelow` (gibberish and OCR noise are
    * rare-token-dense), and the total corpus-frequency mass of its tokens
    * (high mass = stopword-heavy boilerplate). Normalized tokens, counted
    * over occurrences on both ends.
    *
    * Scale shape: one partial-aggregating groupBy builds the (token, tf)
    * relation, the corpus joins back ON the token (a shuffle of (doc, token)
    * pairs against the type-sized frequency table — NOT broadcast: a web
    * corpus's token-type set is 10⁸+), then one per-document aggregation.
    * Nothing bigger than 8-byte-keyed pairs shuffles.
    */
  def rarityStats(df: DataFrame, idCol: String, textCol: String, rareBelow: Long): DataFrame = {
    // cached: the exploded corpus feeds BOTH the frequency aggregation and
    // the join back — without the barrier the full scan+split+explode runs
    // twice (same multi-branch contract as the dedup family's shingle sets)
    val toks = df.select(
      col(idCol),
      explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(col("token") =!= "")
      .scopedCache()
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    toks.join(freq, Seq("token"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("tf") < rareBelow, lit(1))).as("n_rare"),
        sum(col("tf")).as("freq_mass"))
  }

  /** Language markers for the n-gram/stopword language-ID heuristic.
    * Deterministic and oracle-expressible (plain regex counts + CASE).
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is)\\b",
    "de" -> "\\b(der|und|die|das)\\b",
    "fr" -> "\\b(le|la|et|les)\\b",
    "es" -> "\\b(el|los|que|una)\\b")

  /** Language ID: count marker-stopword hits per language, argmax with a
    * fixed preference order on ties (en > de > fr > es). Adds `pred_lang`,
    * preserving the input columns.
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val low = lower(col(textCol))
    val scores = langMarkers.map { case (_, pat) => regexp_count(low, lit(pat)) }
    val Seq(en, de, fr, es) = scores
    df.withColumn(
      "pred_lang",
      when(en >= de && en >= fr && en >= es, lit("en"))
        .when(de >= fr && de >= es, lit("de"))
        .when(fr >= es, lit("fr"))
        .otherwise(lit("es")))
  }

  /** Composite quality score from length, punctuation and stopword ratios —
    * each component clamped to [0,1], fixed weights; the shape of the
    * heuristics used to filter web-scale training corpora.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(tokens(t)).cast("long").as("n_tokens"),
      punctRatioExpr(t).as("punct_ratio"),
      stopRatioExpr(t).as("stopword_ratio"),
      qualityExpr(t).as("quality"))
  }

  /** Zipf-law fit over the corpus vocabulary — the corpus-health check
    * every curation stack runs (a natural-language corpus shows slope
    * ≈ −1 in log(freq) vs log(rank); template spam or deduplication
    * failures bend it). Least squares over the top-`topK` terms by
    * (freq DESC, token ASC); ln values quantized to MILLI-nats before
    * the sums, so every statistic is an exact integer on both engines
    * (Σxy at k=1000 stays ≤ ~1e11, n·Σxy ≤ ~1e14 — far inside int64;
    * micro-nats would overflow n·Σxy) and slope/intercept derive
    * per-row from identical integer operands. The rank window runs over
    * the LIMITed top-K relation (≤ topK rows — inside the global-window
    * CI row bound), never the vocabulary: orderBy+limit is a
    * TakeOrdered, so the vocabulary itself is never globally sorted.
    *
    * Output (one row): n_terms, slope, intercept_mnat (ln-freq
    * milli-nats at ln rank = 0).
    */
  def zipfSlope(df: DataFrame, idCol: String, textCol: String, topK: Int = 1000): DataFrame =
    zipfSlopeFromCounts(
      df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq")),
      topK)

  /** Key-wise sum of `(token, freq)` relations — the incremental fold
    * behind [[zipfSlopeFromCounts]]'s operating mode (an observing store
    * maintains the count relation and re-fits the law per batch without
    * rescanning history; the counts monoid is the whole state).
    */
  def mergeTokenCounts(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one count relation")
    parts.reduce(_.unionByName(_)).groupBy(col("token"))
      .agg(sum(col("freq")).as("freq"))
  }

  /** [[zipfSlope]] from an externally-maintained `(token, freq)` count
    * relation — the incremental operating mode.
    */
  def zipfSlopeFromCounts(uni: DataFrame, topK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 2, "need at least two ranks to fit")
    val counts = uni.orderBy(col("freq").desc, col("token")).limit(topK)
    val ranked = counts.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("token"))).cast("long"))
    val pts = ranked.select(
      round(log(col("rank").cast("double")) * lit(1000.0)).cast("long").as("x"),
      round(log(col("freq").cast("double")) * lit(1000.0)).cast("long").as("y"))
    // Degenerate one-term vocabulary ⇒ denominator 0; Spark's 0/0 is NaN
    // while the SQL oracle's is NULL, so guard both outputs to NULL there.
    val denom = (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = when(denom =!= 0.0,
      (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") / denom)
    pts.agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        col("n_terms"),
        slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n_terms").cast("double")).as("intercept_mnat"))
  }

  /** Heaps-law vocabulary growth curve: cumulative distinct vocabulary /
    * token mass / document count at each doc-id decile threshold — the
    * second corpus-health law (V ≈ K·N^β with β ≈ 0.5 for natural text;
    * a flattening curve means the corpus is recycling itself, a linear
    * one means noise). A token's contribution to the curve is its FIRST
    * carrier (min doc id), so the whole curve derives from two
    * Zipf-small relations (first-carrier per token, token count per doc)
    * broadcast-crossed with the 10 thresholds — no repeated corpus scans
    * per decile, no global sort.
    *
    * Note: `n_docs`/`n_tokens` count only documents that carry ≥ 1 token
    * (both derive from the exploded token relation), so empty or
    * whitespace-only docs are excluded from every decile — intentional:
    * the curve measures vocabulary growth against *token-bearing* mass,
    * and a tokenless doc contributes nothing to either axis.
    *
    * Output (10 rows): decile, thr_doc_id, n_docs, n_tokens, n_vocab.
    */
  def heapsCurve(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .scopedCache()
    val firstCarrier = toks.groupBy(col("token")).agg(min(col(idCol)).as("first_doc"))
    val perDoc = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_toks"))
    val thresholds = df.agg(max(col(idCol)).as("max_id"))
      .select(explode(sequence(lit(1), lit(10))).as("decile"), col("max_id"))
      .select(col("decile").cast("long").as("decile"),
        expr("max_id * decile div 10").as("thr_doc_id"))
    val vocab = firstCarrier.crossJoin(broadcast(thresholds))
      .filter(col("first_doc") <= col("thr_doc_id"))
      .groupBy(col("decile"), col("thr_doc_id"))
      .agg(count(lit(1)).as("n_vocab"))
    val mass = perDoc.crossJoin(broadcast(thresholds))
      .filter(col(idCol) <= col("thr_doc_id"))
      .groupBy(col("decile"), col("thr_doc_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    mass.join(vocab, Seq("decile", "thr_doc_id"))
      .select(col("decile"), col("thr_doc_id"), col("n_docs"),
        col("n_tokens"), col("n_vocab"))
  }

  /** Per-domain quality statistics — the maintainable half of
    * [[domainReputation]]: `(domain, n_docs, sum_q_fp)` where `sum_q_fp`
    * is the Σ of per-document [[qualityExpr]] scores QUANTIZED to
    * micro-unit longs (round(q·10⁶); empty/NULL-quality docs contribute
    * 0 but still count). Both fields are counts monoids, so an operating
    * store folds each batch in with [[mergeDomainStats]] instead of
    * re-scanning history — the [[lmCounts]]/[[vocabCounts]] contract. The
    * aggregate partial-combines map-side; at any corpus size only
    * |domains| rows cross the wire.
    */
  def domainStats(df: DataFrame, domainCol: String, textCol: String): DataFrame =
    df.groupBy(col(domainCol).as("domain")).agg(
      count(lit(1)).as("n_docs"),
      sum(coalesce(round(qualityExpr(col(textCol)) * lit(1.0e6)).cast("long"), lit(0L)))
        .as("sum_q_fp"))

  /** Key-wise sum of [[domainStats]] relations — the incremental fold. */
  def mergeDomainStats(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one stats relation")
    parts.reduce(_.unionByName(_)).groupBy(col("domain")).agg(
      sum(col("n_docs")).as("n_docs"), sum(col("sum_q_fp")).as("sum_q_fp"))
  }

  /** Domain-level reputation gate (the RefinedWeb/host-prior discipline:
    * judge the HOST, not just the page — boilerplate farms and SEO spam
    * concentrate by domain). A domain is reputable iff it has at least
    * `minDocs` documents AND its mean quality clears `minMeanFp`
    * micro-units (inclusive ≥, integer cross-multiplication — no float
    * division feeds the gate); every document inherits its domain's
    * verdict. Domains with too few documents fail closed — too little
    * evidence to trust (documented engine semantics).
    *
    * Scale shape: [[domainStats]] is one map-side-combined aggregate to a
    * |domains|-sized relation, broadcast back onto the corpus — one scan +
    * one broadcast join, no corpus-keyed shuffle. `stats` defaults to the
    * self-computed one-pass form; pass a merged store relation for the
    * incremental operating mode.
    */
  def domainReputation(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      textCol: String,
      minDocs: Long = 3L,
      minMeanFp: Long = 570000L,
      stats: Option[DataFrame] = None): DataFrame = {
    val st = stats.getOrElse(domainStats(df, domainCol, textCol))
    df.select(col(idCol), col(domainCol).as("domain"))
      .join(broadcast(domainVerdicts(st, minDocs, minMeanFp)), Seq("domain"))
      .select(col(idCol), col("domain"), col("n_docs"),
        col("domain_mean_quality"), col("domain_ok"))
  }

  /** The reputation verdict derivation from a [[domainStats]] relation —
    * ONE definition shared by [[domainReputation]] and the streaming
    * maintainer ([[graft.streaming.Streaming.DomainStatsStream]]), so the
    * gate arithmetic can never drift between batch and stream.
    */
  def domainVerdicts(
      stats: DataFrame,
      minDocs: Long = 3L,
      minMeanFp: Long = 570000L): DataFrame =
    stats.select(
      col("domain"),
      col("n_docs"),
      (col("sum_q_fp").cast("double") / (col("n_docs").cast("double") * lit(1.0e6)))
        .as("domain_mean_quality"),
      (col("n_docs") >= minDocs &&
        col("sum_q_fp") >= col("n_docs") * minMeanFp).as("domain_ok"))

  /** THE composite-quality expression — one definition for every consumer
    * (the registered score, the classifier label/tier derivations, the
    * data card), so the weights/clamps can never silently drift between
    * them.
    */
  private[graft] def qualityExpr(t: Column): Column =
    lit(0.4) * least(lit(1.0), size(tokens(t)).cast("double") / lit(100.0)) +
      lit(0.3) * (lit(1.0) - least(lit(1.0), punctRatioExpr(t) * lit(10.0))) +
      lit(0.3) * least(lit(1.0), stopRatioExpr(t) * lit(5.0))

  private def punctRatioExpr(t: Column): Column =
    when(length(t) > 0,
      regexp_count(t, lit("[.,;:!?]")).cast("double") / length(t).cast("double"))

  private def stopRatioExpr(t: Column): Column = {
    val nTokens = size(tokens(t)).cast("double")
    when(nTokens > 0,
      regexp_count(lower(t), lit("\\b(the|and|of|is|to|in|a)\\b")).cast("double") / nTokens)
  }

  /** Gopher rule-based quality filter (Rae et al. 2021, Appendix A) — the
    * most-cited NAMED rule set in LLM data curation, distinct from the
    * continuous [[qualityScore]]: per document, each rule's boolean
    * outcome plus the conjunction. Every ratio threshold is evaluated by
    * integer CROSS-MULTIPLICATION (10·symbols ≤ words instead of
    * symbols/words ≤ 0.1), so the relation is engine-exact with no float
    * division anywhere — the fixed-point discipline applied to policy
    * gates. One narrow codegen'd projection; zero shuffle at any scale.
    *
    * Rules: word count ∈ [minWords, maxWords]; mean word length ∈ [3, 10]
    * chars (3n ≤ chars ≤ 10n); symbol-to-word ratio ≤ 0.1 PER FAMILY —
    * the paper thresholds the hash symbol and the ellipsis separately, so
    * a doc at hash 0.06 + ellipsis 0.06 passes (their sum would not);
    * the two tests land in the single `r_symbol_ratio` column as a
    * conjunction. Line rules follow the paper's "more than": fail only
    * when bullet-started lines EXCEED 90 % (ellipsis-ended, 30 %) — the
    * exact-boundary document passes. ≥80 % of words contain an alphabetic
    * char; ≥2 of the 8 required stopwords present.
    *
    * Output: (idCol, n_words, r_word_count, r_mean_word_len,
    * r_symbol_ratio, r_bullet_lines, r_ellipsis_lines, r_alpha_words,
    * r_stopwords, pass).
    */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Long = 50L,
      maxWords: Long = 100000L): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val w = tokens(t)
    val nWords = size(w).cast("long")
    val wordChars = length(regexp_replace(t, "\\s+", "")).cast("long")
    val hashes = regexp_count(t, lit("#")).cast("long")
    val ellipses = regexp_count(t, lit("\\.\\.\\.")).cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val ellipsisLines = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$"))).cast("long")
    val alphaWords = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("long")
    val requiredStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = requiredStops
      .map(s0 => when(lower(t).rlike(s"\\b$s0\\b"), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val rWordCount = nWords >= minWords && nWords <= maxWords
    val rMeanLen = lit(3L) * nWords <= wordChars && wordChars <= lit(10L) * nWords
    val rSymbol = hashes * lit(10L) <= nWords && ellipses * lit(10L) <= nWords
    val rBullet = bulletLines * lit(10L) <= nLines * lit(9L)
    val rEllipsis = ellipsisLines * lit(10L) <= nLines * lit(3L)
    val rAlpha = alphaWords * lit(5L) >= nWords * lit(4L)
    val rStops = stopHits >= lit(2L)
    df.select(
      col(idCol),
      nWords.as("n_words"),
      rWordCount.as("r_word_count"),
      rMeanLen.as("r_mean_word_len"),
      rSymbol.as("r_symbol_ratio"),
      rBullet.as("r_bullet_lines"),
      rEllipsis.as("r_ellipsis_lines"),
      rAlpha.as("r_alpha_words"),
      rStops.as("r_stopwords"),
      (rWordCount && rMeanLen && rSymbol && rBullet && rEllipsis && rAlpha && rStops)
        .as("pass"))
  }

  /** Content fingerprint of the whitespace/case-normalized text (md5) — the
    * key for exact near-normalized dedup and cheap change detection.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = normalize(col(textCol))
    df.select(
      col(idCol),
      md5(norm).as("fingerprint"),
      length(norm).cast("long").as("norm_len"))
  }

  /** Per-document character-unigram Shannon entropy — the compression-
    * ratio PROXY quality signal (cf. the reference's quality gates;
    * zlib-style ratios need a codec, char entropy needs only counts):
    * low-entropy documents are repeated-boilerplate/padding junk, and the
    * signal is orthogonal to the token-ratio features in [[qualityExpr]].
    *
    * Entirely IN-ROW — zero shuffle, the 100 TB shape. The default path
    * is the native [[graft.functions.CharEntropyStats]] kernel: ONE
    * O(L) codepoint pass per row with an alphabet-sized count map,
    * inside whole-stage codegen. `native = false` keeps the HOF
    * reference form (sort the char array, fold run lengths) — O(L log L)
    * with interpreted lambdas, differential-pinned ≡ native in
    * TextAnalysisSpec. Both accumulate Σ round(c·ln c·1e6) as a LONG
    * (order-free, so map iteration vs sorted runs cannot diverge) and
    * the identity H = ln n − (Σ c·ln c)/n then derives in micro-nat
    * fixed point with truncating division — every step mirrored by the
    * oracle on the same exact integers, so the entropy replays
    * engine-exact (the distributionDrift ln-fixed-point recipe applied
    * per row).
    *
    * Empty/NULL documents drop (no distribution to measure). The
    * `lowFp` policy threshold flags candidates for the junk filter;
    * 2.5 nats ≈ 3.6 bits sits well under natural-language char entropy
    * (~4.1–4.8 bits across this corpus's languages) and above
    * repeated-template boilerplate.
    *
    * Output: (idCol, n_chars_seen, n_unique_chars, entropy_fp,
    * is_low_entropy).
    */
  def charEntropy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lowFp: Long = 2500000L,
      native: Boolean = true): DataFrame = {
    val base = df.filter(length(col(textCol)) > 0)
    val stats =
      if (native)
        base.select(col(idCol),
          graft.functions.EntropyFunctions.graft_char_entropy(col(textCol)).as("__s"))
          .select(col(idCol),
            col("__s").getField("n_chars").as("n_chars_seen"),
            col("__s").getField("n_unique").as("n_unique_chars"),
            col("__s").getField("sum_fp").as("__sum_fp"))
      else {
        // c·ln(c)·1e6 as a LONG; ln(0) is NULL in Spark — guard the empty run
        def runFp(r: Column): Column =
          when(r > 0, round(r.cast("double") * log(r.cast("double")) * lit(1.0e6)).cast("long"))
            .otherwise(lit(0L))
        val folded = aggregate(
          col("__chars"),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("sum_fp")),
          (acc, ch) => {
            val same = ch === acc.getField("prev")
            struct(
              ch.as("prev"),
              when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
              when(same, acc.getField("sum_fp"))
                .otherwise(acc.getField("sum_fp") + runFp(acc.getField("run"))).as("sum_fp"))
          },
          acc => acc.getField("sum_fp") + runFp(acc.getField("run")))
        base
          // the BPE char-split idiom: split("") emits a trailing "", filter it
          .select(col(idCol),
            array_sort(filter(split(col(textCol), ""), c => c =!= "")).as("__chars"))
          .select(col(idCol),
            size(col("__chars")).cast("long").as("n_chars_seen"),
            size(array_distinct(col("__chars"))).cast("long").as("n_unique_chars"),
            folded.as("__sum_fp"))
      }
    stats
      .select(col(idCol), col("n_chars_seen"), col("n_unique_chars"),
        (round(log(col("n_chars_seen").cast("double")) * lit(1.0e6)).cast("long") -
          expr("__sum_fp div n_chars_seen")).as("entropy_fp"))
      .withColumn("is_low_entropy", col("entropy_fp") < lit(lowFp))
  }

  /** Top-k distinctive terms per document, TF-IDF style but with an
    * integer-safe ranking (tf DESC, then document-frequency ASC, then term) —
    * rarer terms win ties, exactly the tf·idf ordering for equal tf, without
    * transcendental math that could diverge between engines at the last ulp.
    *
    * Scale shape: one narrow explode (no shuffle), one partial-aggregating
    * groupBy on (doc, term), one groupBy on term for document frequency
    * (terms follow a Zipf law, so the df relation is small relative to the
    * corpus and the join back is a standard shuffle join; at 100 TB the df
    * side is still the one to bucket or broadcast-threshold on), one window
    * rank per doc. No driver collects.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol), explode(split(normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    // cached: tf feeds both the document-frequency aggregation and the join
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")).scopedCache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Class-based TF-IDF (the c-TF-IDF topic-labeling recipe): treat each
    * CLUSTER's concatenated documents as one pseudo-document and score
    * each term by tf_c · ln(1 + A / f_t), where tf_c is the term's count
    * inside the cluster, f_t its corpus-wide count, and A the truncated-
    * div average token mass per cluster — high for terms frequent IN the
    * cluster but rare elsewhere, the automatic "what is this cluster
    * about" keyword extractor over any assignment (k-means cells, label
    * columns, sources). Top-k per cluster by (w_fp DESC, term).
    *
    * Shape: one token explode joined to the |docs|-sized assignment (both
    * id-keyed), then everything aggregates to the (clusters × vocabulary)
    * relation — f_t and the 1-row average derive from the tf_c counts,
    * never from a second corpus pass; the ranking window partitions by
    * cluster. The score quantizes to BIGINT millionths after a fully
    * mirrored double expression on exact longs (the lmScore recipe), so
    * ranks and scores replay engine-exact.
    *
    * Output: (cidCol, term, tf_c, f_t, w_fp, rk 1..k).
    */
  def clusterKeywords(
      docs: DataFrame,
      assign: DataFrame,
      idCol: String,
      textCol: String,
      cidCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val toks = docs
      .select(col(idCol), explode(split(normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .join(assign.select(col(idCol), col(cidCol)), Seq(idCol))
    // cached: the (cluster, term) counts feed the corpus frequency, the
    // cluster-mass average AND the scoring join
    val tfc = toks.groupBy(col(cidCol), col("term"))
      .agg(count(lit(1)).as("tf_c")).scopedCache()
    val ft = tfc.groupBy(col("term")).agg(sum(col("tf_c")).as("f_t"))
    val aw = tfc.agg(sum(col("tf_c")).as("__tot"), count_distinct(col(cidCol)).as("__nc"))
      .select(expr("__tot div __nc").as("__aw"))
    val w = Window.partitionBy(col(cidCol)).orderBy(col("w_fp").desc, col("term"))
    tfc.join(ft, Seq("term"))
      .crossJoin(broadcast(aw))
      .withColumn("w_fp",
        round(col("tf_c").cast("double") *
          log(lit(1.0) + col("__aw").cast("double") / col("f_t").cast("double")) *
          lit(1.0e6)).cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(cidCol), col("term"), col("tf_c"), col("f_t"), col("w_fp"), col("rk"))
  }

  /** Corpus-level top-k bigram collocations: adjacent normalized-token pairs,
    * counted and totally ordered (count DESC, bigram ASC — deterministic at
    * the LIMIT boundary). The pair construction is a zip of two array slices
    * inside one projection — no self-join, no positional explode; the only
    * shuffle is the count aggregation (map-side partial), and the top-k is
    * TakeOrdered, never a global sort.
    */
  /** Adjacent-pair array from a token array — ONE definition for every
    * bigram consumer ([[bigramCounts]], [[repetitionStats]]), so the pair
    * construction can never silently diverge between them.
    */
  private[graft] def bigramArray(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))

  def bigramCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = split(normalize(col(textCol)), " ")
    df.select(explode(bigramArray(toks)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** PII scrubbing: redact email addresses and NNN-NNN-NNNN phone numbers,
    * emitting redaction counts and an md5 signature of the scrubbed text
    * (the cheap equality witness — comparing full scrubbed bodies across
    * engines/runs without shipping them). Pure regex built-ins, so the whole
    * pass is one codegen'd map stage. Patterns are deliberately RE2-safe
    * (no backreferences/lookaround) so the same expressions run on any
    * regex engine a downstream verifier uses.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val emailScrubbed = regexp_replace(t, emailPattern, "[EMAIL]")
    val scrubbed = regexp_replace(emailScrubbed, phonePattern, "[PHONE]")
    df.select(
      col(idCol),
      regexp_count(t, lit(emailPattern)).cast("long").as("n_emails"),
      // counted on the EMAIL-scrubbed text, because replacement is
      // sequential: a phone-shaped digit run inside an email local part
      // (123-456-7890@x.com) is consumed by the email redaction, and
      // n_phones must equal the [PHONE] markers actually emitted
      regexp_count(emailScrubbed, lit(phonePattern)).cast("long").as("n_phones"),
      md5(scrubbed).as("scrub_sig"),
      length(scrubbed).cast("long").as("scrub_len"))
  }

  /** Block-density main-content extraction (the jusText/readability
    * heuristic family) — the RANKING complement to [[htmlExtract]]'s
    * boilerplate strip: split the page into blocks at block-level tag
    * boundaries, score each block by length and LINK DENSITY, and keep
    * only content-shaped blocks (long enough, not link-dominated — nav
    * bars and footers are short and link-dense, body paragraphs are long
    * and link-sparse). One codegen-adjacent per-row pass over the block
    * array; the whole operator is a narrow projection, zero shuffle.
    *
    * Block verdict (integer cross-multiplication, inclusive bounds
    * documented): content iff visible chars ≥ `minChars` AND
    * link_chars·5 ≤ chars·2 (link fraction ≤ 0.4). Visible text =
    * remaining tags → space, whitespace collapsed, trimmed; link chars =
    * the same normalization applied to anchor interiors (before the tag
    * strip). Entity decoding is [[htmlExtract]]'s job — this operator
    * RANKS blocks, it does not re-extract them (documented contract).
    *
    * Output (one row per doc): n_blocks (non-empty), n_content_blocks,
    * content_chars, main_sig (md5 of the space-joined content text — the
    * replayable signature), main_len.
    */
  def mainContentBlocks(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      minChars: Int = 40): DataFrame = {
    val blockPat = "(?i)</?(?:p|div|h[1-6]|li|ul|ol|td|tr|table|article|section|br|nav|header|footer)[^>]*>"
    val anchorPat = "(?is)<a\\b[^>]*>(.*?)</a>"
    def vis(b: Column): Column =
      trim(regexp_replace(regexp_replace(b, "<[^>]*>", " "), "\\s+", " "))
    val blocks = DedupOps.bindOnce(
      filter(
        transform(
          split(coalesce(col(htmlCol), lit("")), blockPat),
          b => struct(
            vis(b).as("txt"),
            aggregate(
              transform(regexp_extract_all(b, lit(anchorPat), lit(1)), a => length(vis(a))),
              lit(0), (acc, x) => acc + x).as("lc"))),
        s => s("txt") =!= "")) { bs =>
      DedupOps.bindOnce(
        filter(bs, s =>
          length(s("txt")) >= minChars && s("lc") * 5 <= length(s("txt")) * 2)) { cs =>
        struct(
          size(bs).cast("long").as("n_blocks"),
          size(cs).cast("long").as("n_content_blocks"),
          aggregate(transform(cs, s => length(s("txt"))), lit(0), (a, x) => a + x)
            .cast("long").as("content_chars"),
          md5(array_join(transform(cs, s => s("txt")), " ")).as("main_sig"),
          length(array_join(transform(cs, s => s("txt")), " ")).cast("long").as("main_len"))
      }
    }
    df.select(col(idCol), blocks.as("b"))
      .select(col(idCol), col("b.n_blocks").as("n_blocks"),
        col("b.n_content_blocks").as("n_content_blocks"),
        col("b.content_chars").as("content_chars"),
        col("b.main_sig").as("main_sig"), col("b.main_len").as("main_len"))
  }

  /** robots.txt rule extraction (RFC 9309, the `*` user-agent groups) —
    * the crawl-politeness stage of the web-corpus story: a corpus derived
    * from a crawl must be able to answer "was this path allowed?".
    * Parses each domain's robots text with the RFC's group semantics as
    * ONE in-row sequential fold over lines: consecutive `User-agent:`
    * lines form a group header; a group's rules apply here iff one of its
    * agents is `*`; the first rule line closes the header. Comments (`#`)
    * strip first; `Allow:`/`Disallow:` match case-insensitively; an
    * EMPTY Disallow value disallows nothing (RFC) and empty values are
    * dropped. CONTRACT/LIMITS: specific user-agent groups are ignored
    * (the corpus-screening consumer is a generic crawler), and prefixes
    * match literally — no `*`/`$` wildcards (documented; the RFC makes
    * them optional extensions).
    *
    * Output: (domainCol, rule_idx, allow, prefix) — rule_idx in file
    * order over the emitted rules.
    */
  def robotsRules(robots: DataFrame, domainCol: String, txtCol: String): DataFrame = {
    val lines = transform(
      split(coalesce(col(txtCol), lit("")), "\n"),
      l => trim(regexp_replace(l, "#.*$", "")))
    // fold state: (in_ua_header, star_active, rules so far)
    val emptyRules = array().cast("array<struct<allow:boolean,prefix:string>>")
    val folded = aggregate(
      lines,
      struct(lit(false).as("in_ua"), lit(false).as("act"), emptyRules.as("rules")),
      (acc, l) => {
        val low = lower(l)
        val isUa = low.startsWith("user-agent:")
        val isAllow = low.startsWith("allow:")
        val isDis = low.startsWith("disallow:")
        // get() is 0-based and NULL-safe on short arrays (a colon-less
        // line must not trip ANSI element_at)
        val value = trim(coalesce(get(split(l, ":", 2), lit(1)), lit("")))
        val uaAct = when(acc("in_ua"), acc("act") || (value === "*"))
          .otherwise(value === "*")
        when(isUa,
          struct(lit(true).as("in_ua"), uaAct.as("act"), acc("rules").as("rules")))
          .when((isAllow || isDis) && acc("act") && value =!= "",
            struct(lit(false).as("in_ua"), acc("act").as("act"),
              concat(acc("rules"),
                array(struct(isAllow.as("allow"), value.as("prefix")))).as("rules")))
          .when(isAllow || isDis,
            struct(lit(false).as("in_ua"), acc("act").as("act"), acc("rules").as("rules")))
          .otherwise(acc)
      })
    robots.select(col(domainCol), posexplode(folded("rules")).as(Seq("rule_idx", "r")))
      .select(col(domainCol), col("rule_idx").cast("long").as("rule_idx"),
        col("r.allow").as("allow"), col("r.prefix").as("prefix"))
  }

  /** Screen crawled URLs against [[robotsRules]]: RFC 9309 precedence —
    * the LONGEST matching prefix decides; on a length tie `Allow` wins;
    * a path matching no rule is allowed. The argmax is the min-struct
    * (-len, disallow-rank, prefix) reduction (engine-total order, the
    * [[anchorText]] discipline). Rules are a |domains|-bounded relation:
    * broadcast join + one partial-aggregating reduction per URL — no
    * corpus-keyed shuffle beyond the per-URL argmax combine.
    *
    * Output: (idCol, domainCol, path, allowed, match_len, matched_prefix).
    */
  def robotsScreen(
      urls: DataFrame,
      idCol: String,
      domainCol: String,
      pathCol: String,
      rules: DataFrame): DataFrame = {
    // no filter: a URL whose domain rules all fail to match must SURVIVE
    // the aggregate (as allowed) — non-matching rows contribute NULL to
    // the min and nulls are ignored, so the URL keeps its row
    val matched = urls.select(col(idCol), col(domainCol), col(pathCol))
      .join(broadcast(rules), Seq(domainCol), "left")
      .groupBy(col(idCol), col(domainCol), col(pathCol))
      .agg(min(when(
        col("prefix").isNotNull && col(pathCol).startsWith(col("prefix")),
        struct((-length(col("prefix"))).as("nl"),
          when(col("allow"), 0).otherwise(1).as("dis"),
          col("prefix").as("prefix"),
          col("allow").as("allow")))).as("m"))
    matched.select(
      col(idCol), col(domainCol), col(pathCol),
      coalesce(col("m.allow"), lit(true)).as("allowed"),
      coalesce(length(col("m.prefix")).cast("long"), lit(0L)).as("match_len"),
      col("m.prefix").as("matched_prefix"))
  }

  /** Luhn-validated payment-card detection — the PRECISION half of the
    * PII family next to [[piiScrub]]'s pattern redaction: a 13–19-digit
    * run is only a card if its Luhn checksum verifies (ISO/IEC 7812; the
    * Presidio-style validation step), which kills the order-id/timestamp
    * false positives a bare digit-run regex would redact. Emits one row
    * per CANDIDATE with its verdict and only the last 4 digits (the
    * PCI-safe display form) — never the full run.
    *
    * One codegen'd extraction + an in-row checksum fold per candidate —
    * zero shuffle; the checksum is exact integer arithmetic replayed
    * verbatim by the oracle.
    *
    * Output: (idCol, cand_idx, n_digits, luhn_ok, last4).
    */
  def luhnCards(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ccPattern = "\\b(?:\\d[ -]?){12,18}\\d\\b"
    val cands = df.select(col(idCol),
      posexplode(regexp_extract_all(coalesce(col(textCol), lit("")),
        lit(ccPattern), lit(0))).as(Seq("cand_idx", "cand")))
    cands.select(
      col(idCol), col("cand_idx").cast("long").as("cand_idx"),
      DedupOps.bindOnce(filter(split(col("cand"), ""), c => c >= "0" && c <= "9")) { ds =>
        struct(
          size(ds).cast("long").as("n_digits"),
          (aggregate(
            transform(sequence(lit(1), size(ds)), i =>
              DedupOps.bindOnce(element_at(ds, i).cast("int")) { d =>
                when(pmod(size(ds) - i, lit(2)) === 0, d)
                  .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
              }),
            lit(0), (acc, x) => acc + x) % 10 === 0).as("luhn_ok"),
          concat_ws("", slice(ds, -4, 4)).as("last4"))
      }.as("s"))
      .select(col(idCol), col("cand_idx"), col("s.n_digits").as("n_digits"),
        col("s.luhn_ok").as("luhn_ok"), col("s.last4").as("last4"))
  }

  /** HTML → visible-text extraction — the web-corpus BOILERPLATE-REMOVAL
    * stage (the trafilatura/jusText slot, the first pass of every
    * web-scale LLM pipeline), re-expressed as ONE codegen'd narrow
    * projection: no UDF, no shuffle, payloads stay in place, 100 TB of
    * crawl scans at parquet speed.
    *
    * Pipeline, in the order that makes each step safe:
    *  1. drop `<head>…</head>` wholesale (title/script/style live there —
    *     and a script's raw `<`/`&&` would corrupt a naive tag regex, so
    *     containers go BEFORE the tag strip);
    *  2. drop the structural boilerplate containers `<nav> <header>
    *     <footer> <aside>` and any body-level `<script>/<style>`
    *     (lazy-matched, case-insensitive, DOTALL);
    *  3. count `<a` anchors (the link-density provenance signal) on the
    *     raw document;
    *  4. strip remaining tags to spaces;
    *  5. decode the core entities — `&lt; &gt; &quot; &#39; &nbsp;` first
    *     and `&amp;` strictly LAST (the standard unescape ordering:
    *     decoding `&amp;` first would turn `&amp;lt;` into a spurious
    *     `<`); escaped user content therefore can never inject structure,
    *     because tags were stripped before any entity became a bracket;
    *  6. collapse whitespace.
    *
    * CONTRACT/LIMITS (regex extractor, not an HTML5 parser): boilerplate
    * containers are matched non-nested (a `<nav>` inside a `<nav>` ends
    * the outer match early); entity coverage is the core five + named
    * space; malformed markup degrades to text, never to an error. A
    * deployment needing full HTML5 tree semantics swaps this body for a
    * parser on `mapPartitions` — the operator seam, like the multimodal
    * decode, stays.
    *
    * Output: (idCol, text_out, n_links).
    */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val raw = col(htmlCol)
    val noHead = regexp_replace(raw, "(?is)<head\\b[^>]*>.*?</head>", " ")
    val noBp = regexp_replace(noHead,
      "(?is)<(nav|header|footer|aside|script|style)\\b[^>]*>.*?</\\1>", " ")
    val noTags = regexp_replace(noBp, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"), "&nbsp;", " "),
      "&amp;", "&")
    df.select(
      col(idCol),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_out"),
      regexp_count(raw, lit("(?i)<a\\b")).cast("long").as("n_links"))
  }

  /** C4 rule-based cleaning gate (Raffel et al. 2020, §2.2) — the OTHER
    * canonical named rule set next to [[gopherRules]], and the one that
    * TRANSFORMS as well as gates: C4 first drops lines, then discards
    * pages. One codegen'd narrow projection, zero shuffle at any scale
    * (the natural companion stage right after [[htmlExtract]]).
    *
    * LINE rules (a line survives only if ALL hold):
    *  - ends with a terminal punctuation mark — period, exclamation mark,
    *    question mark, or end quotation mark (`[.!?"”]`, trailing
    *    whitespace allowed); the paper's apostrophe-quote is omitted to
    *    keep the predicate engine-portable and is noted here as the
    *    deviation;
    *  - has at least [[minLineWords]] (paper: 5) whitespace words;
    *  - does not mention `javascript` (case-insensitive) — the
    *    "please enable JavaScript" boilerplate.
    * `text_out` is the surviving lines rejoined by newline.
    *
    * PAGE rules (evaluated per the paper: curly brace, "lorem ipsum" and
    * the bad-word screen on the RAW page — a brace dropped with its line
    * still marks code; the sentence minimum on the RETAINED text, since
    * that is what would ship):
    *  - at least [[minSentences]] (paper: 3) sentences in the retained
    *    text, counted as terminal `[.!?]` marks;
    *  - no curly brace `{`/`}` anywhere (code page);
    *  - no `lorem ipsum` (case-insensitive) placeholder;
    *  - no word from `badWords` (case-insensitive, word-bounded) — the
    *    paper screens against the "List of Dirty, Naughty, Obscene or
    *    Otherwise Bad Words"; the list is a parameter here, callers
    *    supply their deployment's list.
    *
    * Output: (idCol, n_lines, n_kept_lines, n_sentences, r_min_sentences,
    * r_no_brace, r_no_lorem, r_no_badword, pass, text_out).
    */
  def c4Rules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      badWords: Seq[String],
      minLineWords: Int = 5,
      minSentences: Int = 3): DataFrame = {
    require(badWords.nonEmpty, "c4Rules needs a bad-word list (paper §2.2)")
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"”]\\s*$") &&
        size(filter(split(trim(l), "\\s+"), w => w =!= "")) >= minLineWords &&
        !lower(l).contains("javascript"))
    val clean = array_join(kept, "\n")
    val nSentences = regexp_count(clean, lit("[.!?]")).cast("long")
    val badPat = badWords.map(java.util.regex.Pattern.quote).mkString("\\b(", "|", ")\\b")
    val rMinSent = nSentences >= lit(minSentences.toLong)
    val rNoBrace = !t.rlike("[{}]")
    val rNoLorem = !lower(t).contains("lorem ipsum")
    val rNoBad = !lower(t).rlike(badPat)
    df.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nSentences.as("n_sentences"),
      rMinSent.as("r_min_sentences"),
      rNoBrace.as("r_no_brace"),
      rNoLorem.as("r_no_lorem"),
      rNoBad.as("r_no_badword"),
      (rMinSent && rNoBrace && rNoLorem && rNoBad).as("pass"),
      clean.as("text_out"))
  }

  /** URL canonicalization — the web-corpus PROVENANCE key (crawl dedup by
    * canonical URL, domain mixing caps, blocklist joins all key on this).
    * Deterministic string surgery, one codegen'd projection, zero shuffle.
    *
    * Rule set (each step mirrored verbatim by the oracle):
    *  1. trim; drop the `#fragment`;
    *  2. scheme and host lowercase; the port dropped when it is the
    *     scheme default (http:80, https:443), kept otherwise;
    *  3. a leading `www.` label dropped from the host;
    *  4. the path's trailing `/` dropped (the root path stays `/`; an
    *     empty path becomes `/`);
    *  5. query parameters split on `&`, empties dropped, TRACKING
    *     parameters dropped (name test, case-sensitive as tracking tags
    *     are in the wild: `utm_*`, `gclid`, `fbclid`, `ref`, `mc_eid`),
    *     the survivors sorted bytewise (full `k=v` token) and rejoined —
    *     parameter order never distinguishes two URLs again;
    *  6. `domain` is the registrable-domain approximation: the host's
    *     last two dot-labels (a public-suffix list is deployment data,
    *     same seam as [[c4Rules]]' bad-word list).
    *
    * Output: (idCol, url_canon, host, domain, path_canon, query_canon,
    * n_params_kept, n_params_dropped).
    */
  def urlNormalize(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val u0 = trim(col(urlCol))
    val u = regexp_replace(u0, "#.*$", "")
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val host0 = regexp_replace(hostport, ":[0-9]+$", "")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val host = regexp_replace(host0, "^www\\.", "")
    val tail = regexp_replace(rest, "^[^/?]*", "")
    val path0 = regexp_extract(tail, "^([^?]*)", 1)
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/$", ""))
    val query0 = when(tail.contains("?"), regexp_extract(tail, "\\?(.*)$", 1)).otherwise(lit(""))
    val params = filter(split(query0, "&"), p => p =!= "")
    val keptParams = array_sort(filter(params,
      p => !regexp_extract(p, "^([^=]*)", 1).rlike("^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_eid)$")))
    val queryCanon = array_join(keptParams, "&")
    val hostCanon = when(keepPort, concat(host, lit(":"), port)).otherwise(host)
    val canon = concat(scheme, lit("://"), hostCanon, path,
      when(queryCanon =!= "", concat(lit("?"), queryCanon)).otherwise(lit("")))
    val labels = split(host, "\\.")
    val nLabels = size(labels)
    val domain = when(nLabels >= 2,
      concat(element_at(labels, -2), lit("."), element_at(labels, -1))).otherwise(host)
    df.select(
      col(idCol),
      canon.as("url_canon"),
      hostCanon.as("host"),
      domain.as("domain"),
      path.as("path_canon"),
      queryCanon.as("query_canon"),
      size(keptParams).cast("long").as("n_params_kept"),
      (size(params) - size(keptParams)).cast("long").as("n_params_dropped"))
  }

  /** Anchor/href extraction from raw HTML — the LINK-GRAPH source every
    * crawl pipeline feeds PageRank/domain-authority from (the companion
    * of [[htmlExtract]], which only counts anchors). One generator
    * projection: (idCol, link_idx, href) per `<a ... href="...">` in
    * document order; documents without links emit nothing.
    *
    * The tag-interior class is LAZY (`[^>]*?`) — greedy would scan to the
    * tag end and backtrack per candidate position; possessive would eat
    * `href=` itself and never match. Double-quoted hrefs only (the
    * emitter contract of every templating system; single-quoted/bare
    * attrs are crawl exotica a deployment adds to the pattern).
    */
  def htmlLinks(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(regexp_extract_all(coalesce(col(htmlCol), lit("")),
        lit("(?i)<a\\b[^>]*?\\bhref\\s*=\\s*\"([^\"]*)\""), lit(1)))
        .as(Seq("link_idx", "href")))
      .select(col(idCol), col("link_idx").cast("long").as("link_idx"), col("href"))

  /** Anchor-text aggregation — the classic web-graph signal next to
    * [[htmlLinks]]: what OTHER pages call a target is a quality/retrieval
    * feature the target cannot fake (search engines have used anchor text
    * as document expansion since Brin & Page 1998). Extracts every
    * `<a href="...">text</a>` element (lazy interior — greedy would
    * re-scan; inner tags stripped from the text, whitespace collapsed)
    * and aggregates per raw href target:
    * `(target, n_anchors, n_source_docs, top_anchor, top_anchor_count)` —
    * the top anchor by (count DESC, text ASC) via the min-struct argmax
    * (the [[labelPropagation]] tie-break discipline, engine-total order).
    *
    * Shape: one codegen'd extraction projection, then two
    * partial-aggregating groupBys on the (target, anchor) relation — at
    * corpus scale only |targets|(+|target,anchor|) rows shuffle, never
    * pages. Normalize targets first with [[urlNormalize]] when crawl
    * provenance needs canonical keys; this operator aggregates whatever
    * target column the caller extracted, raw hrefs by default.
    */
  def anchorText(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val pat = "(?is)<a\\b[^>]*?\\bhref\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>"
    val pairs = df
      .select(col(idCol), explode(
        regexp_extract_all(coalesce(col(htmlCol), lit("")), lit(pat), lit(0))).as("__a"))
      .select(
        col(idCol),
        regexp_extract(col("__a"), pat, 1).as("target"),
        trim(regexp_replace(regexp_replace(
          regexp_extract(col("__a"), pat, 2), "<[^>]*>", " "), "\\s+", " ")).as("anchor"))
      .scopedCache() // feeds the per-target stats AND the per-anchor argmax
    val stats = pairs.groupBy(col("target")).agg(
      count(lit(1)).as("n_anchors"),
      countDistinct(col(idCol)).as("n_source_docs"))
    val top = pairs.groupBy(col("target"), col("anchor"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("target"))
      .agg(min(struct((-col("c")).as("nc"), col("anchor").as("a"))).as("m"))
      .select(col("target"), col("m.a").as("top_anchor"),
        (-col("m.nc")).as("top_anchor_count"))
    stats.join(top, Seq("target"))
  }

  /** Feature hashing (the hashing trick, Weinberger et al. 2009) — the
    * fixed-width BoW featurizer behind linear classifiers/regressors when
    * a vocabulary table is unwanted: token → md5-derived 60-bit hash →
    * bucket `(h div 2) mod dims`, sign `1 − 2·(h mod 2)`, feature value =
    * signed occurrence sum. Every step is the repo's replayable md5
    * fixed-point recipe ([[DedupOps.md5Hash60]]), so the whole feature
    * relation hash-matches a SQL oracle.
    *
    * LONG-FORM output (idCol, dim, value, n_tokens) — sparse rows, atomic
    * columns (the driver cell contract), and the natural shape for both
    * the classifier join and a 100 TB shuffle: the aggregate partial
    * combines map-side, so ≤ |docs|·dims rows ever cross the wire.
    */
  def hashFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int = 16): DataFrame = {
    require(dims >= 2, "dims must be >= 2")
    df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), DedupOps.md5Hash60(col("__t")).as("__h"))
      .select(col(idCol),
        expr(s"(__h div 2) % $dims").as("dim"),
        expr("1 - 2 * (__h % 2)").as("__sign"))
      .groupBy(col(idCol), col("dim"))
      .agg(sum(col("__sign")).as("value"), count(lit(1)).as("n_tokens"))
  }

  /** Flesch reading-ease readability — the classic quality feature
    * (education-level filters in curation stacks), in the repo's integer
    * fixed-point contract so both engines realize identical values:
    * syllables ≈ max(1, vowel-group count) per word (the standard
    * heuristic), sentences = terminal-punctuation marks, and
    * flesch_fp (micro-units) =
    * 206835000 − (w/s·1e6)·1015 div 1000 − (syl/w·1e6)·84600 div 1000
    * with every division truncating on nonnegative operands. Documents
    * with no words or no sentences keep NULL flesch (no silent zero).
    *
    * Output: (idCol, n_words, n_sentences, n_syllables, flesch_fp).
    * Zero shuffle — one codegen'd projection (HOF syllable fold aside).
    */
  def readabilityScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val w = tokens(t)
    val syl = aggregate(
      transform(w, x =>
        greatest(lit(1L), (size(split(lower(x), "[aeiouy]+", -1)) - 1).cast("long"))),
      lit(0L), (acc, s) => acc + s)
    df.select(
      col(idCol),
      size(w).cast("long").as("n_words"),
      regexp_count(t, lit("[.!?]")).cast("long").as("n_sentences"),
      syl.as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") > 0 && col("n_sentences") > 0,
          lit(206835000L)
            - expr("((n_words * 1000000) div n_sentences) * 1015 div 1000")
            - expr("((n_syllables * 1000000) div n_words) * 84600 div 1000"))
          .as("flesch_fp"))
  }

  /** Frequency-ranked vocabulary of the corpus's most common `vocabSize`
    * normalized tokens: (token, n, id) with dense ids 0..vocabSize-1
    * assigned by (count DESC, token ASC) — the deterministic total order
    * that makes the vocab reproducible on any engine.
    *
    * Shape: the corpus-sized token counting is a partial-aggregating
    * groupBy; the ranking is `orderBy().limit(vocabSize)` — a TakeOrdered
    * (per-partition top-k then a k-sized driver merge), NEVER a global
    * single-partition window sort. A web-crawl corpus's distinct-token set
    * (typos, unicode junk) is 10⁸+, which a no-partition window would
    * funnel through one task; top-k keeps the reduction distributed. The
    * vocabSize survivors (small by the operator's contract — a vocab IS
    * driver-sized) are collected once and re-emitted as a local relation
    * with their dense ids, which downstream encoders broadcast anyway.
    */
  def buildVocab(df: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    vocabFromCounts(vocabCounts(df, textCol), vocabSize)

  /** Raw corpus token counts `(token, n)` — the maintainable statistic
    * behind the vocabulary: counts ADD across increments, so an operating
    * store keeps this relation and folds each batch in with
    * [[mergeVocabCounts]] instead of re-scanning history (the registered
    * incremental query proves the fold lossless by sharing q_vocab_build's
    * oracle).
    */
  def vocabCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Sum count relations token-wise — the incremental vocab fold. */
  def mergeVocabCounts(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one count relation")
    parts.reduce(_.unionByName(_)).groupBy(col("token")).agg(sum(col("n")).as("n"))
  }

  /** Frequency-ranked dense-id vocabulary from a count relation (top-k via
    * orderBy+limit TakeOrdered — never a global single-partition window).
    */
  def vocabFromCounts(counts: DataFrame, vocabSize: Int): DataFrame = {
    val top = counts.orderBy(col("n").desc, col("token")).limit(vocabSize).collect()
    val spark = counts.sparkSession
    import spark.implicits._
    top.toSeq.zipWithIndex
      .map { case (r, i) => (r.getString(0), r.getLong(1), i.toLong) }
      .toDF("token", "n", "id")
  }

  /** Encode each document as vocab ids (unknown → -1), emitting scalar
    * invariants rather than the id array itself (arrays don't survive
    * engine-neutral comparison): token/unk counts and an md5 signature of
    * the comma-joined id sequence in position order — the cheap equality
    * witness for the full encoding. The vocab is broadcast (it is tiny by
    * construction); the corpus is scanned once and only (doc, pos, id)
    * rows flow into the per-document aggregation.
    */
  def encodeTokens(df: DataFrame, idCol: String, textCol: String, vocab: DataFrame): DataFrame = {
    val toks = df
      .select(col(idCol), posexplode(split(normalize(col(textCol)), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    toks
      .join(broadcast(vocab.select(col("token"), col("id"))), Seq("token"), "left")
      .withColumn("tid", coalesce(col("id"), lit(-1L)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("id").isNull, lit(1))).as("n_unk"),
        md5(concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("pos"), col("tid")))),
            s => s.getField("tid").cast("string")))).as("ids_sig"))
  }

  /** Curriculum bins: every document is assigned its quality k-tile WITHIN
    * its predicted language (ntile over (lang, quality ASC, id)) — the
    * standard curriculum-learning prep, where training schedules draw from
    * ascending-quality bins per language instead of a global ordering that
    * would interleave languages by score. Deterministic: the quality score
    * and language are pure row functions and the tiebreak is the id.
    *
    * Scale shape: language-partitioned window — per-stratum sort, no global
    * sort; same shape as [[qualityRank]]'s percentile.
    */
  def curriculumBins(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val q = qualityScore(df, idCol, textCol).select(col(idCol), col("quality"))
    val lang = langId(df, textCol).select(col(idCol), col("pred_lang"))
    val w = Window.partitionBy(col("pred_lang")).orderBy(col("quality"), col(idCol))
    q.join(lang, idCol)
      .withColumn("bin", ntile(k).over(w).cast("long"))
      .select(col(idCol), col("pred_lang"), col("quality"), col("bin"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per predicted
    * language, scored documents split into head/middle/tail TERCILES of the
    * [[lmScore]] perplexity proxy (mean negative log-likelihood per token,
    * ascending — the most-fluent third is `head`, the noisiest `tail`; the
    * canonical pipeline trains on head+middle). Unscored documents (no
    * tokens) are dropped, as in the reference pipeline. Ordering is total —
    * (avg_nll, id) — so the tercile assignment is deterministic on both
    * engines; avg_nll itself derives from order-free integer statistics,
    * so the sort key is bit-stable across partitionings.
    *
    * Scale shape: the ntile window partitions by language — a handful of
    * giant partitions at corpus scale. This registered form is the exact
    * small-N semantics ([[curriculumBins]] precedent); the 100 TB lever is
    * the CCNet original: compute per-language tercile CUTOFFS from a
    * histogram/sample, broadcast them, and assign by comparison — one scan,
    * no global sort. The cutoff form trades exact tercile cardinality for
    * scan-shaped assignment; semantics otherwise identical.
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = lmScore(df, idCol, textCol).filter(col("n_scored").isNotNull)
    val lang = langId(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), col("pred_lang"))
    val w = Window.partitionBy(col("pred_lang")).orderBy(col("avg_nll"), col(idCol))
    scored.join(lang, Seq(idCol))
      .withColumn("tercile", ntile(3).over(w))
      .select(
        col(idCol), col("pred_lang"), col("n_scored"), col("sum_logq"), col("avg_nll"),
        when(col("tercile") === 1, lit("head"))
          .when(col("tercile") === 2, lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Corpus-trained interpolated bigram language-model score per document —
    * the CCNet/KenLM-style perplexity quality filter re-expressed with
    * engine-portable fixed-point arithmetic. The LM is add-α (α=1) smoothed
    * and trained on the corpus itself: p_uni(w) = (c(w)+1)/(N+V),
    * p_bi(w|v) = (c(v w)+1)/(c(v)+V), and each occurrence scores
    * ln(λ·p_bi + (1−λ)·p_uni) with λ=0.5 (first token: unigram only). The
    * per-occurrence log is QUANTIZED to a BIGINT (round(ln·10⁶)) before the
    * per-document sum, so the aggregate is an order-free integer — immune
    * to float summation order across partitions, engines and runs — and
    * avg_nll (mean negative log-likelihood per token, the perplexity
    * exponent; high = unnatural text) is derived per-row from the two
    * integer statistics. Empty documents keep their row with NULL stats.
    *
    * Scale shape: the tokens+prev construction is ONE in-row array
    * transform (no window, no array carried through the explode); the
    * unigram/bigram tables are Zipf-small partial-aggregating groupBys;
    * scoring joins shuffle only (doc, token, prev) triples against the
    * count tables (at 100 TB the LM tables are the side to bucket or
    * broadcast-threshold, same adjudication as [[rarityStats]]); N/V ride
    * a broadcast single-row cross join. The exploded occurrence relation
    * feeds the two count aggregations AND the scoring join, so it is
    * cached (module caching contract: caller/harness clears).
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = lmOccurrences(df, idCol, textCol).scopedCache()
    lmScoreFrom(df, idCol, occ,
      occ.groupBy(col("token")).agg(count(lit(1)).as("cw")),
      occ.filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("cb")))
  }

  /** The (id, token, prev) occurrence relation behind [[lmScore]] — one
    * in-row array transform (prev zipped inside the array before the
    * explode, no window, no array carried through), empty tokens dropped.
    */
  private[graft] def lmOccurrences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withPrev = DedupOps.bindOnce(split(normalize(col(textCol)), " ")) { w =>
      transform(w, (t, i) =>
        struct(
          t.as("token"),
          when(i > 0, element_at(w, i)).as("prev")))
    }
    df.select(col(idCol), explode(withPrev).as("g"))
      .select(col(idCol), col("g.token").as("token"), col("g.prev").as("prev"))
      .filter(col("token") =!= "")
  }

  /** The maintainable LM statistics: unigram `(token, cw)` and bigram
    * `(prev, token, cb)` counts. Counts ADD across increments — an
    * operating store keeps these two relations and folds each batch in
    * with [[mergeLmCounts]] instead of re-scanning history, exactly the
    * [[vocabCounts]]/[[mergeVocabCounts]] contract; the registered
    * incremental query proves the fold lossless by sharing q_lm_score's
    * oracle (N and V derive from the unigram relation, so they need no
    * separate maintenance).
    */
  def lmCounts(df: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) =
    lmCountsFromOccurrences(lmOccurrences(df, idCol, textCol).scopedCache())

  /** [[lmCounts]] over a pre-built (and typically staged) occurrence
    * relation — the one-tokenize-pass seam: an incremental maintainer
    * that also scores against the fold (q_lm_incremental) derives every
    * batch's counts AND the scoring occurrences from ONE corpus pass
    * instead of re-tokenizing per consumer.
    */
  def lmCountsFromOccurrences(occ: DataFrame): (DataFrame, DataFrame) =
    (occ.groupBy(col("token")).agg(count(lit(1)).as("cw")),
      occ.filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("cb")))

  /** Sum LM count relations key-wise — the incremental LM fold. */
  def mergeLmCounts(parts: (DataFrame, DataFrame)*): (DataFrame, DataFrame) = {
    require(parts.nonEmpty, "need at least one count pair")
    (parts.map(_._1).reduce(_.unionByName(_))
      .groupBy(col("token")).agg(sum(col("cw")).as("cw")),
      parts.map(_._2).reduce(_.unionByName(_))
        .groupBy(col("prev"), col("token")).agg(sum(col("cb")).as("cb")))
  }

  /** Score `df` against externally-supplied LM count relations (the
    * incremental-store operating mode; [[lmScore]] is the self-contained
    * train-on-yourself form).
    */
  def lmScoreFromCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      uni: DataFrame,
      big: DataFrame): DataFrame =
    lmScoreFrom(df, idCol, lmOccurrences(df, idCol, textCol), uni, big)

  /** [[lmScoreFromCounts]] over a pre-built occurrence relation — pairs
    * with [[lmCountsFromOccurrences]] for the staged-tokenize form.
    * `df` supplies the id spine (unscored docs keep their NULL row).
    */
  def lmScoreFromCountsOcc(
      df: DataFrame,
      idCol: String,
      occ: DataFrame,
      uni: DataFrame,
      big: DataFrame): DataFrame =
    lmScoreFrom(df, idCol, occ, uni, big)

  private def lmScoreFrom(
      df: DataFrame,
      idCol: String,
      occ: DataFrame,
      uni0: DataFrame,
      big: DataFrame): DataFrame = {
    // cached: the unigram relation feeds the totals aggregate AND both
    // scoring joins (token and prev) — three consumers, and in the
    // incremental form each recompute would re-fold the count union
    // (module caching contract: caller/harness clears)
    val uni = uni0.scopedCache()
    val tot = uni.agg(sum(col("cw")).cast("long").as("n"), count(lit(1)).as("v"))
    // out-of-vocabulary coalesces (tokens absent from external counts score
    // as unseen, c=0 — the add-α row): no-ops in the self-trained form,
    // where every scored token is in its own count tables by construction
    val pUni = (coalesce(col("cw"), lit(0L)) + lit(1.0)) / (col("n") + col("v"))
    val pBi = (coalesce(col("cb"), lit(0L)) + lit(1.0)) /
      (coalesce(col("cprev"), lit(0L)) + col("v"))
    val lp = when(col("prev").isNull, log(pUni))
      .otherwise(log(lit(0.5) * pBi + lit(0.5) * pUni))
    val scored = occ
      .join(uni, Seq("token"), "left")
      .join(uni.select(col("token").as("prev"), col("cw").as("cprev")), Seq("prev"), "left")
      .join(big, Seq("prev", "token"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_scored"),
        sum(round(lp * lit(1.0e6)).cast("long")).as("sum_logq"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(
        col(idCol), col("n_scored"), col("sum_logq"),
        (-(col("sum_logq").cast("double") / (col("n_scored").cast("double") * lit(1.0e6))))
          .as("avg_nll"))
  }

  // ─────────────── Stupid Backoff trigram LM (Brants 2007) ───────────────

  /** round(ln(0.4)·10⁶) — the Stupid Backoff multiplier in micro-nats,
    * embedded as ONE literal on both engines (ln(0.4) = −0.91629073…,
    * rounding half-away-from-zero and half-up agree on it) so the score
    * arithmetic is pure integers end-to-end.
    */
  private[graft] val SbAlphaFp = -916291L

  /** Token occurrences with BOTH context words: `(id, token, prev,
    * prev2)` — [[lmOccurrences]] extended one position left for the
    * trigram level.
    */
  private[graft] def sbOccurrences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withCtx = DedupOps.bindOnce(split(normalize(col(textCol)), " ")) { w =>
      transform(w, (t, i) =>
        struct(
          t.as("token"),
          when(i > 0, element_at(w, i)).as("prev"),
          when(i > 1, element_at(w, i - 1)).as("prev2")))
    }
    df.select(col(idCol), explode(withCtx).as("g"))
      .select(col(idCol), col("g.token").as("token"),
        col("g.prev").as("prev"), col("g.prev2").as("prev2"))
      .filter(col("token") =!= "")
  }

  /** The maintainable Stupid-Backoff statistics: unigram / bigram /
    * trigram count relations. All three are counts monoids —
    * [[mergeSbCounts]] folds per-batch increments, and the registered
    * incremental query shares q_sb_score's oracle as the losslessness
    * proof (the [[lmCounts]] contract extended one level).
    */
  def sbCounts(
      df: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame, DataFrame) =
    sbCountsFromOccurrences(sbOccurrences(df, idCol, textCol).scopedCache())

  /** [[sbCounts]] over a pre-built occurrence relation — the
    * one-tokenize-pass seam, mirroring [[lmCountsFromOccurrences]]. */
  def sbCountsFromOccurrences(occ: DataFrame): (DataFrame, DataFrame, DataFrame) =
    (occ.groupBy(col("token")).agg(count(lit(1)).as("c1")),
      occ.filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("c2")),
      occ.filter(col("prev2").isNotNull)
        .groupBy(col("prev2"), col("prev"), col("token")).agg(count(lit(1)).as("c3")))

  /** Sum Stupid-Backoff count relations key-wise — the incremental fold. */
  def mergeSbCounts(
      parts: (DataFrame, DataFrame, DataFrame)*): (DataFrame, DataFrame, DataFrame) = {
    require(parts.nonEmpty, "need at least one count triple")
    (parts.map(_._1).reduce(_.unionByName(_))
      .groupBy(col("token")).agg(sum(col("c1")).as("c1")),
      parts.map(_._2).reduce(_.unionByName(_))
        .groupBy(col("prev"), col("token")).agg(sum(col("c2")).as("c2")),
      parts.map(_._3).reduce(_.unionByName(_))
        .groupBy(col("prev2"), col("prev"), col("token")).agg(sum(col("c3")).as("c3")))
  }

  /** Stupid Backoff scoring (Brants et al. 2007, "Large Language Models
    * in Machine Translation") against externally-supplied count
    * relations — the LM that actually ships at web scale: no discounting,
    * no normalization, just relative frequencies with a fixed 0.4 penalty
    * per backoff level, which is exactly what makes it embarrassingly
    * distributable (each level is one count join). Per occurrence, in
    * micro-nats with every ln quantized BEFORE the arithmetic:
    *
    *   S(w | u, v) = ln c₃(u,v,w) − ln c₂(u,v)          if the trigram is seen
    *               = α + ln c₂(v,w) − ln c₁(v)           else if the bigram is
    *               = 2α + ln c₁(w) − ln N                else       (α = ln 0.4)
    *
    * (positions 1-2 enter the ladder at their widest available level).
    * Output: (id, n_scored, sb_fp, avg_nll) — the [[lmScore]] artifact
    * shape, sb_fp the order-free integer sum. Self-trained on the scored
    * corpus every token is in-vocabulary; with external counts an unseen
    * token would need an OOV floor (not modeled here — the oracle-parity
    * bound, same as [[lmScoreFromCounts]]'s coalesce convention).
    */
  def stupidBackoffFromCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      uni0: DataFrame,
      bi0: DataFrame,
      tri: DataFrame): DataFrame =
    stupidBackoffFromCountsOcc(
      df, idCol, sbOccurrences(df, idCol, textCol), uni0, bi0, tri)

  /** [[stupidBackoffFromCounts]] over a pre-built occurrence relation —
    * pairs with [[sbCountsFromOccurrences]] for the staged-tokenize form.
    * `df` supplies the id spine (unscored docs keep their NULL row).
    */
  def stupidBackoffFromCountsOcc(
      df: DataFrame,
      idCol: String,
      occ: DataFrame,
      uni0: DataFrame,
      bi0: DataFrame,
      tri: DataFrame): DataFrame = {
    val uni = uni0.scopedCache()
    val bi = bi0.scopedCache()
    val tot = uni.agg(sum(col("c1")).cast("long").as("n"))
    // INNER join on the unigram vocabulary: an occurrence whose TOKEN the
    // counts never saw is excluded from scoring entirely (n_scored counts
    // in-vocabulary occurrences only) — the OOV convention Brants leaves
    // undefined, made explicit and oracle-mirrored (the oracle's inner
    // JOIN uni does the same). Self-trained forms are unaffected (every
    // token is in its own counts); the deployment split (q_sb_assign)
    // exercises it. An OOV CONTEXT word is different: the bigram/trigram
    // lookups miss and the ladder backs off with its α penalties.
    val scored = occ
      .join(uni, Seq("token"))
      .join(uni.select(col("token").as("prev"), col("c1").as("cprev")), Seq("prev"), "left")
      .join(bi, Seq("prev", "token"), "left")
      .join(
        bi.select(col("prev").as("prev2"), col("token").as("prev"), col("c2").as("ctx2")),
        Seq("prev2", "prev"), "left")
      .join(tri, Seq("prev2", "prev", "token"), "left")
      .crossJoin(broadcast(tot))
    val u = lnFp(col("c1")) - lnFp(col("n"))
    val biS = lnFp(col("c2")) - lnFp(col("cprev"))
    val triS = lnFp(col("c3")) - lnFp(col("ctx2"))
    val s = when(col("prev").isNull, u)
      .when(col("prev2").isNull,
        when(col("c2").isNotNull, biS).otherwise(lit(SbAlphaFp) + u))
      .otherwise(
        when(col("c3").isNotNull, triS)
          .when(col("c2").isNotNull, lit(SbAlphaFp) + biS)
          .otherwise(lit(2L * SbAlphaFp) + u))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"), sum(s).as("sb_fp"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(
        col(idCol), col("n_scored"), col("sb_fp"),
        (-(col("sb_fp").cast("double") / (col("n_scored").cast("double") * lit(1.0e6))))
          .as("avg_nll"))
  }

  /** Self-trained Stupid Backoff over the corpus — counts and scoring in
    * one call ([[lmScore]]'s operating split, one level deeper).
    */
  def stupidBackoffScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (uni, bi, tri) = sbCounts(df, idCol, textCol)
    stupidBackoffFromCounts(df, idCol, textCol, uni, bi, tri)
  }

  /** BM25 retrieval (Robertson–Spärck Jones, the Lucene-variant IDF):
    * top-`k` corpus documents per query under
    * score(q,d) = Σ_{t∈q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — always positive. Portability
    * contract as everywhere in this module: the per-(query,doc,term)
    * contribution is quantized to BIGINT millionths BEFORE the score sum,
    * so the ranking integer is order-free and exact on any engine; the
    * readable `score` double is derived per-row from it. Ties break to the
    * lower doc id; a query's own document is excluded (self-retrieval is
    * trivially rank 1).
    *
    * Scale shape: tf/dl/df are the usual partial-aggregating token
    * groupBys; the retrieval itself is the INVERTED-INDEX join — query
    * terms joined to the (term, doc, tf) postings on the term, one shuffle
    * keyed by term, then one (query, doc) aggregation and a rank-filtered
    * per-query window (WindowGroupLimit). At 100 TB the term-keyed join is
    * the operator to impact-order or broadcast-threshold (queries are the
    * small side by construction); document text never shuffles.
    */
  def bm25Search(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (tf, dl, dfreq, stats) = bm25Stats(docs, idCol, textCol)
    bm25SearchFromStats(queries, qidCol, qtextCol, idCol, tf, dl, dfreq, stats, k, k1, b)
  }

  /** The maintainable BM25 index statistics: postings `(id, term, tf)`,
    * doc lengths `(id, dl)`, document frequencies `(term, df)` and the
    * single-row corpus totals `(nd, tl)`. For an append-only corpus all
    * four ADD across increments — postings/lengths by disjoint union, df
    * termwise, totals elementwise — so an operating store folds each batch
    * in with [[mergeBm25Stats]] instead of re-indexing history; the
    * registered incremental query proves the fold lossless by sharing
    * q_bm25's oracle.
    */
  def bm25Stats(
      docs: DataFrame,
      idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // ONE pass over the exploded token relation: tf is the only aggregate
    // that reads it (map-side partial agg pipelines straight off the scan,
    // nothing 5M-rows-wide is ever cached); dl = Σ tf per doc and dfreq =
    // count per term both derive from the (much smaller) cached postings.
    // A doc with zero tokens is absent from tf, hence from dl, in both
    // formulations — nd/tl semantics unchanged.
    val tf = docs
      .select(col(idCol), explode(split(normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .scopedCache()
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl")).scopedCache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
    (tf, dl, dfreq, stats)
  }

  /** Fold BM25 index increments — disjoint-doc unions for postings and
    * lengths, termwise df sums, elementwise totals. Contract: the parts
    * index DISJOINT document sets (append-only corpus); overlapping ids
    * would double-count df/tl.
    */
  def mergeBm25Stats(
      parts: (DataFrame, DataFrame, DataFrame, DataFrame)*)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(parts.nonEmpty, "need at least one stats tuple")
    (parts.map(_._1).reduce(_.unionByName(_)),
      parts.map(_._2).reduce(_.unionByName(_)),
      parts.map(_._3).reduce(_.unionByName(_))
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      parts.map(_._4).reduce(_.unionByName(_))
        .agg(sum(col("nd")).cast("long").as("nd"), sum(col("tl")).cast("long").as("tl")))
  }

  /** Score queries against externally-maintained BM25 index statistics
    * (the incremental-store operating mode; [[bm25Search]] is the
    * self-contained index-and-search form).
    *
    * The per-(term, doc) contribution `cq` is QUERY-INDEPENDENT, so it is
    * computed once per posting (|postings| rows of double math + round)
    * and only then joined to the query terms — through round 9 the
    * rounding ran inside the (query × posting) expansion, paying the
    * identical arithmetic |queries| times over (the whole heavy stage of
    * q_retrieval_eval's 2.85× driver flag). The expansion itself (one row
    * per query term per matching posting) is inherent to term-at-a-time
    * retrieval and aggregates map-side; every join before it is
    * broadcast-sized (doc lengths, idf, totals, query terms).
    *
    * `maxDfFrac < 1` prunes STOP TERMS — postings of terms with
    * df > maxDfFrac·N never join (the impact-ordered-index discipline;
    * on a Zipf vocabulary the handful of stop terms carry most posting
    * mass at near-zero idf, so the cut is the difference between
    * |q|·|corpus| and |q|·|useful postings| at 100 TB). It CHANGES scores
    * (pruned contributions are dropped exactly, not approximated) and
    * must be mirrored in any oracle. Default 1.0 = off: the registered
    * queries keep it off because the synthetic bench corpus has a 31-term
    * vocabulary with 30 terms at a uniform ~77% df — any cap under that
    * leaves a single 5%-df term and empties the retrieval result (the
    * vacuous-gate failure mode), while real corpora are where the lever
    * pays.
    */
  def bm25SearchFromStats(
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      idCol: String,
      tf: DataFrame,
      dl: DataFrame,
      dfreq: DataFrame,
      stats: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame =
    bm25SearchFromScored(
      queries, qidCol, qtextCol, idCol,
      bm25ScoredPostings(tf, dl, dfreq, stats, idCol, k1, b, maxDfFrac), k)

  /** The QUERY-INDEPENDENT scored posting relation `(term, idCol, cq)` —
    * [[bm25SearchFromStats]]'s heavy leg split out so a session (or a
    * 100 TB deployment) computes it ONCE per index version and every
    * query batch rides [[bm25SearchFromScored]] against the staged
    * relation: cq packs the whole BM25 term weight (idf × saturated-tf ×
    * length norm) per posting, so nothing per-query ever recomputes
    * per-posting math. This is the impact-ordered-index posture; the
    * registered retrieval queries stage it inside artifact_bm25_index.
    */
  def bm25ScoredPostings(
      tf: DataFrame,
      dl: DataFrame,
      dfreq: DataFrame,
      stats: DataFrame,
      idCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, "maxDfFrac must be in (0, 1]")
    val capped =
      if (maxDfFrac >= 1.0) dfreq
      else dfreq.crossJoin(broadcast(stats.select(col("nd").as("__nd"))))
        .filter(col("df").cast("double") <= lit(maxDfFrac) * col("__nd").cast("double"))
        .drop("__nd")
    val idfq = capped.crossJoin(broadcast(stats))
      .select(col("term"),
        round(log(lit(1.0) +
          (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * lit(1.0e6))
          .cast("long").as("idfq"))
    val avgdl = col("tl").cast("double") / col("nd").cast("double")
    val factor = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    // query-independent posting score: one rounding pass over |postings|.
    // idfq is vocabulary-bounded and explicitly broadcast — planned cold
    // (off a cached RDD with no stats) the term join otherwise falls to a
    // sort-merge join that shuffles every posting on a low-cardinality
    // term key (measured 1.5× on q_bm25 when it regressed that way)
    tf.join(dl, Seq(idCol))
      .join(broadcast(idfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("cq",
        round((col("idfq").cast("double") / lit(1.0e6)) * factor * lit(1.0e6)).cast("long"))
      .select(col("term"), col(idCol), col("cq"))
  }

  /** Score a query batch against a staged [[bm25ScoredPostings]]
    * relation: explode query terms (BROADCAST — the query batch is the
    * small side by contract, the [[graft.ops.SimilarityOps.knnBrute]]
    * probes rule; without stats on a checkpoint-backed posting relation
    * the term join otherwise plans sort-merge and shuffles every posting
    * over a vocabulary-sized — i.e. skewed — key), accumulate per
    * (query, doc), then per-query top-k through the BOUNDED HEAP
    * aggregator instead of a window rank: the window form shuffles and
    * fully sorts the |queries|·|docs|-scale scored relation, the heap
    * moves k rows per partition per query (same (score desc, id asc)
    * order, row-identical output — the knnBruteAgg equivalence).
    */
  def bm25SearchFromScored(
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      idCol: String,
      scored: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    require(k >= 1, "k must be positive")
    val qterms = queries
      .select(col(qidCol).as("query_id"),
        explode(array_distinct(split(normalize(col(qtextCol)), " "))).as("term"))
      .filter(col("term") =!= "")
    val topk = udaf(new graft.functions.TopKAggregator(k))
    broadcast(qterms)
      .join(scored, Seq("term"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("cq")).as("score_fp"))
      // score_fp ≤ |query terms|·max cq ≪ 2^53: the Double-scored heap
      // preserves the exact integer order (ties to the lower doc id)
      .groupBy(col("query_id"))
      .agg(topk(col("score_fp").cast("double"), col(idCol)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"), col("entry.id").as("doc_id"),
        col("entry.score").cast("long").as("score_fp"),
        (col("entry.score") / lit(1.0e6)).as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Unigram distribution drift between two corpora — the per-term
    * Laplace-smoothed KL(A‖B) contributions, the data-drift monitor a
    * training pipeline runs between crawl snapshots / corpus versions
    * before a mixture decision. Per-term contribution
    * pA·ln(pA/pB) quantizes to BIGINT micro-nats AFTER a fully mirrored
    * double expression on integer-derived probabilities (the [[lmScore]]
    * portability recipe: doubles stay per-row, only integers cross rows),
    * so Σcontrib_fp is an order-free integer total. Smoothing is over the
    * UNION vocabulary, so unseen-in-B terms contribute large positive
    * drift instead of dividing by zero.
    *
    * Shape: two token-count aggregates, a full outer join on the term
    * (vocabulary-sized), single-row totals broadcast back — the corpus
    * scans once per side, everything after is dimension-sized.
    *
    * Output: (term, c_a, c_b, contrib_fp) — KL(A‖B) in micro-nats =
    * sum(contrib_fp).
    */
  def distributionDrift(
      a: DataFrame,
      b: DataFrame,
      textCol: String): DataFrame =
    distributionDriftFromCounts(vocabCounts(a, textCol), vocabCounts(b, textCol))

  /** [[distributionDrift]] over externally-maintained [[vocabCounts]]
    * relations — the incremental operating mode: corpus versions keep
    * per-batch count relations folded with [[mergeVocabCounts]], and the
    * drift monitor reads the folds without re-tokenizing history. The
    * registered incremental query proves the fold path lossless by
    * sharing q_vocab_drift's oracle.
    */
  def distributionDriftFromCounts(ca: DataFrame, cb: DataFrame): DataFrame = {
    val joined = ca.select(col("token").as("term"), col("n").as("c_a"))
      .join(cb.select(col("token").as("term"), col("n").as("c_b")), Seq("term"), "full_outer")
      .select(
        col("term"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .scopedCache()
    val totals = joined.agg(
      sum(col("c_a")).as("na"), sum(col("c_b")).as("nb"),
      count(lit(1)).as("v"))
    joined.crossJoin(broadcast(totals))
      .select(
        col("term"), col("c_a"), col("c_b"),
        round(
          ((col("c_a") + 1).cast("double") / (col("na") + col("v")).cast("double"))
            * log(
              ((col("c_a") + 1).cast("double") / (col("na") + col("v")).cast("double"))
                / ((col("c_b") + 1).cast("double") / (col("nb") + col("v")).cast("double")))
            * lit(1.0e6)).cast("long").as("contrib_fp"))
  }

  /** Retrieval evaluation — per-query MRR/hits@k/recall@k of a ranked
    * result relation against a relevance relation, entirely in integer
    * arithmetic (reciprocal ranks as `1e6 div rank` fixed point, capped
    * recall as `(hits·1e6) div min(n_rel, k)`), so the whole scorecard is
    * engine-exact. The relevance side is any (query, doc) relation — the
    * registered query uses near-dup cluster co-membership, making the
    * metric itself a composition of two independently-oracled relations.
    *
    * Shape: one distinct on each input, one equi-join on (query, doc),
    * two dimension-sized aggregates, two left joins back onto the query
    * set — every post-join relation is query-count-sized. Queries with no
    * relevant documents keep a row (n_rel = 0, NULL ranks) so macro
    * averages can choose their denominator downstream.
    *
    * Output: (query_id, n_rel, first_rel_rank, rr_fp, hits_at_k,
    * recall_fp).
    */
  def retrievalEval(
      results: DataFrame,
      relevance: DataFrame,
      qidCol: String,
      docCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val res = results.select(col(qidCol), col(docCol), col(rankCol)).scopedCache()
    // cached like `res`: the relevance relation feeds BOTH the per-query
    // n_rel aggregate and the hit join below, and its upstream lineage is
    // typically expensive (q_retrieval_eval derives it from a shingle-join
    // near-dup pair relation) — without materialization each branch
    // re-derives it
    val rel = relevance.select(col(qidCol), col(docCol)).distinct().scopedCache()
    val qs = res.select(col(qidCol)).distinct()
    val relq = qs.join(rel, qidCol)
      .groupBy(col(qidCol)).agg(count(lit(1)).as("n_rel"))
    val hit = res.join(rel, Seq(qidCol, docCol))
      .groupBy(col(qidCol))
      .agg(
        min(col(rankCol)).as("first_rel_rank"),
        sum(when(col(rankCol) <= k, 1L).otherwise(0L)).as("hits_at_k"))
    qs.join(relq, Seq(qidCol), "left").join(hit, Seq(qidCol), "left")
      .select(
        col(qidCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("first_rel_rank"),
        expr("1000000 div first_rel_rank").as("rr_fp"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          expr(s"(coalesce(hits_at_k, 0) * 1000000) div least(n_rel, $k)")).as("recall_fp"))
  }

  /** Per-source dataset report — the "data card" table a corpus release
    * ships with: per source, document/token/char volume, the
    * exact-duplicate rate (md5 of the raw text counted corpus-wide, so a
    * cross-source duplicate marks BOTH sources), mean heuristic quality,
    * and the dominant predicted language with its share. Ratios and the
    * quality mean are fixed-point (per-doc quality rounds to BIGINT
    * millionths BEFORE the sum — order-free integer totals, truncated-div
    * means), so the whole report is engine-exact.
    *
    * Shape: ONE corpus scan computes every per-doc feature (tokens,
    * quality, language vote, fingerprint) in a single codegen'd
    * projection; the fingerprint join is the only corpus-keyed shuffle
    * (dup detection needs it); the per-source rollup and the language
    * argmax are source-cardinality-sized. At 100 TB: the fingerprint
    * relation is the one to bucket; everything downstream is a dimension
    * table.
    *
    * Output: (source, n_docs, total_tokens, total_chars, n_dups,
    * dup_rate_fp, mean_quality_fp, top_lang, top_lang_share_fp).
    */
  def dataCard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // every per-doc feature from ONE projection over one scan — quality
    // and language are inline expressions (qualityExpr / langId), never a
    // corpus self-join to re-attach columns a sub-operator dropped
    val perDoc = langId(df.select(col(idCol), col(textCol), col(sourceCol)), textCol)
      .select(
        col(idCol), col(sourceCol).as("source"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"),
        length(col(textCol)).cast("long").as("n_chars"),
        round(qualityExpr(col(textCol)) * lit(1.0e6)).cast("long").as("quality_fp"),
        col("pred_lang"),
        md5(col(textCol)).as("__fp"))
      .scopedCache()
    val dupCounts = perDoc.groupBy(col("__fp")).agg(count(lit(1)).as("__fpn"))
    val flagged = perDoc.join(dupCounts, Seq("__fp"))
      .withColumn("__dup", (col("__fpn") > 1L).cast("long"))
    val bySource = flagged.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("__dup")).as("n_dups"),
        sum(coalesce(col("quality_fp"), lit(0L))).as("__qsum"))
    val langTop = flagged.groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("__ln"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("__ln").desc, col("pred_lang"))))
      .filter(col("__rn") === 1)
      .select(col("source"), col("pred_lang").as("top_lang"), col("__ln").as("__topn"))
    bySource.join(langTop, Seq("source"))
      .select(
        col("source"), col("n_docs"), col("total_tokens"), col("total_chars"),
        col("n_dups"),
        expr("(n_dups * 1000000) div n_docs").as("dup_rate_fp"),
        expr("__qsum div n_docs").as("mean_quality_fp"),
        col("top_lang"),
        expr("(__topn * 1000000) div n_docs").as("top_lang_share_fp"))
  }

  /** Blocklist content screening — the keyword-policy gate every corpus
    * pipeline runs before release: per document, hit counts against a
    * categorized term list and a keep/flag/drop action from two
    * thresholds. Every input document keeps a row (zero hits ⇒ NULL
    * category, action `keep`), so the output is a total routing relation,
    * not a filter. The worst category is the (hits, category) struct max —
    * most hits, ties to the lexicographically greatest category (pinned).
    *
    * Scale shape: the term list broadcasts (policy lists are always tiny
    * relative to the corpus); one narrow token explode feeds the equi-join,
    * the per-(doc, category) count is a map-side-partial aggregate, and
    * the total/argmax fold is doc-keyed. Text never shuffles.
    *
    * Output: (idCol, total_hits, worst_category, worst_hits, action).
    */
  def blocklistScreen(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: DataFrame,
      flagAt: Long,
      dropAt: Long): DataFrame = {
    require(flagAt >= 1 && dropAt >= flagAt, "need 1 <= flagAt <= dropAt")
    val toks = df
      .select(col(idCol), explode(split(normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val perDoc = toks.join(broadcast(terms), Seq("term"))
      .groupBy(col(idCol), col("category"))
      .agg(count(lit(1)).as("hits"))
      .groupBy(col(idCol))
      .agg(
        sum(col("hits")).as("total_hits"),
        max(struct(col("hits"), col("category"))).as("__worst"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("total_hits"), lit(0L)).as("total_hits"),
        col("__worst.category").as("worst_category"),
        col("__worst.hits").as("worst_hits"),
        when(coalesce(col("total_hits"), lit(0L)) >= dropAt, lit("drop"))
          .when(coalesce(col("total_hits"), lit(0L)) >= flagAt, lit("flag"))
          .otherwise(lit("keep")).as("action"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N ranked
    * retrieval runs — the standard hybrid-retrieval combiner (sparse BM25 +
    * dense embedding kNN being the canonical pair): per (query, doc),
    * rrf = Σ_runs 1/(k₀ + rank), fused entirely in integer fixed point
    * (`1e6 div (k₀ + rank)` per run — order-free integer sum, engine-exact)
    * with the final ordering (rrf_fp DESC, doc ASC) and a per-query top-`k`
    * cut. A document absent from a run simply contributes nothing — no
    * imputation, the defining RRF property.
    *
    * Shape: a union of rank-triple relations (8-byte columns only — scores
    * and text never enter), ONE (query, doc) aggregate (map-side partial),
    * one per-query window (WindowGroupLimit under the rank filter). At
    * 100 TB the runs are top-k-per-query relations — query-count-sized,
    * not corpus-sized — so the fusion is dimension-scale regardless of
    * corpus scale; the heavy lifting stays in the legs that produced them.
    *
    * Output: (query_id, doc_id, rrf_fp, n_runs, rank).
    */
  def rrfFuse(
      runs: Seq[DataFrame],
      qidCol: String,
      docCol: String,
      rankCol: String,
      k: Int,
      k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(runs.nonEmpty, "need at least one run")
    // k0 >= 1 keeps the integral division total for any rank >= 0: with
    // k0 = 0 a (malformed) rank-0 row divides by zero, which Spark's `div`
    // NULLs silently while DuckDB raises — a cross-engine divergence the
    // operator's engine-exact contract otherwise rules out
    require(k >= 1 && k0 >= 1, "need k >= 1 and k0 >= 1")
    val normalized = runs.map(_.select(
      col(qidCol).as("query_id"), col(docCol).as("doc_id"), col(rankCol).as("__rank")))
    val fused = normalized.reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        sum(expr(s"1000000 div ($k0 + __rank)")).as("rrf_fp"),
        count(lit(1)).as("n_runs"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf_fp").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): fixed-iteration
    * weighted PageRank over the token co-occurrence graph — nodes are
    * normalized tokens, edges adjacent-token pairs (undirected, weighted by
    * corpus adjacency count, self-loops dropped), damping 0.85. All rank
    * arithmetic is FIXED-POINT: scores live as BIGINT millionths
    * (r₀ = 10⁶), each neighbor contribution is the integral division
    * (r·w) div W(src), and the damped update is 150000 + (85·Σ) div 100 —
    * so every iteration is order-free integer sums that reproduce exactly
    * on any engine (the same portability contract as [[lmScore]]'s
    * quantized log-probs), at the cost of ≤1 micro-rank truncation per
    * edge, identical on both sides. Returns the top-`k` tokens by
    * (score DESC, token ASC) with their dense rank.
    *
    * Scale shape: the edge relation is built once from one narrow
    * in-row zip (no window, no self-join) and cached with its per-source
    * weight sums; each iteration is ONE shuffle join of the V-sized rank
    * relation against the edges plus one partial-aggregating groupBy —
    * O(iterations) rounds like [[DedupOps.connectedComponents]], with no
    * driver-side state. At 100 TB the rank relation (vocab-sized) is the
    * broadcast candidate; the edge relation shuffles once at build and
    * stays partitioned by src across iterations. The final top-k is
    * TakeOrdered (orderBy+limit), never a global sort; the rank column is
    * a window over the ≤k survivors only.
    */
  def textRank(df: DataFrame, textCol: String, iterations: Int = 3, k: Int = 50): DataFrame =
    textRankManaged(df, textCol, iterations, k)._1

  /** [[textRank]] plus an explicit release handle for the cached weighted
    * edge relation (corpus-adjacency-sized — the one piece of module state
    * the iteration loop pins in executor memory). Call it AFTER
    * materializing the returned frame; long-lived sessions that loop over
    * corpora must not rely on GC/ContextCleaner to reclaim it (same
    * contract as [[graft.ops.DedupOps.decontaminateBloomManaged]]).
    */
  def textRankManaged(
      df: DataFrame,
      textCol: String,
      iterations: Int = 3,
      k: Int = 50): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    require(iterations >= 1, "need at least one iteration")
    require(k >= 1, "k must be positive")
    val toks = split(normalize(col(textCol)), " ")
    val adj = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("a"), b.as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
    val d = df.select(explode(adj).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
    // both orientations from ONE corpus-pair build (explode, not a
    // two-branch union that would re-run the tokenize+pair scan twice)
    val edges = d.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("__e"))
      .select(col("__e.src"), col("__e.dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    // cached: the weighted edge relation feeds every iteration's join —
    // without the barrier the corpus-wide pair build re-runs per round.
    // The returned release handle unpersists it; [[textRank]] callers get
    // the legacy caller/harness-clears contract
    val e = edges.join(deg, "src").scopedCache()
    // seed from the CACHED edge relation (distinct src = the node set) —
    // seeding from `deg` would re-run the corpus-wide pair build once more
    var r = e.select(col("src").as("token")).distinct()
      .withColumn("score", lit(1000000L))
    for (_ <- 1 to iterations) {
      r = e.join(r.withColumnRenamed("token", "src"), "src")
        .select(col("dst").as("token"), expr("(score * w) div wsum").as("c"))
        .groupBy(col("token")).agg(sum(col("c")).as("cs"))
        .select(col("token"), (lit(150000L) + expr("(85 * cs) div 100")).as("score"))
    }
    val top = r.orderBy(col("score").desc, col("token")).limit(k)
    // window over the ≤k TakeOrdered survivors only — bounded by
    // construction (and runtime-swept); swapping it for the zipRank RDD
    // path would hide the whole upstream plan behind an ExistingRDD scan
    // and blind the plan contract, a worse trade at k rows
    val ranked = top.withColumn(
      "rank",
      row_number().over(Window.orderBy(col("score").desc, col("token"))).cast("long"))
    (ranked, () => { e.unpersist(); () })
  }

  /** Within-document repetition metrics (the Gopher/MassiveText-style
    * repetition filters): fraction of word-trigram occurrences that are
    * repeats of an earlier trigram in the SAME document, and the share of
    * all bigram occurrences taken by the document's single most frequent
    * bigram. High values of either mark degenerate boilerplate/looping text
    * that length or quality heuristics miss.
    *
    * Shape: BOTH fractions are pure functions of the document's own token
    * array, so the whole operator is ONE codegen'd narrow projection over
    * the scan — the native graft_ngram_hashes kernel builds the gram
    * hashes and graft_top_count reduces multiplicity in-row; no explode,
    * no aggregation, no join, nothing shuffles at any corpus size. Short
    * documents (<n tokens) keep their row with NULL fractions. A within-
    * document hash collision (~b²/2⁶⁵ for b grams — negligible) could
    * merge two grams' counts; same accepted odds as the module's other
    * xxhash64 operators.
    */
  def repetitionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dupTrigramMax: Double = 0.3,
      topBigramMax: Double = 0.2): DataFrame = {
    val toks = split(normalize(col(textCol)), " ")
    // BOTH metrics are pure per-document functions, computed by the native
    // kernels (graft_ngram_hashes + graft_top_count) inside ONE codegen'd
    // narrow projection — no explode, no groupBy, no join, nothing shuffles.
    // (The previous shapes exploded bigram hashes into a two-level shuffled
    // aggregation; a per-row reduction never needed an exchange at all.)
    // Distinctness/multiplicity are preserved up to the module's standard
    // negligible collision odds.
    import graft.functions.HashFunctions.{graft_ngram_hashes, graft_top_count}
    val trigramFrac = DedupOps.bindOnce(graft_ngram_hashes(toks, 3)) { tg =>
      when(size(tg) > 0,
        (size(tg) - size(array_distinct(tg))).cast("double")
          / size(tg).cast("double"))
    }
    val topBigramFrac = DedupOps.bindOnce(graft_ngram_hashes(toks, 2)) { bg =>
      when(size(bg) > 0,
        graft_top_count(bg).cast("double") / size(bg).cast("double"))
    }
    df.select(
      col(idCol),
      // empty-safe: the raw split of an empty doc is [""] (phantom 1 token,
      // the artifact tokens()' doc warns about) — count non-empty tokens so
      // n_tokens agrees with textStats/tokenCount/packSequences
      size(filter(toks, t => t =!= "")).cast("long").as("n_tokens"),
      trigramFrac.as("dup_trigram_frac"),
      topBigramFrac.as("top_bigram_frac"))
      .withColumn(
        "is_repetitive",
        coalesce(col("dup_trigram_frac") > dupTrigramMax, lit(false)) ||
          coalesce(col("top_bigram_frac") > topBigramMax, lit(false)))
  }

  /** The FULL Gopher repetition rule set (Rae et al. 2021, Appendix A.1) —
    * the 13 repetition statistics every large-corpus pipeline screens on,
    * beyond [[repetitionStats]]'s two-metric summary:
    *
    *  - duplicate line / paragraph FRACTION (> 0.30 / > 0.30 fires):
    *    share of lines (paragraphs) that repeat an earlier one;
    *  - duplicate line / paragraph CHARACTER fraction (> 0.20 / > 0.20):
    *    share of characters inside those repeat occurrences;
    *  - top n-gram character fraction for n = 2, 3, 4
    *    (> 0.20 / 0.18 / 0.16): characters claimed by the single most
    *    frequent n-gram (count × gram characters over total token
    *    characters);
    *  - duplicated n-gram character fraction for n = 5..10
    *    (> 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10): characters covered
    *    by ANY n-gram occurring more than once, overlaps counted once.
    *
    * Lines are the raw text split on `\n`, paragraphs on `\n\n` (both
    * trimmed, empties dropped); token n-grams use the same normalized
    * whitespace tokens as [[repetitionStats]]. Character accounting is
    * token-characters (separators excluded) — documented engine semantics,
    * replayed verbatim by the DuckDB oracle. Every metric is a pure
    * per-document function, so the stage is ONE narrow projection — no
    * explode, no shuffle. [[gopherStats]] is native end to end: the
    * [[graft.functions.TextSplit]] splitter builds the line,
    * paragraph and token arrays, and the [[graft.functions.RepetitionKernel]]
    * computes lines and paragraphs (n = 1) in one call each and ALL of
    * n = 2..10 in a single fused call, O(|tokens|) per n with no per-gram
    * string. Nothing on the path is an interpreted lambda. Thresholds gate
    * with STRICT `>` ("greater than", per the paper) via integer
    * cross-multiplication — no float division feeds `is_repetitive`.
    */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame =
    gopherFractions(gopherStats(df, idCol, textCol), idCol)

  /** The per-document statistics behind [[gopherRepetition]]:
    * (idCol, l, p, g) — `l`/`p` the n = 1 stats of lines (split on `\n`,
    * trimmed of ` \t\r`) and paragraphs (split on `\n\n`, trimmed of
    * ` \t\r\n`), empties dropped; `g` = struct(g2..g10) over the
    * lowercased whitespace tokens. Field meanings: [[graft.functions.RepetitionKernel]].
    */
  private[graft] def gopherStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.RepetitionFunctions.graft_rep_stats
    import graft.functions.SplitFunctions.{graft_split, graft_well_formed}
    val t = coalesce(col(textCol), lit(""))
    df.select(
      col(idCol),
      graft_rep_stats(graft_split(t, "\n", " \t\r"), 1, 1).getField("g1").as("l"),
      graft_rep_stats(graft_split(t, "\n\n", " \t\r\n"), 1, 1).getField("g1").as("p"),
      // the tokens of [[normalize]]: lowercasing before the whitespace
      // collapse changes nothing, as whitespace is neither cased nor
      // case-ignorable (no case mapping, final sigma included, reads across
      // it); the JDK decode comes first, as in normalize's regexp_replace
      graft_rep_stats(tokens(lower(graft_well_formed(t))), 2, 10).as("g"))
  }

  /** The 13 fractions and the `is_repetitive` gate over [[gopherStats]]. */
  private[graft] def gopherFractions(stats: DataFrame, idCol: String): DataFrame = {
    def frac(num: Column, den: Column, nonEmpty: Column): Column =
      when(nonEmpty > 0, num.cast("double") / den.cast("double"))
    val l = col("l"); val p = col("p")
    def g(n: Int) = col("g").getField(s"g$n")
    // integer cross-multiplications: metric > threshold ⇔ a·num > b·den
    val fires = Seq(
      (l("windows") - l("distinct")) * 10 > l("windows") * 3, // dup line > 0.30
      l("rep_chars") * 5 > l("tot_chars"),                    // dup line chars > 0.20
      (p("windows") - p("distinct")) * 10 > p("windows") * 3, // dup para > 0.30
      p("rep_chars") * 5 > p("tot_chars"),                    // dup para chars > 0.20
      g(2)("top_chars") * 5 > g(2)("tot_chars"),              // top 2-gram > 0.20
      g(3)("top_chars") * 50 > g(3)("tot_chars") * 9,         // top 3-gram > 0.18
      g(4)("top_chars") * 25 > g(4)("tot_chars") * 4,         // top 4-gram > 0.16
      g(5)("cov_chars") * 20 > g(5)("tot_chars") * 3,         // dup 5-gram > 0.15
      g(6)("cov_chars") * 50 > g(6)("tot_chars") * 7,         // dup 6-gram > 0.14
      g(7)("cov_chars") * 100 > g(7)("tot_chars") * 13,       // dup 7-gram > 0.13
      g(8)("cov_chars") * 25 > g(8)("tot_chars") * 3,         // dup 8-gram > 0.12
      g(9)("cov_chars") * 100 > g(9)("tot_chars") * 11,       // dup 9-gram > 0.11
      g(10)("cov_chars") * 10 > g(10)("tot_chars"))           // dup 10-gram > 0.10
    stats.select(
      col(idCol),
      frac(l("windows") - l("distinct"), l("windows"), l("windows"))
        .as("dup_line_frac"),
      frac(l("rep_chars"), l("tot_chars"), l("windows"))
        .as("dup_line_char_frac"),
      frac(p("windows") - p("distinct"), p("windows"), p("windows"))
        .as("dup_para_frac"),
      frac(p("rep_chars"), p("tot_chars"), p("windows"))
        .as("dup_para_char_frac"),
      frac(g(2)("top_chars"), g(2)("tot_chars"), g(2)("windows"))
        .as("top_2gram_char_frac"),
      frac(g(3)("top_chars"), g(3)("tot_chars"), g(3)("windows"))
        .as("top_3gram_char_frac"),
      frac(g(4)("top_chars"), g(4)("tot_chars"), g(4)("windows"))
        .as("top_4gram_char_frac"),
      frac(g(5)("cov_chars"), g(5)("tot_chars"), g(5)("windows"))
        .as("dup_5gram_char_frac"),
      frac(g(6)("cov_chars"), g(6)("tot_chars"), g(6)("windows"))
        .as("dup_6gram_char_frac"),
      frac(g(7)("cov_chars"), g(7)("tot_chars"), g(7)("windows"))
        .as("dup_7gram_char_frac"),
      frac(g(8)("cov_chars"), g(8)("tot_chars"), g(8)("windows"))
        .as("dup_8gram_char_frac"),
      frac(g(9)("cov_chars"), g(9)("tot_chars"), g(9)("windows"))
        .as("dup_9gram_char_frac"),
      frac(g(10)("cov_chars"), g(10)("tot_chars"), g(10)("windows"))
        .as("dup_10gram_char_frac"),
      fires.map(c => coalesce(c, lit(false))).reduce(_ || _)
        .as("is_repetitive"))
  }

  // ───────────────────────── BPE merge training ─────────────────────────

  /** `(word, freq)` vocabulary of the corpus — the ONE corpus-sized pass
    * of the BPE trainer. Everything after it (the merge iterations)
    * operates on this BOUNDED relation: at 100 TB the corpus is scanned
    * once for a map-side-combined word count, and the training loop never
    * touches it again — the vocabulary, not the corpus, is the working
    * set (the same posture as [[vocabCounts]]).
    */
  def bpeWordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial symbol sequences: characters plus an end-of-word marker —
    * `"low"` → `[l, o, w, </w>]` (the Sennrich form, so a merged symbol
    * ending in `</w>` is a full-word token). Char splitting is by
    * codepoint on both engines for BMP text; the corpus is ASCII-pinned
    * by the testdata, and surrogate-pair text would be the one divergence
    * (Java UTF-16 units vs codepoints) — documented, not hit.
    */
  private def bpeInit(words: DataFrame): DataFrame =
    words.withColumn("syms",
      concat(filter(split(col("word"), ""), c => c =!= ""), array(lit("</w>"))))

  /** One greedy merge applied to a symbol array: the LEFT-TO-RIGHT
    * non-overlapping rewrite of `(l, r) → l+r` as a sequential fold —
    * `aaa` under `(a,a)` becomes `[aa, a]`, never `[a, aa]` or `[aa, aa]`.
    * The oracle replays the identical fold with DuckDB's `list_reduce`
    * over a list-of-singletons (its accumulator must share the element
    * type), so segmentations match element-for-element.
    */
  private def bpeMergeFold(l: String, r: String)(syms: Column): Column =
    aggregate(
      syms,
      typedlit(Seq.empty[String]),
      (acc, x) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Candidates collected per driver round-trip in the batched trainer
    * loops ([[bpeLoop]]/[[wpLoop]]). 1 reproduces the classic
    * one-merge-per-round loop; the default turns a 32k-merge production
    * vocabulary from 32k Spark jobs + checkpoints into a few hundred,
    * with the accepted batch PROVABLY equal to the one-at-a-time result
    * (see [[bpeLoop]]'s dominance argument and the
    * TextAnalysisSpec batched≡sequential pin).
    */
  val TrainerBatchWindow = 64

  /** Which of `names` already occur as symbols in the `(word, freq,
    * syms)` relation — the per-round vocabulary membership probe of the
    * batched trainer loops (vocab-bounded scan, filter pushed to the
    * explode).
    */
  private def existingSymbols(words: DataFrame, names: Seq[String]): Set[String] =
    if (names.isEmpty) Set.empty
    else words
      .select(explode(col("syms")).as("s"))
      .filter(col("s").isin(names.distinct: _*))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSet

  /** The sequential merge-learning loop over an initialized `(word, freq,
    * syms)` relation. Per round: adjacent-pair counts weighted by word
    * frequency (a vocab-sized aggregate — only (l, r, cnt) triples
    * shuffle), ONE driver round-trip collecting the top `batchWindow + 1`
    * candidates (ties break (count desc, l, r) — pinned identically in
    * the oracle's ORDER BY), then the accepted batch's fold rewrites
    * composed into one projection, localCheckpointed so the next round
    * neither recomputes nor nests this round's lambdas. The driver
    * sequentialism is intrinsic to BPE (merge n+1's counts depend on
    * merge n's rewrite); what matters at scale is that each round is
    * vocab-bounded, not corpus-bounded, and — with batching — that the
    * NUMBER of driver rounds no longer equals the number of merges.
    *
    * Batched ≡ one-at-a-time, by construction. From the sorted candidate
    * window the batch takes the prefix that is
    *
    *  1. mutually NON-INTERACTING — a candidate is rejected (stopping the
    *     batch) if its left/right symbol, or its concatenation, collides
    *     with any earlier-accepted candidate's left, right, or
    *     concatenation, OR if its concatenation is spelled like a symbol
    *     ALREADY IN THE VOCABULARY (one vocab-bounded membership probe
    *     per round): a colliding merge would pour new adjacencies into
    *     the existing symbol's pairs, whose combined post-rewrite count
    *     can reach 2× the stop bound — the one way a non-interacting
    *     candidate's replay argmax could be overtaken; and
    *  2. trimmed to counts STRICTLY ABOVE the stop candidate's count
    *     (the first rejected row, the first row past the window, or the
    *     first row past the remaining-merge budget, whichever comes
    *     first; no trim if the candidate table was exhausted first).
    *
    * Replaying the accepted merges one at a time, each step's argmax is
    * exactly the next accepted merge: an accepted candidate's own count
    * is untouched by the earlier rewrites (disjoint symbols — a rewrite
    * only consumes occurrences of its own two symbols and emits its own
    * new spelling), every pair CHANGED by an earlier rewrite shares a
    * symbol with it, so it sits at or below the stop candidate in the
    * sorted order and can only lose count, and every pair CREATED by an
    * earlier rewrite `(l,r)→m` maps occurrence-injectively to a
    * pre-rewrite adjacency involving `l` or `r` — also an interacting
    * pair, also count-bounded by the stop candidate. The strict trim
    * makes every accepted count beat that bound outright, so no changed
    * or new pair can win a replayed round even on tie-break. If the trim
    * empties the batch, the round falls back to accepting exactly the
    * top candidate — the classic argmax step, always sound. Stops early
    * if no pair remains.
    */
  private def bpeLoop(
      words0: DataFrame,
      nMerges: Int,
      batchWindow: Int = TrainerBatchWindow): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, "need at least one merge")
    require(batchWindow >= 1, "window must be positive")
    var words = bpeInit(words0).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val want = nMerges - merges.length
      val k = math.min(batchWindow, want) + 1
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          j => struct(
            element_at(col("syms"), j).as("l"),
            element_at(col("syms"), j + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(k)
        .collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        // never accept the last collected row when the table may extend
        // below it — it serves as the count floor instead
        val maxAccept = math.min(want, if (top.length == k) top.length - 1 else top.length)
        val existing = existingSymbols(words, top.map { case (l, r, _) => l + r })
        val touched = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var idx = 0
        var stopped = false
        while (idx < maxAccept && !stopped) {
          val (l, r, _) = top(idx)
          if (touched(l) || touched(r) || touched(l + r) || existing(l + r)) stopped = true
          else {
            prefix += top(idx)
            touched ++= Seq(l, r, l + r)
            idx += 1
          }
        }
        val floor: Option[Long] = if (idx < top.length) Some(top(idx)._3) else None
        val batch0 = floor match {
          case Some(f) => prefix.takeWhile(_._3 > f).toSeq
          case None    => prefix.toSeq
        }
        val batch = if (batch0.nonEmpty) batch0 else Seq(top.head)
        batch.foreach { case (l, r, c) => merges += ((merges.length + 1L, l, r, c)) }
        words = batch.grouped(BpeApplyChunk).foldLeft(words) { (w, grp) =>
          w.withColumn("syms",
            grp.foldLeft(col("syms")) { case (c, (l, r, _)) => bpeMergeFold(l, r)(c) })
        }.localCheckpoint()
      }
    }
    (merges.toSeq, words)
  }

  /** Greedy byte-pair-encoding merge learning (the vocabulary-building
    * algorithm of subword tokenizers): `nMerges` rounds of
    * count-all-adjacent-pairs → merge the most frequent, over the
    * corpus's frequency-weighted word vocabulary. Returns the merge table
    * `(merge_rank, left_sym, right_sym, pair_count)` — the artifact a
    * tokenizer ships. Fully deterministic (ties (count desc, l, r)), so
    * the registered query's oracle replays every round as unrolled CTEs
    * and the learned merges hash-match.
    */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeList(docs, textCol, nMerges)
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** [[bpeTrain]]'s merge table as a driver-side list — nMerges rows, the
    * persistable artifact; feed it to [[bpeSegmentWith]] /
    * [[bpeEncodeDocsWith]] to apply a trained tokenizer to OTHER corpora
    * (the train-once / apply-anywhere operating split).
    */
  def bpeMergeList(
      docs: DataFrame, textCol: String, nMerges: Int,
      batchWindow: Int = TrainerBatchWindow): Seq[(Long, String, String, Long)] =
    bpeLoop(bpeWordCounts(docs, textCol), nMerges, batchWindow)._1

  /** [[bpeMergeList]] over an externally-maintained `(word, freq)`
    * relation — the operating split at scale: word counts are persisted
    * once per corpus version (one corpus pass, or a fold of per-batch
    * counts), and training touches ONLY the bounded vocabulary. The
    * ScaleSmoke `bpe` section measures exactly this: corpus K×, vocab
    * constant → flat round cost.
    */
  def bpeTrainFromWordCounts(
      words: DataFrame, nMerges: Int,
      batchWindow: Int = TrainerBatchWindow): Seq[(Long, String, String, Long)] =
    bpeLoop(words, nMerges, batchWindow)._1

  /** Segment a corpus's vocabulary under an ALREADY-LEARNED merge list,
    * applied in rank order — no counting, no argmax, just the nMerges
    * fold rewrites over the vocab-sized relation. This is how a persisted
    * tokenizer meets a new corpus.
    */
  /** How many merge rewrites compose into one projection before the plan
    * is cut with a checkpoint: unlike the trainer (whose round n+1 argmax
    * needs round n's rewrite materialized), the apply leg knows every
    * merge upfront, so rewrites nest as composed aggregate lambdas — but
    * UNBOUNDED nesting does not survive a real merge list (thousands of
    * merges in a production BPE artifact): past ~100 composed lambdas
    * whole-stage codegen degrades and a deep enough tree overflows the
    * analyzer stack. Chunking keeps expression depth constant while
    * paying |merges|/chunk barriers instead of |merges|.
    */
  private val BpeApplyChunk = 16

  def bpeSegmentWith(
      docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame =
    merges.grouped(BpeApplyChunk).foldLeft(
      bpeInit(bpeWordCounts(docs, textCol)).localCheckpoint()) { (words, chunk) =>
      words.withColumn("syms",
        chunk.foldLeft(col("syms")) { case (c, (l, r)) => bpeMergeFold(l, r)(c) })
        .localCheckpoint()
    }

  /** The segmentation after `nMerges` learned merges: `(word, freq,
    * syms)` — each word's subword sequence under the trained merge table.
    * Concatenating `syms` always re-spells `word + "</w>"` (the lossless
    * invariant the spec pins).
    */
  def bpeSegment(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    bpeLoop(bpeWordCounts(docs, textCol), nMerges)._2

  /** The subword vocabulary after `nMerges` merges: `(token,
    * token_count)` — every symbol with its frequency-weighted occurrence
    * count, i.e. the token histogram a tokenizer built from
    * [[bpeTrain]]'s merges would produce on this corpus.
    */
  def bpeVocab(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    bpeVocabFrom(bpeSegment(docs, textCol, nMerges))

  /** The induced token histogram from an ALREADY-TRAINED segmentation
    * relation `(word, freq, syms)` — the staged split's vocab leg.
    */
  def bpeVocabFrom(segmentation: DataFrame): DataFrame =
    segmentation
      .select(explode(col("syms")).as("token"), col("freq"))
      .groupBy(col("token")).agg(sum(col("freq")).as("token_count"))

  /** The full trained-BPE artifact from ONE training run — (merge table,
    * final `(word, freq, syms)` segmentation), [[unigramTrain]]'s analog
    * for the staged split: train once (the segmentation is
    * localCheckpoint-backed, so reuse replays no merge rounds), then
    * derive the merge table, the induced vocabulary ([[bpeVocabFrom]])
    * and the corpus encoding ([[bpeEncodeFrom]]) from the one artifact.
    */
  def bpeArtifact(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): (Seq[(Long, String, String, Long)], DataFrame) =
    bpeLoop(bpeWordCounts(docs, textCol), nMerges)

  /** [[bpeEncodeDocs]] from an already-trained `(word, freq, syms)`
    * segmentation — the staged split's encode leg.
    */
  def bpeEncodeFrom(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segmentation: DataFrame): DataFrame =
    encodeFromSegmentation(docs, idCol, textCol, segmentation)

  /** Encode the CORPUS through the learned merges — the apply-the-
    * tokenizer step, and the shape that matters at 100 TB: the
    * segmentation (word → syms, vocab-sized) and the id table (token →
    * tid, subword-vocab-sized — bounded by |chars| + nMerges) are built
    * once and BROADCAST; the corpus is scanned once and encoded by two
    * broadcast joins, nothing vocab-related shuffles with it. Subword ids
    * are frequency-ranked ((token_count desc, token)) via [[zipRank]]'s
    * sort+zipWithIndex dense-id assignment — no single-partition stage
    * even at a Heaps-law 10⁸-type vocabulary. Per document: word/subword
    * counts and an md5 signature
    * of the ordered id sequence — the [[encodeTokens]] convention, scalar
    * cells that any engine reproduces.
    */
  def bpeEncodeDocs(docs: DataFrame, idCol: String, textCol: String, nMerges: Int): DataFrame =
    encodeFromSegmentation(docs, idCol, textCol, bpeSegment(docs, textCol, nMerges))

  /** [[bpeEncodeDocs]] under an externally-trained merge list — the
    * deployment split: merges learned once (possibly on a sample or an
    * earlier corpus version), any corpus encoded against them.
    */
  def bpeEncodeDocsWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encodeFromSegmentation(docs, idCol, textCol, bpeSegmentWith(docs, textCol, merges))

  /** Dense 0-based ranks in a total order WITHOUT a single-partition
    * window: a range-partitioned global sort (every partition sorted and
    * ordered between partitions) followed by `zipWithIndex`, whose ids
    * read off per-partition offsets — the distributed dense-id
    * assignment. One extra count job (zipWithIndex's offset pass), no
    * stage ever holds more than a partition; at a 10⁸-row subword
    * vocabulary this is an ordinary sort, where `row_number() OVER
    * (ORDER BY …)` would drag every row through one task. The order
    * columns must form a total order (callers tie-break on a unique
    * column) — both engines then agree on every rank.
    */
  private def zipRank(df: DataFrame, rankCol: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val sorted = df.sort(order: _*)
    val schema = sorted.schema.add(StructField(rankCol, LongType, nullable = false))
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  private def encodeFromSegmentation(
      docs: DataFrame, idCol: String, textCol: String, segmentation: DataFrame): DataFrame = {
    val seg = segmentation.scopedCache()
    val vid = zipRank(
      seg.select(explode(col("syms")).as("token"), col("freq"))
        .groupBy(col("token")).agg(sum(col("freq")).as("tc")),
      "tid", col("tc").desc, col("token"))
      .select(col("token"), col("tid"))
    val toks = docs.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "word")))
    val sub = toks
      .join(broadcast(seg.select(col("word"), col("syms"))), Seq("word"))
      .select(col(idCol), col("pos"), posexplode(col("syms")).as(Seq("spos", "token")))
      .join(broadcast(vid), Seq("token"))
    sub.groupBy(col(idCol))
      .agg(
        count(when(col("spos") === 0, lit(1))).as("n_words"),
        count(lit(1)).as("n_subwords"),
        md5(DedupOps.bindOnce(
          sort_array(collect_list(struct(col("pos"), col("spos"), col("tid"))))) { arr =>
          array_join(transform(arr, e => e.getField("tid").cast("string")), ",")
        }).as("ids_sig"))
  }

  // ───────────── DSIR importance resampling (data selection) ─────────────

  /** Smoothing domain size for the DSIR bucket models — 16^3 md5
    * hex-prefix buckets (the portable hash both engines agree on;
    * q_hash_split precedent).
    */
  private val DsirBuckets = 4096L

  /** Hashed n-gram feature counts for DSIR (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): word
    * unigrams plus adjacent bigrams, each hashed to one of 4096 buckets
    * by its md5 hex prefix — `(id, is_t, bucket, c)`. ONE corpus scan,
    * map-side combined on (doc, bucket); at 100 TB this is the only
    * corpus-sized relation in the pipeline (the bucket models it feeds
    * are 4096 rows). Zero-feature documents drop here and are restored
    * with weight 0 by [[dsirWeightsFromModel]]'s left join.
    */
  /** The unigram+bigram feature array of a text column (shared by the
    * batch and streaming feature forms).
    */
  private def dsirFeatArray(textCol: String): Column =
    DedupOps.bindOnce(tokens(col(textCol))) { toks =>
      concat(
        toks,
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
          .otherwise(array().cast("array<string>")))
    }

  def dsirFeatures(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column): DataFrame =
    docs.select(col(idCol), isTarget.as("is_t"), explode(dsirFeatArray(textCol)).as("feat"))
      .select(col(idCol), col("is_t"), substring(md5(col("feat")), 1, 3).as("bucket"))
      .groupBy(col(idCol), col("is_t"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Per-occurrence hashed feature rows `(is_t, bucket, one)` — the
    * STREAMING model maintenance input: a RollupStream over keys
    * `(bucket, is_t)` with value `one` maintains exactly the per-bucket
    * counts [[dsirModelFromFeatures]] aggregates, under the store's
    * slot/compaction/replay guarantees; finalize with
    * [[dsirModelFromRollup]]. The maintained state is ≤ 2·4096 rows
    * regardless of stream volume.
    */
  def dsirFeatureRows(docs: DataFrame, textCol: String, isTarget: Column): DataFrame =
    docs.select(isTarget.as("is_t"), explode(dsirFeatArray(textCol)).as("feat"))
      .select(col("is_t"), substring(md5(col("feat")), 1, 3).as("bucket"),
        lit(1L).as("one"))

  /** Finalize a rollup-maintained `(bucket, is_t, n, __total)` relation
    * (from [[dsirFeatureRows]] partials) into the `(bucket, tc, rc)`
    * model shape — `__total` is the per-(bucket, slice) occurrence sum.
    */
  def dsirModelFromRollup(rollup: DataFrame): DataFrame =
    rollup.select(col("bucket"), col("is_t"), col("__total").cast("long").as("c"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("is_t"), col("c")).otherwise(lit(0L))).as("tc"),
        sum(col("c")).as("rc"))

  /** The DSIR bucket models from a feature relation: per bucket the
    * TARGET count and the RAW (whole-slice) count — `(bucket, tc, rc)`.
    * The pair of sums is a monoid: per-batch models over disjoint doc
    * slices fold by bucket-wise addition ([[dsirMergeModels]]), so the
    * models maintain incrementally while the corpus streams in.
    */
  def dsirModelFromFeatures(feats: DataFrame): DataFrame =
    feats.groupBy(col("bucket")).agg(
      sum(when(col("is_t"), col("c")).otherwise(lit(0L))).as("tc"),
      sum(col("c")).as("rc"))

  /** Fold per-batch DSIR models (bucket-wise sum — the counts monoid). */
  def dsirMergeModels(models: Seq[DataFrame]): DataFrame =
    models.reduce(_ unionByName _)
      .groupBy(col("bucket")).agg(sum(col("tc")).as("tc"), sum(col("rc")).as("rc"))

  /** DSIR importance weights: per document, Σ_b c_b · (ln p̂(b) − ln q̂(b))
    * where p̂/q̂ are the Laplace-smoothed target/raw bucket unigram models —
    * the log importance ratio under the hashed-n-gram generative model.
    * Each ln term quantizes to micro-nats BEFORE the arithmetic (the
    * engine-wide [[lnFp]] recipe), so `weight_fp` is a BIGINT the oracle
    * replays exactly. The model (4096 rows + a 1-row totals broadcast) is
    * broadcast into the per-doc aggregate — nothing model-sized shuffles
    * with the corpus; documents with no features score 0 via the left
    * join (they carry no evidence either way).
    */
  def dsirWeightsFromModel(
      docs: DataFrame, idCol: String, feats: DataFrame, model: DataFrame): DataFrame = {
    val tot = model.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val bt = model.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (lnFp(col("tc") + lit(1L)) - lnFp(col("tt") + lit(DsirBuckets))
          - lnFp(col("rc") + lit(1L)) + lnFp(col("rt") + lit(DsirBuckets))).as("llr_fp"))
    val dw = feats.join(broadcast(bt), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("nf"), sum(col("c") * col("llr_fp")).as("w"))
    docs.select(col(idCol)).join(dw, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nf"), lit(0L)).as("n_feats"),
        coalesce(col("w"), lit(0L)).as("weight_fp"))
  }

  /** One-shot DSIR weights: features → models → weights over the same
    * corpus, with `isTarget` marking the target-distribution slice.
    */
  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String, isTarget: Column): DataFrame = {
    val feats = dsirFeatures(docs, idCol, textCol, isTarget).scopedCache()
    dsirWeightsFromModel(docs, idCol, feats, dsirModelFromFeatures(feats))
  }

  /** DSIR selection: the top-k corpus documents by importance weight
    * (ties to the lower id) with their selection rank — the resampling
    * step made deterministic (weight-ordered take rather than
    * Gumbel-noised, so the oracle replays it; the paper's noise term is a
    * seeded tie-breaker at heart). `orderBy().limit(k)` plans as
    * TakeOrderedAndProject — per-partition top-k then a k-sized merge,
    * never a global sort — and the rank window runs over the k-row
    * result (bounded by construction; the [[zipRank]] RDD path would
    * hide the TakeOrdered plan behind an ExistingRDD scan and blind the
    * plan contract, a worse trade at k rows).
    */
  def dsirSelect(weights: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    weights.orderBy(col("weight_fp").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("weight_fp").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("weight_fp"), col("rank"))
  }

  // ───────────── WordPiece merge training (likelihood-scored) ─────────────

  /** Initial WordPiece symbols: the word-initial character plain, every
    * continuation character `##`-prefixed — `"low"` → `[l, ##o, ##w]`
    * (the Schuster & Nakajima / BERT convention; reference surfaces its
    * BPE/unigram tokenizer training in etl, this is the third member of
    * the standard subword family). Same per-codepoint split caveat as
    * [[bpeInit]] (ASCII-pinned corpus).
    */
  private def wpInit(words: DataFrame): DataFrame =
    words.withColumn("syms",
      DedupOps.bindOnce(filter(split(col("word"), ""), c => c =!= "")) { cs =>
        transform(cs, (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c)))
      })

  /** The WordPiece merged-symbol name: `l` plus `r` with its continuation
    * marker stripped (`a + ##b → ab`, `##a + ##b → ##ab`) — so a merged
    * symbol keeps exactly one leading `##` iff it is word-internal.
    *
    * Caveat (text containing literal `#`): a continuation of `#` is
    * spelled `###`, so symbol NAMES for hash-heavy corpora can collide
    * after merging (the rewrite itself always matches exact symbol
    * strings, and the oracle strips identically, so the two engines never
    * diverge — only the re-spell invariant weakens). Real WordPiece has
    * the same marker ambiguity; route such corpora through a pre-tokenizer
    * that isolates `#` runs if names must stay lossless.
    */
  private def wpMergedSym(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  /** [[bpeMergeFold]] generalized to an arbitrary merged-symbol name (the
    * WordPiece merge does NOT concatenate the raw symbol strings — the
    * continuation marker is stripped from the right side).
    */
  private def mergeFoldNamed(l: String, r: String, merged: String)(syms: Column): Column =
    aggregate(
      syms,
      typedlit(Seq.empty[String]),
      (acc, x) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))

  /** micro-nat quantization of ln(c) — the engine-wide ln-fixed-point
    * recipe ([[lmScore]]/charEntropy): round to BIGINT immediately, all
    * downstream arithmetic in integer space so DuckDB replays it exactly.
    */
  private def lnFp(c: Column): Column =
    round(log(c.cast("double")) * lit(1.0e6)).cast("long")

  /** The WordPiece merge-learning loop: [[bpeLoop]]'s structure with the
    * LIKELIHOOD objective — per round the chosen pair maximizes
    * `ln c(l,r) − ln c(l) − ln c(r)` (the pair whose merge most increases
    * the unigram-LM likelihood of the corpus, Schuster & Nakajima 2012),
    * not the raw pair count. Each term quantizes to micro-nats BEFORE the
    * subtraction, so `score_fp` is a BIGINT both engines agree on; ties
    * break (score_fp desc, l, r), pinned identically in the oracle.
    * Per round: ONE vocab-bounded pair aggregate + ONE vocab-bounded
    * symbol-count aggregate, joined on the symbol-sized relation — same
    * 100 TB posture as BPE (the corpus is scanned once by
    * [[bpeWordCounts]]; training never touches it again).
    */
  /** One collected WordPiece candidate: pair, raw count, both symbol
    * counts, micro-nat likelihood score.
    */
  private final case class WpCand(
      l: String, r: String, cnt: Long, cl: Long, cr: Long, score: Long) {
    def merged: String = wpMergedSym(l, r)
  }

  /** Driver-side twin of [[lnFp]] — same `java.lang.Math.log`, same
    * half-up micro-nat rounding (arguments are ≥ 1, so ln ≥ 0 and
    * `math.round` matches Spark's HALF_UP), used only to evaluate the
    * batch-acceptance BOUNDS, never a value either engine outputs.
    */
  private def lnFpDriver(c: Long): Long = math.round(math.log(c.toDouble) * 1e6)

  /** Batched ≡ one-at-a-time for the LIKELIHOOD objective. BPE's count
    * trim is not enough here: a merge shrinks its own symbols' counts
    * (raising −ln c(l) for every pair that still carries l) and mints a
    * new symbol whose pairs score `ln cnt − ln c(x) − ln c(m)`. Both
    * effects are boundable from the collected window, so a candidate is
    * accepted only while its score STRICTLY dominates:
    *
    *  - CHANGED pairs (share a symbol with an accepted merge — all of
    *    them sit at or below the stop row, or below the window): their
    *    pre-score is ≤ the stop row's score, and each accepted merge
    *    `(l,r)` can raise a changed pair's score by at most
    *    `ln c(t) − ln(c(t) − 2·cnt)` per touched side `t` (a merge
    *    occurrence consumes at most two of each of its symbols; if
    *    `c(t) − 2·cnt < 1` the bound is +∞ and the batch stops). Two
    *    sides can be touched by two different accepted merges, hence the
    *    `2·Δmax` headroom.
    *  - NEW pairs (involve a minted symbol `m`): adjacency counts are
    *    bounded by both neighbors' occurrence counts, so their score is
    *    ≤ −ln c(m), and `c(m)` is at least the merge's own greedy
    *    occurrence count (`cnt` when l ≠ r, `⌈cnt/2⌉` overlapped).
    *
    * Minted-name collisions with the existing vocabulary (which would
    * let counts COMBINE past these bounds) stop the batch via the same
    * membership probe as [[bpeLoop]]. Because cutting the batch turns
    * dropped rows into un-accepted pairs (raising the changed-pair
    * base), the cut iterates to a fixpoint driver-side — ≤ window items,
    * strictly shrinking. An empty batch falls back to the classic
    * single-argmax round, always sound. Replay then picks exactly the
    * accepted merges in order: each one's own cnt/c(l)/c(r) — hence its
    * score — is untouched by the earlier accepted rewrites (disjoint
    * symbols, fresh names), and every rival is strictly dominated.
    */
  private def wpAcceptBatch(
      top: IndexedSeq[WpCand],
      maxAccept: Int,
      collides: String => Boolean): Seq[WpCand] = {
    val Inf = Long.MaxValue / 4
    val touched = scala.collection.mutable.Set.empty[String]
    val tentative = scala.collection.mutable.ArrayBuffer.empty[WpCand]
    var idx = 0
    var stopped = false
    while (idx < maxAccept && !stopped) {
      val c = top(idx)
      if (touched(c.l) || touched(c.r) || touched(c.merged) || collides(c.merged)) stopped = true
      else {
        tentative += c
        touched ++= Seq(c.l, c.r, c.merged)
        idx += 1
      }
    }
    // pre-rewrite score bound on every pair outside the accepted prefix:
    // the first non-accepted row (None = candidate table exhausted, so no
    // interacting pair exists outside the batch at all)
    def guardCut(cut: Int, base: Option[Long]): Int = {
      var twoDeltaMax = 0L
      var newFloor = Long.MinValue
      var j = 0
      while (j < cut) {
        val c = top(j)
        val changedBound = base.map { b =>
          if (twoDeltaMax >= Inf) Long.MaxValue else b + 2 * twoDeltaMax
        }
        val ok = j == 0 ||
          (c.score > newFloor && changedBound.forall(c.score > _))
        if (!ok) return j
        val dl = if (c.cl - 2 * c.cnt >= 1) lnFpDriver(c.cl) - lnFpDriver(c.cl - 2 * c.cnt) else Inf
        val dr = if (c.cr - 2 * c.cnt >= 1) lnFpDriver(c.cr) - lnFpDriver(c.cr - 2 * c.cnt) else Inf
        twoDeltaMax = math.max(twoDeltaMax, math.max(dl, dr))
        val nLb = if (c.l == c.r) (c.cnt + 1) / 2 else c.cnt
        newFloor = math.max(newFloor, -lnFpDriver(math.max(1L, nLb)))
        j += 1
      }
      cut
    }
    var cut = tentative.length
    var base = if (idx < top.length) Some(top(idx).score) else None
    var done = false
    while (!done) {
      val c2 = guardCut(cut, base)
      if (c2 == cut) done = true
      else {
        base = Some(top(c2).score) // dropped rows become un-accepted pairs
        cut = c2
      }
    }
    if (cut >= 1) tentative.take(cut).toSeq else Seq(top.head)
  }

  private def wpLoop(
      words0: DataFrame,
      nMerges: Int,
      batchWindow: Int = TrainerBatchWindow)
      : (Seq[(Long, String, String, String, Long, Long)], DataFrame) = {
    require(nMerges >= 1, "need at least one merge")
    require(batchWindow >= 1, "window must be positive")
    var words = wpInit(words0).localCheckpoint()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val want = nMerges - merges.length
      val k = math.min(batchWindow, want) + 1
      val pairs = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          j => struct(
            element_at(col("syms"), j).as("l"),
            element_at(col("syms"), j + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val symCounts = words
        .select(col("freq"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("c"))
      val top = pairs
        .join(symCounts.select(col("s").as("l"), col("c").as("cl")), "l")
        .join(symCounts.select(col("s").as("r"), col("c").as("cr")), "r")
        .select(col("l"), col("r"), col("cnt"), col("cl"), col("cr"),
          (lnFp(col("cnt")) - lnFp(col("cl")) - lnFp(col("cr"))).as("score_fp"))
        .orderBy(col("score_fp").desc, col("l"), col("r"))
        .limit(k)
        .collect()
        .map(row => WpCand(row.getString(0), row.getString(1),
          row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5)))
        .toIndexedSeq
      if (top.isEmpty) exhausted = true
      else {
        val maxAccept = math.min(want, if (top.length == k) top.length - 1 else top.length)
        val existing = existingSymbols(words, top.map(_.merged))
        val batch = wpAcceptBatch(top, maxAccept, existing)
        batch.foreach { c =>
          merges += ((merges.length + 1L, c.l, c.r, c.merged, c.cnt, c.score))
        }
        words = batch.grouped(BpeApplyChunk).foldLeft(words) { (w, grp) =>
          w.withColumn("syms",
            grp.foldLeft(col("syms")) { (e, c) => mergeFoldNamed(c.l, c.r, c.merged)(e) })
        }.localCheckpoint()
      }
    }
    (merges.toSeq, words)
  }

  /** WordPiece merge learning (the BERT-tokenizer trainer): `nMerges`
    * rounds of count-pairs → merge the LIKELIHOOD-argmax pair, over the
    * corpus's frequency-weighted word vocabulary with `##`-marked
    * continuations. Returns `(merge_rank, left_sym, right_sym,
    * merged_sym, pair_count, score_fp)` — the shipped artifact plus the
    * micro-nat score each merge won with. Fully deterministic, so the
    * oracle replays every round (pair counts, symbol counts, quantized
    * scores, argmax, rewrite) as unrolled CTEs and hash-matches.
    */
  def wordpieceTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordpieceArtifact(docs, textCol, nMerges)._1
      .toDF("merge_rank", "left_sym", "right_sym", "merged_sym", "pair_count", "score_fp")
  }

  /** The full trained-WordPiece artifact from ONE training run — (merge
    * table, final `(word, freq, syms)` segmentation), the [[bpeArtifact]]
    * analog: the segmentation is localCheckpoint-backed, so the merge
    * table, induced vocabulary ([[bpeVocabFrom]] works unchanged — the
    * `##` marks live inside the symbol strings) and the corpus encoding
    * ([[bpeEncodeFrom]]) all derive without replaying a round.
    */
  def wordpieceArtifact(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): (Seq[(Long, String, String, String, Long, Long)], DataFrame) =
    wpLoop(bpeWordCounts(docs, textCol), nMerges)

  /** [[wordpieceArtifact]] over an externally-maintained `(word, freq)`
    * relation — the same operating split as [[bpeTrainFromWordCounts]]:
    * ONE corpus pass builds the word counts, every training round is
    * vocabulary-bounded (ScaleSmoke's `wordpiece` section measures the
    * flatness).
    */
  def wordpieceTrainFromWordCounts(
      words: DataFrame,
      nMerges: Int,
      batchWindow: Int = TrainerBatchWindow): Seq[(Long, String, String, String, Long, Long)] =
    wpLoop(words, nMerges, batchWindow)._1

  // ──────────────── unigram-LM tokenizer (SentencePiece-style) ────────────────

  /** Hard-EM unigram language-model tokenizer training (the Kudo 2018
    * SentencePiece family — the OTHER major subword trainer next to
    * [[bpeTrain]]'s greedy merges): seed a candidate piece inventory with
    * every word substring up to `maxPieceLen` chars, score pieces by
    * quantized log-probability, and alternate Viterbi best-segmentation
    * (E) with piece re-counting (M) for `emIters` rounds. Fully
    * ENGINE-EXACT: occurrence counts are integer, log-probs quantize to
    * BIGINT micro-nats through the [[lmScore]] recipe (ln on identical
    * integer ratios, rounded — doubles never cross rows), Viterbi sums are
    * integer, and the per-position argmax breaks ties by (score DESC,
    * split point DESC, path DESC) — a total order both engines implement
    * identically (struct max ↔ ORDER BY + row_number), so the full EM
    * replays as unrolled CTEs in the oracle.
    *
    * Single-character pieces are always retained (floor count 1) so every
    * word stays segmentable; multi-char pieces that a Viterbi round stops
    * using drop out — the pruning step of the real algorithm in its
    * hard-EM form. Words longer than `maxWordLen` fail loudly — the ORACLE
    * replays the DP as that many unrolled CTE rounds (the Spark side runs
    * the whole DP as one in-row fold and has no such limit of its own).
    *
    * OPERATING POLICY for long tokens: `maxWordLen` bounds the ORACLE's
    * DP replay, not the corpus — raise it for a long-tailed vocabulary
    * (oracle cost is linear in the bound; the Spark in-row fold is
    * indifferent), or pre-normalize the corpus so outliers never reach
    * the trainer. On
    * real web text the outliers are URLs, hex ids and concatenated junk —
    * exactly what a curation pass upstream (PII scrub, quality filter,
    * [[tokens]]' whitespace split) should have already handled; the
    * standard pre-split policy is to break such tokens at punctuation or
    * truncate them to the bound BEFORE training, which keeps the failure
    * loud here rather than silently learning pieces of garbage strings.
    * SentencePiece itself bounds trained pieces the same way
    * (`max_sentencepiece_length`, default 16).
    *
    * Scale shape ([[bpeTrain]]'s posture exactly): ONE corpus-sized pass
    * builds the (word, freq) vocabulary; every EM structure after it —
    * substrings, scores, the DP rounds — is vocabulary-bounded, so corpus
    * growth touches only the word count. Returns
    * (vocab `(piece, cnt, lp_fp)`, segmentation `(word, pieces,
    * score_fp)` under the PENULTIMATE scores — the E-step that produced
    * the final counts; join the word-count relation back for
    * frequencies, as [[unigramEncodeDocs]] does).
    */
  def unigramTrain(
      docs: DataFrame,
      textCol: String,
      emIters: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): (DataFrame, DataFrame) =
    unigramTrainFromWordCounts(
      bpeWordCounts(docs, textCol), emIters, maxPieceLen, maxWordLen)

  /** [[unigramTrain]] over an externally-maintained `(word, freq)`
    * relation — the persisted-vocabulary operating split shared with
    * [[bpeTrainFromWordCounts]].
    */
  def unigramTrainFromWordCounts(
      wc0: DataFrame,
      emIters: Int,
      maxPieceLen: Int,
      maxWordLen: Int): (DataFrame, DataFrame) = {
    require(emIters >= 1 && maxPieceLen >= 1, "need emIters >= 1, maxPieceLen >= 1")
    val wc = wc0.scopedCache()
    // ORACLE-PARITY contract, not a Spark mechanism: the in-row Viterbi
    // fold handles any word length in one expression, but the oracle
    // still replays the DP as maxWordLen unrolled CTE rounds — a longer
    // word would silently fall outside the replayed rounds, so the bound
    // stays a loud shared precondition (the long-token OPERATING POLICY
    // in [[unigramTrain]]'s scaladoc explains how to raise or pre-split)
    val maxLen = wc.agg(coalesce(max(length(col("word"))), lit(0)))
      .head().getInt(0) // planning-time scalar
    require(maxLen <= maxWordLen,
      s"word of length $maxLen exceeds maxWordLen=$maxWordLen (shared oracle DP bound)")
    val subs = wordSubstrings(wc, maxPieceLen).scopedCache()
    val chars = subs.filter(col("e") - col("s") === 1)
      .select(col("piece")).distinct()
    // init counts: frequency-weighted occurrences (overlapping included)
    var counts = subs.join(wc, "word")
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint()
    var segs: DataFrame = null
    for (_ <- 1 to emIters) {
      val scores = scoresFrom(counts).localCheckpoint()
      segs = viterbi(subs, scores).localCheckpoint()
      // M-step: pieces actually used, frequency-weighted; single chars
      // keep a floor count of 1 so coverage never collapses
      val used = segs.join(wc, "word")
        .select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      counts = chars.join(used, Seq("piece"), "left")
        .select(col("piece"), greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))
        .unionByName(used.join(chars, Seq("piece"), "left_anti"))
        .localCheckpoint()
    }
    val vocab = counts.join(scoresFrom(counts), "piece")
      .select(col("piece"), col("cnt"), col("lp_fp"))
    (vocab, segs)
  }

  /** Apply a TRAINED unigram score table to another corpus — the
    * persisted-tokenizer deployment split ([[bpeSegmentWith]]'s analog):
    * ONE Viterbi pass over the target corpus's vocabulary under the
    * frozen `(piece, lp_fp)` scores, no EM. A word containing a character
    * the trained inventory never saw has no complete segmentation and is
    * ABSENT from the output (the caller's unseen-word policy decides —
    * mirrored by the oracle, spec-pinned); otherwise the single-char
    * floor guarantees coverage.
    */
  def unigramSegmentWith(
      docs: DataFrame,
      textCol: String,
      scores: DataFrame,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    val wc = bpeWordCounts(docs, textCol).scopedCache()
    // same oracle-parity bound as [[unigramTrainFromWordCounts]] — the
    // Spark fold has no unroll, the replayed oracle rounds do
    val maxLen = wc.agg(coalesce(max(length(col("word"))), lit(0))).head().getInt(0)
    require(maxLen <= maxWordLen,
      s"word of length $maxLen exceeds maxWordLen=$maxWordLen (shared oracle DP bound)")
    viterbi(wordSubstrings(wc, maxPieceLen), scores)
  }

  /** GREEDY maximal-munch segmentation under a trained piece inventory —
    * the WordPiece longest-match-first decode rule (BERT's tokenizer
    * apply step, minus the word-initial/continuation role split): at each
    * position emit the LONGEST inventory piece starting there and jump to
    * its end; a position no piece covers falls back to its single
    * character (total coverage — the complement of
    * [[unigramSegmentWith]]'s absent-word policy). Against the SAME
    * trained inventory this is the greedy counterpart of the Viterbi
    * optimum — where the two disagree is exactly the corpus a tokenizer
    * report should surface.
    *
    * Same shape as the Viterbi leg: candidates are the vocabulary-bounded
    * substring inventory joined to the broadcast piece set, and the whole
    * left-to-right munch runs as ONE in-row `aggregate` fold over
    * positions (state = (pos, path); off-position steps pass through) —
    * one aggregate + one projection, no join rounds. `maxWordLen` is the
    * shared ORACLE round bound ([[unigramTrain]]'s operating policy).
    *
    * Output: (word, pieces array<string>, n_pieces).
    */
  def greedySegmentWith(
      docs: DataFrame,
      textCol: String,
      pieces: DataFrame,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    val wc = bpeWordCounts(docs, textCol).scopedCache()
    val maxLen = wc.agg(coalesce(max(length(col("word"))), lit(0))).head().getInt(0)
    require(maxLen <= maxWordLen,
      s"word of length $maxLen exceeds maxWordLen=$maxWordLen (shared oracle greedy-round bound)")
    val cand = wordSubstrings(wc, maxPieceLen)
      .join(broadcast(pieces.select(col("piece")).distinct()), "piece")
    val ps = cand.groupBy(col("word"))
      .agg(collect_list(struct(col("s"), col("e"), col("piece"))).as("__ps"))
    // words whose characters the inventory never saw have NO candidates:
    // keep them (typed empty candidate array) so the char fallback covers
    val words = wc.select(col("word")).join(ps, Seq("word"), "left")
      .withColumn("__ps", coalesce(col("__ps"),
        array().cast("array<struct<s:int,e:int,piece:string>>")))
    def munch(ps2: Column, word: Column): Column =
      aggregate(
        sequence(lit(0), length(word) - 1),
        struct(lit(0).as("pos"), array().cast("array<string>").as("path")),
        (acc, i) => {
          val atPos = filter(ps2, p => p.getField("s") === i)
          val bestE = array_max(transform(atPos, p => p.getField("e")))
          // (s, e) determines the piece, so the filtered array is a
          // singleton; get() is the ANSI-safe empty-array probe
          val best = get(filter(atPos, p => p.getField("e") === bestE), lit(0))
          when(acc.getField("pos") =!= i, acc).otherwise(struct(
            coalesce(bestE, i + 1).as("pos"),
            concat(acc.getField("path"),
              array(coalesce(best.getField("piece"), word.substr(i + lit(1), lit(1)))))
              .as("path")))
        })
    words.withColumn("__g", munch(col("__ps"), col("word")))
      .select(col("word"), col("__g.path").as("pieces"),
        size(col("__g.path")).cast("long").as("n_pieces"))
  }

  /** Encode the corpus through the trained unigram tokenizer — train
    * ([[unigramTrain]]) then apply the final Viterbi segmentation to every
    * document through the SAME encoding tail as [[bpeEncodeDocs]]
    * (frequency-ranked subword ids, per-doc counts + ordered-id md5
    * signature), so the two tokenizer families ship the identical
    * deployment artifact shape.
    */
  def unigramEncodeDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      emIters: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    val wc = bpeWordCounts(docs, textCol).scopedCache()
    val (_, segs) = unigramTrainFromWordCounts(wc, emIters, maxPieceLen, maxWordLen)
    encodeFromSegmentation(docs, idCol, textCol,
      segs.join(wc, "word")
        .select(col("word"), col("freq"), col("pieces").as("syms")))
  }

  /** [[unigramEncodeDocs]] from an ALREADY-TRAINED segmentation relation
    * `(word, pieces, score_fp)` — the staged split: the EM artifact is
    * produced once (and at production scale persisted) and every consumer
    * derives from it instead of re-running the trainer. Bit-identical to
    * [[unigramEncodeDocs]] when `segs` came from [[unigramTrain]] over the
    * same corpus (the word frequencies are re-derived from `docs`, which is
    * exactly what the self-contained form joins back).
    */
  def unigramEncodeFrom(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segs: DataFrame): DataFrame =
    encodeFromSegmentation(docs, idCol, textCol,
      segs.join(bpeWordCounts(docs, textCol), "word")
        .select(col("word"), col("freq"), col("pieces").as("syms")))

  /** All candidate substrings of a word-count vocabulary with their
    * positions — (word, s, e, piece), s 0-based, e exclusive, lengths
    * 1..maxPieceLen; one narrow projection over the vocabulary.
    */
  private def wordSubstrings(wc: DataFrame, maxPieceLen: Int): DataFrame =
    wc.select(
      col("word"),
      explode(flatten(transform(
        sequence(lit(0), length(col("word")) - 1),
        s => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - s)),
          l => struct(s.as("s"), (s + l).as("e"),
            col("word").substr(s + 1, l).as("piece")))))).as("c"))
      .select(col("word"), col("c.s"), col("c.e"), col("c.piece"))

  /** Quantized log-probabilities from a piece count relation — micro-nat
    * BIGINTs via ln on the integer count/total ratio (the [[lmScore]]
    * portability recipe).
    */
  private def scoresFrom(counts: DataFrame): DataFrame = {
    val total = counts.agg(sum(col("cnt")).as("t"))
    counts.crossJoin(broadcast(total))
      .select(col("piece"),
        round(log(col("cnt").cast("double") / col("t").cast("double")) * lit(1.0e6))
          .cast("long").as("lp_fp"))
  }

  /** Unrolled Viterbi over the vocabulary: DP round `i` extends every
    * scored candidate piece ending at position `i` from the best state at
    * its start, taking the struct max (score, split, path) per word —
    * `maxLen` vocabulary-bounded join rounds, localCheckpointed like every
    * iterative fit in the engine. Output: one row per word at its final
    * position — (word, pieces, score_fp).
    */
  private def viterbi(subs: DataFrame, scores: DataFrame): DataFrame = {
    // IN-ROW DP (the ewmaFixedPoint/cusum aggregate-lambda idiom): each
    // word's scored candidate pieces are collected into one array and the
    // whole best-segmentation DP runs as a single fold over positions
    // 1..len(word) INSIDE the row — one aggregate + one projection over
    // the vocabulary, no per-position join rounds. Through round 7 this
    // was maxLen unrolled join rounds with a localCheckpoint barrier
    // each; at any corpus scale that is 10-24 sequential scheduler
    // barriers for relations that are vocabulary-bounded anyway, so the
    // barriers — not the data — were the entire cost (measured: the
    // sf0.1 EM spends ~5s on ~20 rounds over a 31-word vocabulary). The
    // fold is bit-identical: dp(i) takes the max of
    // struct(score, split, path) over scored pieces ending at i from a
    // reached split — the same total order (score DESC, split DESC,
    // path DESC) the join rounds' struct max and the oracle's
    // row_number() pin.
    val cand = subs.join(broadcast(scores), "piece")
    val pieces = cand.groupBy(col("word"))
      .agg(collect_list(struct(
        col("s"), col("e"), col("lp_fp"), col("piece"))).as("__ps"))
    // dp accumulator: one struct per position 0..i — (reached, score_fp,
    // path); position 0 is the reached empty segmentation
    val dpInit = array(struct(
      lit(true).as("reached"),
      lit(0L).as("score_fp"),
      array().cast("array<string>").as("path")))
    def dpFold(ps: Column, len: Column): Column =
      aggregate(
        sequence(lit(1), len),
        dpInit,
        (acc, i) => {
          val best = array_max(transform(
            filter(ps, p =>
              p.getField("e") === i &&
                element_at(acc, p.getField("s") + 1).getField("reached")),
            p => struct(
              (element_at(acc, p.getField("s") + 1).getField("score_fp") +
                p.getField("lp_fp")).as("score_fp"),
              p.getField("s").as("s"),
              concat(element_at(acc, p.getField("s") + 1).getField("path"),
                array(p.getField("piece"))).as("path"))))
          concat(acc, array(struct(
            best.isNotNull.as("reached"),
            coalesce(best.getField("score_fp"), lit(0L)).as("score_fp"),
            coalesce(best.getField("path"),
              array().cast("array<string>")).as("path"))))
        })
    pieces
      .withColumn("__dp", element_at(dpFold(col("__ps"), length(col("word"))),
        length(col("word")) + 1))
      .filter(col("__dp.reached"))
      .select(col("word"), col("__dp.path").as("pieces"),
        col("__dp.score_fp").as("score_fp"))
  }
}
