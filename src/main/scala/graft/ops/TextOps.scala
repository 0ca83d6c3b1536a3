package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression builders for text analytics over a document
  * corpus. Everything here is a pure Catalyst expression (whole-stage
  * codegen, no UDFs), deterministic, and integer-valued wherever a
  * result feeds a comparison — so results are reproducible bit-for-bit
  * across engines and cluster sizes.
  *
  * The word hash is intentionally simple (length + first/last char
  * polynomial): it is NOT a quality hash, it is a *portable* one — the
  * DuckDB oracle replicates it exactly. Swapping in xxhash64 for
  * production quality is a one-line change (`functions.xxhash64`).
  */
object TextOps {

  /** Whitespace tokens, empties dropped (split keeps them); null text
    * tokenizes to [] so every derived metric is 0/empty rather than
    * null — mirrored by the oracle's COALESCE(text, '').
    */
  def words(text: Column): Column =
    graft.functions.ShingleExpressions.whitespaceWords(coalesce(text, lit("")))

  /** Portable per-word hash: length*10007 + first*101 + last. */
  def wordHash(w: Column): Column =
    length(w).cast("long") * 10007L +
      ascii(w.substr(lit(1), lit(1))).cast("long") * 101L +
      ascii(w.substr(lit(-1), lit(1))).cast("long")

  /** Word 3-gram shingle hashes (poly combine of word hashes, mod
    * 2^31-1); [] under 3 words. Used by MinHash.
    */
  def shingleHashes(ws: Column): Column =
    when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2), i =>
        ((wordHash(element_at(ws, i)) * 31L +
          wordHash(element_at(ws, i + 1))) * 31L +
          wordHash(element_at(ws, i + 2))) % 2147483647L))
      .otherwise(array().cast("array<long>"))

  /** Rolling polynomial document fingerprint over word hashes,
    * mod 1e9+7. Integer-exact, order-sensitive (a permuted document
    * fingerprints differently, unlike a bag-of-words hash).
    */
  def fingerprint(text: Column): Column =
    aggregate(words(text), lit(0L),
      (acc, w) => (acc * 31L + wordHash(w)) % 1000000007L)

  /** 32-bit SimHash over word tokens: bit b of the signature is the
    * sign of the per-bit vote sum across token hashes. Near-duplicate
    * documents land at small Hamming distance; `simHashBucket` gives
    * a blocking key for candidate generation at scale. Backed by the
    * single-pass custom expression (one wordHash per token, all 32
    * bit votes in one loop).
    */
  def simHash32(text: Column): Column =
    graft.functions.ShingleExpressions.simHash32(words(text))

  /** Top-16-bit SimHash block key (coarse LSH-style blocking). */
  def simHashBucket(text: Column): Column = shiftright(simHash32(text), 16)

  // --- language-ID heuristic -----------------------------------------

  /** Tiny per-language stopword profiles. Deliberately small so the
    * oracle can replicate the argmax exactly; a production profile
    * would load full frequency tables the same way.
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"))

  /** Single-profile stopword hit count. Routed through the one-pass
    * custom expression rather than `size(filter(ws, isin(...)))`:
    * higher-order functions are CodegenFallback, so the declarative
    * form both broke the hosting whole-stage span and re-walked an
    * interpreted predicate tree per token.
    */
  def stopwordHits(ws: Column, stopwords: Seq[String]): Column =
    element_at(
      graft.functions.ShingleExpressions.stopwordProfileScores(ws, Seq(stopwords)), 1)

  /** All per-language stopword scores as one array<long> (one pass
    * over the token array). Materialize this in a select of its own
    * before feeding [[argmaxLabel]]: the argmax CASE chain references
    * each score ~5×, and Catalyst happily duplicates a non-trivial
    * scoring subtree into every reference when both live in one
    * projection (CollapseProject never re-inlines a non-cheap
    * expression across two selects, so the two-phase form evaluates
    * the scorer exactly once per row).
    */
  def stopwordProfileScores(text: Column): Column =
    graft.functions.ShingleExpressions
      .stopwordProfileScores(words(text), StopwordProfiles.map(_._2))

  /** Argmax over a scores array (1-indexed, parallel to `labels`):
    * first label whose score is >= all later scores; `und` when every
    * score is 0. Keep `scores` an attribute reference — the chain
    * reads it ~5× per row.
    */
  def argmaxLabel(scores: Column, labels: Seq[String]): Column = {
    val s = labels.indices.map(i => element_at(scores, i + 1))
    val allZero = s.map(_ === 0L).reduce(_ && _)
    // argmax, earlier profile wins ties: lang_i iff s_i >= all later
    // AND s_i > all earlier is implied by CASE order.
    val chain = labels.indices.foldRight(lit("und")) { case (i, elseCol) =>
      val geLater = s.drop(i + 1).foldLeft(lit(true))((c, o) => c && s(i) >= o)
      when(geLater, lit(labels(i))).otherwise(elseCol)
    }
    when(allZero, lit("und")).otherwise(chain)
  }

  /** Predicted language: argmax of stopword hits, first-listed wins
    * ties, "und" (undetermined) when no profile scores at all.
    * Single-column convenience form; hot paths should select
    * [[stopwordProfileScores]] first and argmax over the attribute.
    */
  def langId(text: Column): Column =
    argmaxLabel(stopwordProfileScores(text), StopwordProfiles.map(_._1))

  /** Character-trigram profiles for the n-gram language-ID variant:
    * a few high-frequency trigrams per language (with word-boundary
    * spaces). A production profile carries a few hundred ranked
    * trigrams per language, loaded the same way.
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", "ing", " of", "of "),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", " el", "el ", "ión", "ent"),
    "de" -> Seq(" de", "der", "er ", "ie ", " di", "die", "ein", "sch", "und"),
    "fr" -> Seq(" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "ion"))

  /** N-gram (char-trigram) language ID: score = number of profile
    * trigram OCCURRENCES in the text; argmax, earlier profile wins
    * ties, "und" when nothing matches. Same decision shape as
    * [[langId]] but driven by substring statistics instead of token
    * membership — robust to languages without clean tokenization.
    */
  /** All per-language trigram-occurrence scores as one array<long>
    * (one custom-expression text scan; replaces 36 regexp_replace
    * full scans per row). Same two-phase discipline as
    * [[stopwordProfileScores]].
    */
  def trigramProfileScores(text: Column): Column =
    graft.functions.ShingleExpressions
      .trigramProfileScores(coalesce(text, lit("")), TrigramProfiles.map(_._2))

  def langIdNgram(text: Column): Column =
    argmaxLabel(trigramProfileScores(text), TrigramProfiles.map(_._1))

  // --- quality metrics ------------------------------------------------

  /** Canonical text normalization for dedup keys and matching:
    * lowercase, non-alphanumerics to spaces, runs collapsed, ends
    * trimmed. Kept in the Java-regex/RE2 common subset so the oracle
    * replicates it; exact-dedup on normalize(text) catches the
    * case/punctuation near-misses raw md5 dedup misses.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(coalesce(text, lit(""))), "[^a-z0-9 ]", " "),
      " +", " "))

  def wordCount(text: Column): Column = size(words(text)).cast("long")

  /** Σ length(word) without walking the token array: the tokenizer
    * splits on 0x20 only, so the total word length IS the code-point
    * count of the text minus its spaces — `translate` + `length` stay
    * inside whole-stage codegen where the per-word `aggregate` fold
    * was an interpreted walk. Null text counts 0, like `words`.
    */
  def totalWordChars(text: Column): Column =
    length(translate(coalesce(text, lit("")), " ", "")).cast("long")

  /** Occurrence count of `.,!?;:` as a translate length-diff — same
    * value as counting regexp matches, without materializing a match
    * array per row. Null-propagating like the regexp form it replaced.
    */
  def punctCount(text: Column): Column =
    (length(text) - length(translate(text, ".,!?;:", ""))).cast("long")

  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))).cast("long")

  /** Sentence count: non-blank segments between `.!?` runs. Kept in
    * the Java/RE2 regex common subset so the oracle splits the same.
    */
  def sentenceCount(text: Column): Column =
    size(filter(split(coalesce(text, lit("")), "[.!?]+"),
      w => length(trim(w)) > 0)).cast("long")

  /** Flesch reading-ease from (n_words, n_sents, n_syll) integer
    * columns in scope — one closing double expression, shared
    * token-for-token with the oracle. */
  val FleschExpr: String =
    """CASE WHEN n_sents = 0 OR n_words = 0 THEN 0.0
       ELSE 206.835
            - 1.015*(CAST(n_words AS DOUBLE)/CAST(n_sents AS DOUBLE))
            - 84.6*(CAST(n_syll AS DOUBLE)/CAST(n_words AS DOUBLE))
       END"""

  /** Syllable proxy: vowel-group count over the whole lowercased
    * text. Spaces and punctuation break groups, so this equals the
    * per-word vowel-group sum without a per-word walk — the standard
    * readability approximation, exact as an integer and engine-
    * portable (no dictionary, no heuristics that diverge).
    */
  def vowelGroupCount(text: Column): Column =
    size(regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("[aeiouy]+"), lit(0))).cast("long")

  /** BPE-style pretokenization count: runs of letters / digits /
    * other, each optionally absorbing one leading space (the GPT-2
    * pretokenizer shape, ASCII-simplified so Java and RE2 regex
    * engines agree).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"), lit(0))).cast("long")

  /** Integer-threshold quality bucket (length / stopword presence).
    * The thresholds are illustrative; the point is the shape: pure
    * integer comparisons, no floats, portable to any engine.
    */
  def qualityBucket(text: Column): Column = {
    val nw = wordCount(text)
    val stops = stopwordHits(words(text), StopwordProfiles.head._2)
    when(nw >= 30 && stops * 10L >= nw, lit("high"))
      .when(nw >= 10, lit("medium"))
      .otherwise(lit("low"))
  }
}
