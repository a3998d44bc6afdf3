package graft.text

import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernels for training-data pipelines: tokenization,
  * quality scoring, language-ID heuristic, fingerprinting, shingling.
  *
  * Everything here is a narrow (map-only) column expression — no
  * shuffles, no UDFs, no driver round-trips — so a 100 TB documents
  * scan stays whole-stage-codegen'd end to end. Each function has a
  * deliberately SQL-expressible definition so results are oracle-
  * verifiable bit-for-bit against DuckDB.
  *
  * Tokenizer semantics (what [[tokens]] returns and every count below
  * is defined over), exactly those of Spark's
  * `split(trim(text), "\\s+", -1)` with an empty-text guard:
  *   - `trim` strips only spaces (0x20), not tabs or newlines;
  *   - a trimmed-empty text (empty or all spaces) has no tokens;
  *   - otherwise the trimmed text is cut at every maximal run of regex
  *     `\\s`, which is `[ \t\n\x0B\f\r]` only (no Unicode spaces);
  *   - leading and trailing empty tokens are kept, so `"\tab\t"` has
  *     the three tokens `""`, `"ab"`, `""`;
  *   - character counts are code points, as `length`;
  *   - a null text gives a null token array, and every count is what
  *     `size` of that null array gives under the session's settings.
  * The per-document counts come from one codegen'd byte pass
  * ([[graft.functions.TextKernels.textStats]]); the ratios are Catalyst
  * arithmetic over them, so they equal the regex/lambda forms' doubles
  * bit for bit, and a projection of several of them evaluates the pass
  * once per row (subexpression elimination). `TextKernelsSpec` pins the
  * equivalence against the regex forms.
  */
object Text {

  /** Whitespace tokens of trimmed text (empty text -> empty array),
    * per the tokenizer semantics above. */
  def tokens(text: Column): Column = TextFunctions.wsTokens(text)

  /** The one-pass per-document counts; [[EnglishStop]] unless a ratio
    * asks for another word list. */
  private def stats(text: Column, stopwords: Seq[String] = EnglishStop): Column =
    TextFunctions.textStats(text, stopwords)

  /** `size` of a null array: -1 or null, by the session's
    * `spark.sql.legacy.sizeOfNull` and ANSI settings. */
  private def nullSize: Column = size(lit(null).cast("array<string>"))

  /** A count of [[stats]], or `size` of the null array for a null text. */
  private def count(text: Column, field: String, stopwords: Seq[String]): Column =
    coalesce(stats(text, stopwords).getField(field), nullSize)

  def tokenCount(text: Column): Column = count(text, "n_tokens", EnglishStop)

  /** BPE-ish subword-boundary token count: alnum runs and individual
    * punctuation marks each count as one token (the classic pre-BPE
    * word/punct split regex). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Ratio of characters outside [a-z0-9 ] (punctuation/other). */
  def punctRatio(text: Column): Column = {
    val st = stats(text)
    when(st.getField("n_chars") === 0, lit(0.0))
      .otherwise(st.getField("n_other") / st.getField("n_chars"))
  }

  /** Fraction of tokens found in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val n = count(text, "n_tokens", stopwords)
    when(n === 0, lit(0.0))
      .otherwise(count(text, "n_stop", stopwords) / n)
  }

  val EnglishStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Composite document-quality score in [0,1]: length saturation,
    * cleanliness (1 - punct ratio), stopword-band closeness. Weights are
    * a documented heuristic (CCNet-style aggregate of cheap signals). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lengthScore = least(lit(1.0), nTok / lit(100.0))
    val cleanScore = lit(1.0) - punctRatio(text)
    val stopScore = lit(1.0) - abs(stopwordRatio(text, EnglishStop) - lit(0.4))
    round(lit(0.4) * lengthScore + lit(0.4) * cleanScore + lit(0.2) * stopScore, 6)
  }

  /** Per-language marker-token lists for the n-gram/stopword language-ID
    * heuristic. Deterministic and tiny by design; a production list
    * would ship the fastText/CLD3 tables the same way (broadcast
    * literals, no shuffle). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die", "das", "batch", "hash"),
    "en" -> Seq("the", "a", "of", "and", "fast", "slow"),
    "es" -> Seq("el", "la", "de", "que", "table", "row"),
    "fr" -> Seq("le", "la", "les", "et", "query", "window"),
    "zh" -> Seq("的", "了", "是", "我", "spark", "stream"))

  def markerCount(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers)))

  /** Predicted language: argmax of marker counts, ties broken by
    * alphabetical language code (first list wins). */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, m) => lang -> markerCount(text, m) }
    val best = greatest(counts.map(_._2): _*)
    counts.foldRight(lit(LangMarkers.head._1)) { case ((lang, c), acc) =>
      when(c === best, lit(lang)).otherwise(acc)
    }
  }

  /** Canonical whitespace-normalized lowercase form:
    * `regexp_replace(lower(trim(text)), "\\s+", " ")`, the whitespace
    * runs collapsed by a byte loop. `lower` stays Spark's own, so
    * non-ASCII case mapping is exactly the oracle-checked one. */
  def normalized(text: Column): Column =
    TextFunctions.collapseWhitespace(lower(trim(text)))

  /** Content fingerprint: MD5 of the normalized text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Word n-gram shingles as strings ("w1 w2 ... wn"); fewer than n
    * tokens -> single shingle of the whole text. The >= n branch runs
    * the codegen'd [[graft.functions.WordSpans]] kernel — the previous
    * transform/slice lambda re-evaluated the split-fed token array per
    * window position (interpreted, O(tokens·n) regex work per doc; the
    * q161 postmortem in SURVEY.md), which taxed every MinHash
    * signature pass built on shingles. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(graft.functions.HashFunctions.wordSpans(toks, n))

  // --- PII scrubbing -------------------------------------------------
  // Pattern subset chosen to evaluate identically under Java regex
  // (Spark) and RE2 (DuckDB oracle): no backreferences, no lookaround.

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"

  /** Redact emails, IPv4 addresses, then phone-like digit runs with
    * typed placeholder tokens, in that fixed order (the IP rule must
    * see addresses before the phone rule can eat their digit runs).
    * Map-only; the three passes fuse into one codegen'd projection. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // --- Repetition signals (Gopher-style quality filters) -------------

  /** Adjacent word pairs ("w1 w2") of a token array; < 2 tokens -> []. */
  /** Adjacent word pairs joined by a space; fewer than 2 tokens (incl.
    * the empty array, whose size-1 slice length would throw) -> []. */
  def bigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))

  /** Fraction of tokens that are repeats of an earlier token:
    * 1 - distinct/total. High values flag boilerplate/spam. */
  def dupTokenFrac(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(toks)).cast("double") / size(toks))

  /** Occurrence count of the most frequent element — computed per row
    * as the longest run in the sorted array (one aggregate HOF, no
    * explode/shuffle: at 100 TB the per-document mode must not become
    * a corpus-wide groupBy). Empty array -> 0. */
  def maxElementCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
}
