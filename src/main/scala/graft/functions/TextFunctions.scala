package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives, all pure Catalyst expressions (no UDFs → whole-stage
  * codegen end to end). Re-expresses the reference's Python text ops
  * (SURVEY.md §2.2-2.3: cleanLower `script1.py:37-38`, wordpunct
  * tokenization `transformers.py:34-36`, n-grams `script3.py:52-54`,
  * per-doc dedup `main_reglogit.py:60`) plus the training-data-pipeline
  * additions (fingerprinting, MinHash, SimHash, language ID, quality).
  *
  * Determinism note: everything here is integer/string-exact, so results
  * are reproducible across engines — the oracle SQL in
  * graft.queries.TextQueries mirrors these formulas in DuckDB.
  */
object TextFunctions {

  /** NLTK English stopword list (127 words) — the reference applies
    * NLTK's list (`script1.py:49-51`), not Spark's default, so we pin it
    * as a constant shared by the Scala side and the generated oracle SQL. */
  val NltkStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "her", "hers", "herself", "it", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had", "having",
    "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
    "or", "because", "as", "until", "while", "of", "at", "by", "for",
    "with", "about", "against", "between", "into", "through", "during",
    "before", "after", "above", "below", "to", "from", "up", "down", "in",
    "out", "on", "off", "over", "under", "again", "further", "then",
    "once", "here", "there", "when", "where", "why", "how", "all", "any",
    "both", "each", "few", "more", "most", "other", "some", "such", "no",
    "nor", "not", "only", "own", "same", "so", "than", "too", "very",
    "s", "t", "can", "will", "just", "don", "should", "now")

  /** Tiny per-language function-word lexicons for the n-gram-free
    * language-ID heuristic (langId). Deliberately small so the oracle SQL
    * stays readable; extendable without changing the argmax logic. */
  val LangLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "un", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "les", "un", "est", "que"))

  /** Per-language keep rates (permyriad, i.e. x/10000) for the
    * deterministic stratified-sampling pass (q48) — shared by the Scala
    * side and the generated oracle CASE. Languages absent from the list
    * keep everything. Values are MIX KNOBS, not constants of nature. */
  val SampleRatesPermyriad: Seq[(String, Int)] = Seq(
    "en" -> 2500, "de" -> 5000, "es" -> 5000, "fr" -> 5000, "zh" -> 7500)

  /** Reference P1: `<br /><br />`→replacement then lowercase
    * (`script1.py:37-38`; P2 variant uses ""). */
  def cleanLower(c: Column, brReplacement: String = " "): Column =
    lower(regexp_replace(c, "<br /><br />", brReplacement))

  /** Reference P3 intent: strip all HTML tags. */
  def htmlStrip(c: Column): Column = regexp_replace(c, "<[^>]+>", " ")

  /** Reference T3: raw whitespace split (professor's tokenizer). */
  def whitespaceTokens(c: Column): Column = split(c, " ")

  /** Reference T2 core regex `\w+|[^\w\s]+` (NLTK wordpunct). */
  def wordPunctTokens(c: Column): Column =
    regexp_extract_all(c, lit("""\w+|[^\w\s]+"""), lit(0))

  /** Case-insensitive stopword membership. `isInCollection` compiles to
    * Catalyst InSet (hash-set lookup) — O(1) per token vs the O(|list|)
    * scan an array_contains over a literal array would do. */
  def isStopword(t: Column, stopwords: Seq[String] = NltkStopwords): Column =
    lower(t).isInCollection(stopwords)

  /** Stopword removal preserving duplicates (array_except would dedup —
    * the reference keeps non-stopword duplicates, `transformers.py:34-36`). */
  def removeStopwords(tokens: Column, stopwords: Seq[String] = NltkStopwords): Column =
    filter(tokens, t => !isStopword(t, stopwords))

  /** `size(removeStopwords(tokens))` as one codegen'd pass
    * ([[graft.plans.StopwordCountExpr]]): higher-order `filter` runs on
    * the expression interpreter and materializes an array that only
    * ever feeds size(). Same per-element semantics (see the
    * expression's scaladoc). */
  def nonStopwordCount(tokens: Column, stopwords: Seq[String] = NltkStopwords): Column =
    graft.plans.StopwordCountExpr.column(tokens, stopwords, matchStopwords = false)

  /** Reference T4/T5: n-grams as space-joined consecutive token runs,
    * via the codegen'd [[graft.plans.NGramArray]] expression (the
    * composed `transform(sequence(...), i => concat_ws(" ", slice(...)))`
    * form ran on the HOF interpreter at ~0.3 ms/row — n-gram
    * construction feeds every shingle consumer, so it gets the native
    * loop). Short docs yield an empty array; null token elements are
    * skipped inside a gram (concat_ws semantics), identical to the
    * composed form. */
  def ngrams(tokens: Column, n: Int): Column =
    graft.plans.NGramArray(tokens, n)

  /** Distinct k-shingles — the MinHash/Jaccard input set. */
  def shingles(tokens: Column, k: Int): Column =
    array_distinct(ngrams(tokens, k))

  /** `size(array_distinct(ngrams(tokens, k)))` as one primitive pass —
    * no n-gram strings, no arrays, no string hash set (the repetition
    * signal of the Gopher quality rules, q37/q109). Exact up to a
    * ~m²/2⁶⁵ per-doc 64-bit window-hash collision — see
    * [[graft.plans.DistinctNgramCountExpr]]; parity with the composed
    * form is spec-pinned on the real corpus. */
  def distinctNgramCount(tokens: Column, k: Int): Column =
    graft.plans.DistinctNgramCountExpr.column(tokens, k)

  /** Content fingerprint: md5 of the lowercased text — the exact-dedup
    * key. (Both Spark and DuckDB emit lowercase-hex md5.) */
  def fingerprint(c: Column): Column = md5(lower(c))

  /** A 60-bit integer hash derived from md5 — the one string→int hash
    * both engines can compute bit-identically (15 hex chars < 2^63).
    * Used for MinHash and SimHash so signatures are oracle-checkable. */
  def md5Hash60(c: Column): Column =
    graft.plans.Md5Hash60Expr.column(c.cast("string"))

  /** The composed-SQL form of [[md5Hash60]] — what every oracle states,
    * and what the native expression must stay bit-identical to
    * (VectorExpressionSpec pins the parity on random/unicode/empty
    * inputs). */
  def md5Hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** All k-token shingle hashes of a token array in one native kernel —
    * `array<long>`, element i == [[md5Hash60]] of the space-joined
    * window starting at token i (empty array when the doc is shorter
    * than k). Replaces the transform+concat+explode(string) render on
    * the substring-dup paths: no shingle string is ever materialized. */
  def shingleHashes60(tokens: Column, k: Int): Column =
    graft.plans.ShingleHash60Expr.column(tokens, k)

  /** 32-bit base hash (low 32 bits of the md5 slice). Universal-hash
    * seeds build on this so md5 runs ONCE per token, not once per seed. */
  def md5Hash32(c: Column): Column = md5Hash60(c) % lit(1L << 32)

  /** Precompute per-token base hashes — callers materialize this as a
    * column so the k seeded rehashes below share one md5 pass. */
  def tokenHashes(tokens: Column): Column = transform(tokens, t => md5Hash32(t))

  /** Smallest prime > 2^32: universal-hash modulus. a·h+b stays under
    * 2^62 (a < 2^30, h < 2^32) — no signed-64 overflow in either engine. */
  val MinhashPrime: Long = 4294967311L

  /** Deterministic (a, b) per seed — Knuth multiplicative constants,
    * identical on the oracle side (generated from this list). */
  val MinhashParams: Seq[(Long, Long)] = (0 until 16).map { s =>
    val a = ((2654435761L * (s + 1)) % (1L << 30)) | 1L
    val b = (40503L * (s + 7) * (s + 7)) % (1L << 30)
    (a, b)
  }

  /** MinHash signature (array<long>, length k) from precomputed hashes. */
  def minhashFromHashes(hs: Column, k: Int): Column =
    array((0 until k).map { s =>
      val (a, b) = MinhashParams(s)
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % lit(MinhashPrime)))
    }: _*)

  /** Full k-element MinHash signature as array<long> (convenience —
    * for hot paths materialize tokenHashes first). */
  def minhashSignature(tokens: Column, k: Int): Column =
    minhashFromHashes(tokenHashes(tokens), k)

  /** SimHash bitmask from precomputed token hashes: for each of the low
    * 32 bits, sign of sum(bit set ? +1 : -1). Integer-only →
    * engine-portable. Callers materialize the hash array so md5 runs
    * once, not 32 times. */
  def simhashFromHashes(hs: Column): Column = {
    val bits = (0 until 32).map { b =>
      val votes = aggregate(
        hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** SimHash over (by default distinct) tokens — convenience wrapper. */
  def simhash32(tokens: Column, distinct: Boolean = true): Column = {
    val toks = if (distinct) array_distinct(tokens) else tokens
    simhashFromHashes(transform(toks, t => md5Hash60(t)))
  }

  /** Whitespace character class, spelled out instead of `\s`: Java's
    * `\s` includes vertical tab (\x0B), RE2's does not — inlining the
    * RE2 set keeps every pattern below bit-identical across engines
    * even on texts containing VT. */
  val Ws = " \\t\\n\\f\\r"

  /** BPE-ish subword-count estimator: alpha runs chunked at 4 chars,
    * digit runs as one token, punctuation char-wise — the cheap
    * LLM-token budget proxy. Pattern is deliberately RE2/Java-portable. */
  val BpePattern = s"[a-zA-Z]{1,4}|[0-9]+|[^a-zA-Z0-9$Ws]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Unicode-aware wordpunct tokenizer: letter/digit runs by Unicode
    * category. Java regex and DuckDB's RE2 agree on `\p{L}`/`\p{N}`/
    * `\p{Zs}`, so unlike the POS tagger's unicode mode this IS
    * oracle-expressible — the DuckDB twin embeds the identical pattern
    * in regexp_extract_all. Whitespace is the spelled-out [[Ws]] set
    * (Java and RE2 disagree on `\s`) plus `\p{Zs}` for Unicode spaces. */
  val UnicodeWordPunctPattern: String =
    s"[\\p{L}\\p{N}_]+|[^\\p{L}\\p{N}_$Ws\\p{Zs}]+"

  def wordPunctTokensUnicode(c: Column): Column =
    regexp_extract_all(c, lit(UnicodeWordPunctPattern), lit(0))

  /** Order-sensitive rolling fingerprint over token hashes:
    * h ← (h·31 + hash32(token)) mod 2^31-1. Unlike the md5-of-text
    * fingerprint it survives whitespace normalization differences, and
    * unlike MinHash it is order-sensitive — a cheap sequence identity. */
  def rollingFingerprint(tokens: Column): Column =
    aggregate(transform(tokens, t => md5Hash32(t)), lit(0L),
      (acc, h) => (acc * 31L + h) % lit(2147483647L))

  /** Type-token ratio: distinct tokens / total tokens (lexical richness
    * component of quality scoring). */
  def typeTokenRatio(tokens: Column): Column =
    size(array_distinct(tokens)).cast("double") / size(tokens)

  /** Mean token length: integer sum of lengths / count. */
  def meanTokenLen(tokens: Column): Column =
    aggregate(tokens, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / size(tokens)

  /** Stopword ratio — fraction of tokens that are (NLTK) stopwords.
    * Counted by the codegen'd [[graft.plans.StopwordCountExpr]] kernel
    * (was an interpreted higher-order filter + size). */
  def stopwordRatio(tokens: Column, stopwords: Seq[String] = NltkStopwords): Column =
    graft.plans.StopwordCountExpr.column(tokens, stopwords, matchStopwords = true)
      .cast("double") / size(tokens)

  /** Duplicate n-gram ratio — the Gopher-style repetition signal
    * ("repetitious documents", Rae et al. 2021, §A1.1): fraction of
    * n-grams that are repeats of an earlier one. Exact integer counts
    * with one double division, so the oracle can hash-match. Documents
    * too short to form an n-gram score 0.0. */
  def dupNgramRatio(tokens: Column, n: Int): Column = {
    // the gram ARRAY is built once (inside array_distinct); the total
    // gram count comes from size(tokens) arithmetic — referencing the
    // array a second time would re-evaluate the whole construction
    val total = size(tokens) - lit(n - 1)
    when(total > 0,
      (total - size(array_distinct(ngrams(tokens, n)))).cast("double") / total)
      .otherwise(lit(0.0))
  }

  /** Character-class count (portable regex char classes only). The two
    * classes the quality rules evaluate on every row route to a native
    * byte-scan kernel ([[graft.plans.CharClassCountExpr]] — parity
    * spec-pinned); anything else pays the composed regexp_replace form,
    * which materializes a stripped copy of the text per row. */
  def charClassCount(text: Column, clazz: String): Column = clazz match {
    case "[A-Za-z]" => graft.plans.CharClassCountExpr.alphaColumn(text)
    case c if c == SymbolClass =>
      graft.plans.CharClassCountExpr.symbolColumn(text)
    case _ => length(text) - length(regexp_replace(text, clazz, ""))
  }

  /** Fraction of characters that are ASCII letters. */
  def alphaRatio(text: Column): Column =
    charClassCount(text, "[A-Za-z]").cast("double") / greatest(length(text), lit(1))

  /** Char class for "neither alphanumeric nor whitespace" — shared by
    * symbolRatio and the staged q37 form so the two cannot drift. */
  val SymbolClass: String = s"[^A-Za-z0-9$Ws]"

  /** Fraction of characters that are neither alphanumeric nor
    * whitespace — the symbol-to-content signal. */
  def symbolRatio(text: Column): Column =
    charClassCount(text, SymbolClass).cast("double") / greatest(length(text), lit(1))

  /** RE2/Java-portable URL and email patterns (PII scrubbing). */
  val UrlPattern = s"https?://[^$Ws]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def urlCount(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlPattern), lit(0)))

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))

  /** Redact URLs and emails to fixed placeholder tokens — the scrubbing
    * pass a training-data pipeline runs before tokenization. Order
    * matters: URLs first, so an email-shaped substring inside a URL
    * query string is already gone when the email pass runs. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlPattern, "<URL>"),
      EmailPattern, "<EMAIL>")

  /** Lexicon-hit count for one language (InSet lookup). */
  def lexiconHits(tokens: Column, lexicon: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(lexicon)))

  /** Language-ID heuristic: argmax of lexicon hits, ties broken by
    * lexicon declaration order (en > es > de > fr), 'und' if no hits. */
  def langId(tokens: Column): Column = {
    val hits = LangLexicons.map { case (lang, lex) => lang -> lexiconHits(tokens, lex) }
    val best = hits.tail.foldLeft((hits.head._1: String, lit(hits.head._1), hits.head._2)) {
      case ((_, bestLang, bestHits), (lang, h)) =>
        (lang, when(h > bestHits, lit(lang)).otherwise(bestLang),
          when(h > bestHits, h).otherwise(bestHits))
    }
    when(best._3 === 0, lit("und")).otherwise(best._2)
  }
}
