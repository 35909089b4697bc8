package graft.queries

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Similarity

/** Text-analysis operators over the `documents` table — the distributed,
  * oracle-checked re-expression of the reference's text pipeline
  * (tokenize → vocabulary → vectorize, SURVEY.md §2.3-2.4) plus the
  * training-data-pipeline operators (dedup, fingerprinting, quality,
  * language ID).
  *
  * Scale notes: everything is per-row narrow work (codegen'd expressions)
  * until the explicit aggregations; the vocabulary build (q21) is the
  * distributed replacement for the reference's driver-side
  * `collect→set→enumerate` (`script3.py:60-69`) — explode + hash
  * aggregate, map-side partial aggregation included. At 100 TB none of
  * these collect to the driver.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents

  private def toks: Column = whitespaceTokens(col("text"))

  /** Shared stopword list rendered as a SQL array literal, so the oracle
    * uses the exact same constant as the Scala side. */
  private val swSql: String =
    NltkStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  // ---------------------------------------------------------------- q20
  /** Token statistics per document (T3 + P9). */
  def q20TokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // sort-first (r18): orderBy over an exchange-free pipeline
      // re-executes the whole child for range-boundary sampling; sorting
      // the bare scan first keeps the heavy projection above the sort,
      // evaluated once (q38 measured 0.664 -> 0.421 s warm)
      .orderBy("doc_id")
      // stage the split once; n_tokens and n_distinct read the same array
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        bpeTokenCount(col("text")).cast("long").as("n_subtokens"))

  val q20Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_subtokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Distributed vocabulary build with document frequency (V1): explode
    * per-doc distinct tokens → two-level hash aggregate. Top 100 by df. */
  def q21VocabDf(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(100)

  val q21Sql: String =
    """SELECT token, count(*) AS df FROM (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY df DESC, token ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Corpus-level bigram counts (T4 distributed): ngram expansion is a
    * narrow per-row transform; the count is one shuffle. */
  def q22BigramTop(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(ngrams(toks, 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(50)

  val q22Sql: String =
    """SELECT bigram, count(*) AS cnt FROM (
      |  SELECT unnest(list_transform(range(1, len(l)),
      |                i -> l[i] || ' ' || l[i + 1])) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS l FROM documents))
      |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Stopword removal (T2's stopword half): duplicate-preserving filter
    * against the pinned NLTK list. */
  def q23StopwordFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .orderBy("doc_id") // sort-first (r18): see q20TokenStats
      .select(col("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        nonStopwordCount(col("toks")).cast("long").as("n_content"))

  val q23Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(string_split(text, ' '),
       |       t -> NOT list_contains($swSql, lower(t)))) AS BIGINT) AS n_content
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Quality scoring: token count, type-token ratio, mean token length,
    * stopword ratio. All integer-derived → exact doubles. */
  def q24Quality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .orderBy("doc_id") // sort-first (r18): see q20TokenStats
      // stage the split ONCE: four derived columns read the same array;
      // CollapseProject keeps the stage (split is non-cheap and
      // referenced 4×), so the plan evaluates one split/row, not four
      .select(col("doc_id"), col("n_chars"), toks.as("toks"))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        typeTokenRatio(col("toks")).as("type_token_ratio"),
        meanTokenLen(col("toks")).as("mean_token_len"),
        stopwordRatio(col("toks")).as("stopword_ratio"))

  val q24Sql: String =
    s"""SELECT doc_id, n_chars,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
       |  CAST(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
       |    / len(toks) AS mean_token_len,
       |  CAST(len(list_filter(toks, t -> list_contains($swSql, lower(t)))) AS DOUBLE)
       |    / len(toks) AS stopword_ratio
       |FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Unicode-aware wordpunct tokenization stats: Java regex and DuckDB's
    * RE2 agree on `\p{L}`/`\p{N}`/`\p{Zs}`, so the same pattern source
    * runs in both engines — the oracle twin for the Unicode tokenizer
    * (the POS tagger's unicode mode, by contrast, is documented
    * oracle-free). */
  def q47UnicodeTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .orderBy("doc_id") // sort-first (r18): see q20TokenStats
      .select(col("doc_id"), wordPunctTokensUnicode(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_wp_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_wp_distinct"))

  val q47Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$UnicodeWordPunctPattern')) AS BIGINT) AS n_wp_tokens,
       |  CAST(len(list_distinct(regexp_extract_all(text, '$UnicodeWordPunctPattern'))) AS BIGINT) AS n_wp_distinct
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Language ID: per-language lexicon hits + deterministic argmax,
    * compared against the table's `lang` column for an accuracy rollup. */
  def q25LangId(spark: SparkSession, dir: String): DataFrame = {
    // staged form of langId: stage 1 runs each lexicon scan ONCE into an
    // integer column; stage 2's argmax is cheap comparisons. The single-
    // Column langId(toks) is semantically identical but its when-fold
    // re-evaluates the hit expressions at every comparison level —
    // integer staging is the hot-path form (same lesson as q37).
    val hitCols = LangLexicons.map { case (lang, lex) =>
      lexiconHits(toks, lex).as(s"${lang}_hits")
    }
    val staged = docs(spark, dir)
      .select(col("doc_id") +: col("lang") +: hitCols: _*)
    // argmax generated by the same first-wins fold as langId, over the
    // staged integer columns — LangLexicons stays the single source of
    // truth; adding/reordering a language changes nothing here
    val hits = LangLexicons.map { case (lang, _) => lang -> col(s"${lang}_hits") }
    val best = hits.tail.foldLeft((lit(hits.head._1), hits.head._2)) {
      case ((bestLang, bestHits), (lang, h)) =>
        (when(h > bestHits, lit(lang)).otherwise(bestLang),
          when(h > bestHits, h).otherwise(bestHits))
    }
    staged
      .withColumn("predicted", when(best._2 === 0, "und").otherwise(best._1))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "predicted")
  }

  val q25Sql: String = {
    val hitExprs = LangLexicons.map { case (lang, lex) =>
      val arr = lex.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, t -> list_contains($arr, t))) AS ${lang}_hits"
    }.mkString(", ")
    // Sequential argmax (first-wins on ties) == CASE in reverse priority:
    // a later language wins only with STRICTLY more hits than all before
    // it. Generated from LangLexicons (same fold as the Spark side), so
    // both engines' argmax derives from the one lexicon list.
    val langs = LangLexicons.map(_._1)
    val undCond = langs.map(l => s"${l}_hits = 0").mkString(" AND ")
    val reverseWhens = (langs.size - 1 to 1 by -1).map { k =>
      val earlier = langs.take(k).map(l => s"${l}_hits")
      val bound = if (earlier.size == 1) earlier.head
                  else s"greatest(${earlier.mkString(", ")})"
      s"WHEN ${langs(k)}_hits > $bound THEN '${langs(k)}'"
    }.mkString("\n      ")
    s"""SELECT lang, predicted, count(*) AS cnt FROM (
       |  SELECT lang,
       |    CASE
       |      WHEN $undCond THEN 'und'
       |      $reverseWhens
       |      ELSE '${langs.head}'
       |    END AS predicted
       |  FROM (SELECT lang, $hitExprs
       |        FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)))
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  }

  // ---------------------------------------------------------------- q26
  /** Content fingerprint (md5 of lowercased text). */
  def q26Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .orderBy("doc_id") // sort-first (r18): see q20TokenStats
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        rollingFingerprint(toks).as("rolling_fp"))

  val q26Sql: String =
    """SELECT doc_id, md5(lower(text)) AS fp,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ' '),
      |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 4294967296)),
      |    (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Exact deduplication: group by fingerprint, keep min doc_id as the
    * canonical representative. One shuffle on the hash — at 100 TB this
    * is the standard exact-dedup pass (hash is 32 bytes/row, not the
    * document body). */
  def q27DedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(
        min("doc_id").as("canonical_id"),
        count(lit(1)).as("copies"))
      .orderBy("fp")

  val q27Sql: String =
    """SELECT md5(lower(text)) AS fp, min(doc_id) AS canonical_id,
      |  count(*) AS copies
      |FROM documents GROUP BY fp ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------- q28
  /** N-gram Jaccard near-dup scoring over adjacent-id document pairs
    * (a deterministic, oracle-checkable pairing; the LSH variant that
    * finds *all* pairs at scale is q41/minhash). */
  def q28ShingleJaccard(spark: SparkSession, dir: String): DataFrame = {
    // compute the shingle sets once; both sides of the adjacent-id join
    // read the cached frame (a lag-window would avoid the join but
    // forces a single-partition global sort — wrong at scale)
    val d = docs(spark, dir)
      .select(col("doc_id"), shingles(whitespaceTokens(col("text")), 3).as("sh"))
      .cache()
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(
        col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .orderBy("id_a")
  }

  val q28Sql: String =
    """SELECT a.id_a, b.id_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM
      | (SELECT doc_id AS id_a, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)) a
      |JOIN
      | (SELECT doc_id AS id_b, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)) b
      |ON b.id_b = a.id_a + 1
      |ORDER BY a.id_a""".stripMargin

  // ---------------------------------------------------------------- q29
  /** MinHash signatures (k=8) over distinct tokens, exploded to
    * (doc_id, seed, minhash) rows — the EXACT universal-hash scheme the
    * LSH near-dup operator uses (one md5 pass, then a·h+b mod p per
    * seed), oracle-checked value-for-value. */
  def q29MinhashSig(spark: SparkSession, dir: String): DataFrame = {
    // explode the base hashes then take the 8 seeded minima as
    // aggregates: Catalyst's project-collapsing would otherwise inline
    // the md5 pass once PER SEED; this shape guarantees it runs once
    val mins = MinhashParams.take(8).zipWithIndex.map { case ((a, b), s) =>
      min((lit(a) * col("h") + lit(b)) % lit(MinhashPrime)).as(s"mh$s")
    }
    val stackExpr = (0 until 8).map(s => s"${s}L, mh$s").mkString(", ")
    docs(spark, dir)
      .select(col("doc_id"), explode(tokenHashes(array_distinct(toks))).as("h"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        expr(s"stack(8, $stackExpr)").as(Seq("seed_id", "minhash")))
      .orderBy("doc_id", "seed_id")
  }

  val q29Sql: String = {
    val mhExprs = MinhashParams.take(8).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $MinhashPrime))"
    }.mkString("[", ", ", "]")
    s"""SELECT doc_id, CAST(s - 1 AS BIGINT) AS seed_id, mhs[s] AS minhash
       |FROM (
       |  SELECT doc_id, $mhExprs AS mhs
       |  FROM (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
       |          t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 4294967296) AS hs
       |        FROM documents)),
       |     range(1, 9) r(s)
       |ORDER BY doc_id, seed_id""".stripMargin
  }

  // ---------------------------------------------------------------- q37
  /** Gopher-style quality-rule filter (Rae et al. 2021 §A1.1, public):
    * per-doc repetition (duplicate bigram/trigram fraction), character-
    * class profile, and the resulting keep/drop decision. Every ratio is
    * exact-integer counts with one double division; the keep flag is
    * integer 0/1 — fully hash-checkable. Thresholds are calibrated to
    * split this corpus (min tokens 30, dup-bigram < 0.05), documented as
    * knobs, not constants of nature. */
  /** Shared per-doc quality-signal stage for q37/q109 (carries `source`
    * through for the per-source rollup). Staged shape: the split runs
    * once (stage 0), stage 1 touches each expensive array exactly once
    * and emits plain integers, stage 2 is cheap arithmetic — so however
    * the optimizer collapses or inlines the cheap stages, neither the
    * token array nor any n-gram array is ever constructed twice per
    * row. */
  private def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_token_len"),
        distinctNgramCount(col("toks"), 2).as("d2"),
        distinctNgramCount(col("toks"), 3).as("d3"),
        charClassCount(col("text"), "[A-Za-z]").cast("long").as("n_alpha"),
        charClassCount(col("text"), SymbolClass).cast("long").as("n_symbol"),
        length(col("text")).cast("long").as("n_chars_t"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        (col("sum_token_len").cast("double") / col("n_tokens")).as("mean_token_len"),
        when(col("n_tokens") > 1,
          (col("n_tokens") - 1 - col("d2")).cast("double") / (col("n_tokens") - 1))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"),
        when(col("n_tokens") > 2,
          (col("n_tokens") - 2 - col("d3")).cast("double") / (col("n_tokens") - 2))
          .otherwise(lit(0.0)).as("dup_trigram_ratio"),
        (col("n_alpha").cast("double") / greatest(col("n_chars_t"), lit(1L))).as("alpha_ratio"),
        (col("n_symbol").cast("double") / greatest(col("n_chars_t"), lit(1L))).as("symbol_ratio"))

  def q37QualityRules(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(spark, dir)
      .select("doc_id", "n_tokens", "mean_token_len", "dup_bigram_ratio",
        "dup_trigram_ratio", "alpha_ratio", "symbol_ratio")
      .withColumn("keep",
        (col("n_tokens") >= 30 &&
          col("mean_token_len").between(3.0, 10.0) &&
          col("dup_bigram_ratio") < 0.05 &&
          col("symbol_ratio") < 0.1).cast("long"))
      .orderBy("doc_id")

  /** DuckDB twin of [[qualitySignals]] — per-doc signal rows incl.
    * `source`; q37Sql and q109Sql both select from it. */
  private val qualitySignalsSql: String =
    """SELECT doc_id, source,
      |    CAST(len(l) AS BIGINT) AS n_tokens,
      |    CAST(list_sum(list_transform(l, t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
      |      / len(l) AS mean_token_len,
      |    CASE WHEN len(l) >= 2 THEN
      |      CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
      |      ELSE 0.0 END AS dup_bigram_ratio,
      |    CASE WHEN len(l) >= 3 THEN
      |      CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
      |      ELSE 0.0 END AS dup_trigram_ratio,
      |    CAST(len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
      |      / greatest(len(text), 1) AS alpha_ratio,
      |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
      |      / greatest(len(text), 1) AS symbol_ratio
      |  FROM (
      |    SELECT doc_id, source, text, l,
      |      list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS g2,
      |      list_transform(range(1, len(l) - 1),
      |        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g3
      |    FROM (SELECT doc_id, source, text, string_split(text, ' ') AS l
      |          FROM documents))""".stripMargin

  val q37Sql: String =
    s"""SELECT doc_id, n_tokens, mean_token_len, dup_bigram_ratio,
      |  dup_trigram_ratio, alpha_ratio, symbol_ratio,
      |  CAST(n_tokens >= 30 AND mean_token_len BETWEEN 3.0 AND 10.0
      |    AND dup_bigram_ratio < 0.05 AND symbol_ratio < 0.1 AS BIGINT) AS keep
      |FROM (
      |$qualitySignalsSql)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** PII scrubbing end-to-end: count and redact URLs/emails. The corpus
    * carries no PII, so the query injects deterministic spans derived
    * from doc_id — a URL whose query string embeds an email (exercising
    * the URL-before-email redaction order) and a standalone address with
    * dots/plus in the local part — then scrubs them. Counts are taken on
    * the dirty text (so the embedded a@b.io is visible to emailCount but
    * gone after redaction), and the full redacted text is hash-checked.
    * One narrow codegen'd pass per row; no shuffle until the sort. */
  def q38PiiScrub(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" see https://ex.org/d/"), col("doc_id").cast("string"),
          lit("?u=a@b.io mail user."), col("doc_id").cast("string"),
          lit("+tag@mail-ex.co.uk now")).as("dirty"))
      .orderBy("doc_id")
      .select(col("doc_id"),
        urlCount(col("dirty")).cast("long").as("n_urls"),
        emailCount(col("dirty")).cast("long").as("n_emails"),
        redactPii(col("dirty")).as("clean"))

  val q38Sql: String =
    """SELECT doc_id,
       |  CAST(len(regexp_extract_all(dirty, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(dirty,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       |  regexp_replace(regexp_replace(dirty, 'https?://[^\s]+', '<URL>', 'g'),
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS clean
       |FROM (SELECT doc_id,
       |        text || ' see https://ex.org/d/' || CAST(doc_id AS VARCHAR)
       |             || '?u=a@b.io mail user.' || CAST(doc_id AS VARCHAR)
       |             || '+tag@mail-ex.co.uk now' AS dirty
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Token-distribution entropy per document — the diversity/repetition
    * quality signal (low entropy = template/boilerplate docs).
    * H = log2(n) − (Σ c·log2 c)/n over per-doc token counts c; one
    * narrow per-row pass, no shuffle until the sort. Determinism: the
    * double fold runs over the SORTED distinct tokens so both engines
    * add in the same order, counts are exact integers, and round(…, 6)
    * absorbs the ≤ulp libm log2 difference (q36's ln precedent). */
  def q39TokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    // Σ c·log2 c via a run-length fold over the SORTED token array:
    // O(n log n) per row instead of the O(distinct·n) filter-per-token
    // form (which would not survive long documents at scale). Each run
    // boundary adds xlog(run) in sorted-distinct order from a 0.0 seed —
    // the IDENTICAL addition sequence the oracle's sorted-distinct sum
    // performs, so the doubles stay bit-compatible (run counts are
    // exact integers; xlog(1) contributes exactly 0.0 on both sides).
    def xlog(c: Column): Column = when(c > 0.0, c * log2(c)).otherwise(lit(0.0))
    val fold = aggregate(
      array_sort(col("l")),
      struct(lit("\u0000").as("prev"), lit(0.0).as("run"), lit(0.0).as("acc")),
      (st, t) => struct(
        t.as("prev"),
        when(t === st.getField("prev"), st.getField("run") + 1.0)
          .otherwise(lit(1.0)).as("run"),
        when(t === st.getField("prev"), st.getField("acc"))
          .otherwise(st.getField("acc") + xlog(st.getField("run"))).as("acc")),
      st => st.getField("acc") + xlog(st.getField("run")))
    docs(spark, dir)
      .orderBy("doc_id") // sort-first (r18): see q20TokenStats
      .select(col("doc_id"), toks.as("l"))
      .select(col("doc_id"), size(col("l")).cast("long").as("n_tokens"),
        round(log2(col("n_tokens")) - fold / col("n_tokens"), 6)
          .as("token_entropy"))
  }

  // The oracle sums c·log2 c over the same sorted-distinct order from
  // the same 0.0 seed (identical addition sequence → bit-compatible).
  // Counts are hoisted into `cs` so each is computed once; DuckDB's
  // lambdas have no stateful fold, so the filter-count form stands in
  // for the engine's run-length pass. The final `+ 0.0` canonicalizes
  // the zero sign: an all-identical-token doc folds to a tiny negative
  // residue whose round() is -0.0 in DuckDB, while Spark's
  // BigDecimal-based round can only emit +0.0.
  val q39Sql: String =
    """SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
      |  round(log2(len(l)) - list_reduce(
      |    list_prepend(0.0, list_transform(cs, c -> c * log2(c))),
      |    (a, b) -> a + b) / len(l), 6) + 0.0 AS token_entropy
      |FROM (
      |  SELECT doc_id, l,
      |    list_transform(list_sort(list_distinct(l)),
      |      t -> CAST(len(list_filter(l, x -> x = t)) AS DOUBLE)) AS cs
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Benchmark decontamination over the corpus: docs 0–4 stand in as
    * the held-out benchmark; any document sharing a distinct 8-token
    * gram with them is flagged (operators.Decontaminate — broadcast
    * benchmark gram set, one narrow corpus pass, one (doc_id, count)
    * shuffle). */
  def q46Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.Decontaminate(d, d.filter(col("doc_id") < 5), n = 8)
      .orderBy("doc_id")
  }

  val q46Sql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(l) - 6),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
      |         l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7]))) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      |), h AS (
      |  SELECT doc_id, count(*) AS n
      |  FROM g WHERE gram IN (SELECT gram FROM g WHERE doc_id < 5)
      |  GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated,
      |  CAST(coalesce(h.n, 0) > 0 AS BIGINT) AS flagged
      |FROM documents d LEFT JOIN h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Deterministic stratified sampling: per-language keep rates applied
    * via a salted md5 key — the downsampling pass a training-data mix
    * runs per source/language. No RNG: `md5("sample|" <> doc_id) mod
    * 10000` is uniform, reproducible in both engines, and independent of
    * partitioning/row order (a `rand(seed)` column is NOT — its value
    * depends on partition layout, which is exactly what a 1000-executor
    * re-run changes). One narrow pass; the filter would push into the
    * scan in a real mix job. */
  def q48StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRatesPermyriad.tail.foldLeft(
      when(col("lang") === SampleRatesPermyriad.head._1,
        lit(SampleRatesPermyriad.head._2))) {
      case (acc, (lang, r)) => acc.when(col("lang") === lang, lit(r))
    }.otherwise(lit(10000))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        (md5Hash60(concat(lit("sample|"), col("doc_id").cast("string")))
          % 10000L).as("sample_key"),
        rate.cast("long").as("rate_permyriad"))
      .withColumn("kept", (col("sample_key") < col("rate_permyriad")).cast("long"))
      .orderBy("doc_id")
  }

  val q48Sql: String = {
    val whens = SampleRatesPermyriad
      .map { case (lang, r) => s"WHEN '$lang' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang, sample_key, rate_permyriad,
       |  CAST(sample_key < rate_permyriad AS BIGINT) AS kept
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) % 10000 AS sample_key,
       |    CAST(CASE lang $whens ELSE 10000 END AS BIGINT) AS rate_permyriad
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  /** Unigram-LM negative log-likelihood per document — the CCNet-style
    * perplexity proxy for quality filtering (docs scored against a
    * corpus-wide unigram model; here model corpus == scored corpus, at
    * scale the model is a fitted table joined the same way).
    * NLL = ln N − (Σ_t ln c_t)/n over per-token corpus counts c_t.
    *
    * Scale shape: token counts are one map-side-combined shuffle; the
    * count lookup is a (token→count) equi-join (shuffle join — the vocab
    * of a 100 TB corpus does not broadcast); the per-doc fold runs over
    * the SORTED count array so both engines add in the identical order
    * (q39's discipline). round(…,6) absorbs libm's ≤1-ulp ln()
    * difference. */
  def q49LmLogprob(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir).select(col("doc_id"), explode(toks).as("token"))
    val counts = t.groupBy("token").agg(count(lit(1)).as("c"))
    val n = t.agg(count(lit(1)).cast("double").as("n"))
    val lnSum = aggregate(col("cs"), lit(0.0), (acc, c) => acc + log(c))
    t.join(counts, "token")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("c"))).as("cs"),
        count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n")) - lnSum / col("n_tokens"), 6).as("nll"))
      .orderBy("doc_id")
  }

  val q49Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |c AS (SELECT token, count(*) AS c FROM t GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
      |f AS (
      |  SELECT doc_id, list(c ORDER BY c) AS cs, count(*) AS n_tokens
      |  FROM t JOIN c USING (token) GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  round(ln(n) - list_reduce(
      |    list_prepend(0.0, list_transform(cs, x -> ln(x))),
      |    (a, b) -> a + b) / n_tokens, 6) + 0.0 AS nll
      |FROM f, n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Token-budget sequence packing: concatenate-and-chunk docs into
    * fixed 2048-subtoken training sequences WITHIN each source (GPT-style
    * packing). seq_id/offset derive from a running subtoken cumsum over
    * (source, doc_id) order — the window partitions by source, so at
    * 100 TB each source shard packs independently (no global sort, no
    * single-partition window; a corpus-wide order would serialize).
    * All-integer arithmetic. */
  def q54SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        bpeTokenCount(col("text")).cast("long").as("n_subtokens"))
      .withColumn("start", sum("n_subtokens").over(w) - col("n_subtokens"))
      .select(col("doc_id"), col("source"), col("n_subtokens"),
        expr("start DIV 2048").as("seq_id"),
        (col("start") % 2048L).as("seq_offset"))
      .orderBy("doc_id")
  }

  val q54Sql: String =
    s"""SELECT doc_id, source, n_subtokens,
       |  start // 2048 AS seq_id, start % 2048 AS seq_offset
       |FROM (
       |  SELECT doc_id, source, n_subtokens,
       |    CAST(sum(n_subtokens) OVER (PARTITION BY source ORDER BY doc_id)
       |      AS BIGINT) - n_subtokens AS start
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT)
       |        AS n_subtokens
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Distributed TF-IDF weights for the top-100-df tokens: the document
    * frequency scan is the same one IDF.fit runs (V5), here surfaced
    * relationally. idf = ln((N+1)/(df+1)) over identical integer-derived
    * doubles in both engines; rounded to 6dp to absorb the one-ulp
    * libm difference ln() is allowed. */
  def q36Idf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // corpus size as a broadcast scalar INSIDE the lazy plan (an eager
    // d.count() here would run a separate scan at build time)
    val n = d.agg(count(lit(1)).cast("double").as("n"))
    d.select(explode(array_distinct(toks)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("idf",
        round(log((col("n") + 1.0) / (col("df") + lit(1.0))), 6))
      .drop("n")
      .orderBy(col("df").desc, col("token").asc)
      .limit(100)
  }

  val q36Sql: String =
    """SELECT token, df, round(ln((n + 1.0) / (df + 1.0)), 6) AS idf FROM (
      |  SELECT token, count(*) AS df,
      |    (SELECT count(*) FROM documents) AS n
      |  FROM (SELECT unnest(list_distinct(string_split(text, ' '))) AS token
      |        FROM documents)
      |  GROUP BY token)
      |ORDER BY df DESC, token ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Deterministic weighted reservoir sample: k docs per lang with
    * inclusion probability proportional to n_chars (length-weighted
    * curation — longer docs more likely kept), via A-Res keys
    * (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    * reservoir", public): rank by ln(u)/w descending with u an
    * md5-derived uniform in (0, 1], the order-equivalent of u^(1/w).
    * Fully deterministic (seeded by doc_id), so partition-layout-
    * independent AND oracle-expressible — unlike rand()-based
    * sampling. 100 TB shape: one narrow pass computes keys, then the
    * per-group top-k runs as a WindowGroupLimit (map-side partial
    * top-k per partition, only ≤ k·partitions rows per group reach the
    * shuffle) — the fixed-k complement of q48's rate-based stratified
    * sampler. */
  val WSampleK = 10
  def q69WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = ((md5Hash60(concat(lit("wsample|"), col("doc_id").cast("string")))
      % 1000000L) + lit(1L)).cast("double") / lit(1000000.0)
    val key = log(u) / greatest(col("n_chars"), lit(1)).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("__ares_key").desc, col("doc_id").asc)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("__ares_key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= WSampleK)
      .select("lang", "rank", "doc_id", "n_chars")
      .orderBy("lang", "rank")
  }

  val q69Sql: String =
    s"""SELECT lang, rank, doc_id, n_chars FROM (
       |  SELECT lang, doc_id, n_chars,
       |    CAST(row_number() OVER (
       |      PARTITION BY lang ORDER BY ares_key DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM (
       |    SELECT lang, doc_id, n_chars,
       |      ln(CAST((CAST(('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 15))
       |            AS BIGINT) % 1000000) + 1 AS DOUBLE) / 1000000.0)
       |        / CAST(greatest(n_chars, 1) AS DOUBLE) AS ares_key
       |    FROM documents))
       |WHERE rank <= $WSampleK ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- q70
  /** BM25 top-k retrieval over the corpus for a fixed term set — the
    * scoring pass behind retrieval-based decontamination and dedup in
    * training-data pipelines (Robertson-Sparck Jones BM25 with the
    * Lucene-style ln(1 + (N−df+0.5)/(df+0.5)) idf; k1=1.2, b=0.75 —
    * public literature). 100 TB shape: the term filter is a literal
    * InSet pushed into the token explode (only matching (doc, term)
    * pairs reach the tf shuffle); df/N/avgdl are tiny broadcast
    * aggregates; doc length is the one full groupBy any token-count
    * pass pays; the final top-k is TakeOrderedAndProject (map-side
    * partial top-k, no global sort). Per-doc term contributions fold
    * in sorted token order on both engines, making the double sum
    * deterministic (the q49 discipline). */
  val Bm25Terms: Seq[String] = Seq("spark", "window", "merge", "stream", "vector", "batch")
  val Bm25TopK = 20

  /** Scored BM25 frame (doc_id, n_terms, bm25) for every doc matching
    * ≥ 1 query term — shared by q70's top-k and q110's fusion. */
  private def bm25Frame(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir).select(col("doc_id"), explode(toks).as("token"))
    val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = t.filter(col("token").isin(Bm25Terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val contrib = (col("idf") * (col("tf").cast("double") * lit(2.2))) /
      (col("tf").cast("double") +
        (lit(1.2) * ((lit(1.0) - lit(0.75)) +
          (lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .join(dl, "doc_id")
      .withColumn("idf", idf)
      .withColumn("contrib", contrib)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("contrib")))).as("cs"),
        count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("n_terms"),
        round(aggregate(col("cs"), lit(0.0), (acc, x) => acc + x("contrib")), 6)
          .as("bm25"))
  }

  def q70Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Frame(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(Bm25TopK)

  /** Shared BM25 CTE chain ending in relation `bm25s`
    * (doc_id, n_terms, bm25) — q70Sql and q110Sql both build on it. */
  private val bm25CtesSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM dl),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM t
       |  WHERE token IN ($termList) GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |scored AS (
       |  SELECT tf.doc_id, tf.token,
       |    (ln(1.0 + (n_docs - CAST(df AS DOUBLE) + 0.5)
       |        / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * 2.2))
       |    / (CAST(tf AS DOUBLE)
       |      + (1.2 * ((1.0 - 0.75)
       |        + (0.75 * (CAST(dl AS DOUBLE) / avgdl))))) AS contrib
       |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), stats),
       |bm25s AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |    round(list_reduce(
       |      list_prepend(0.0, list_transform(
       |        list(contrib ORDER BY token), x -> x)), (a, b) -> a + b), 6) + 0.0
       |      AS bm25
       |  FROM scored GROUP BY doc_id)""".stripMargin
  }

  val q70Sql: String =
    s"""WITH $bm25CtesSql
       |SELECT doc_id, n_terms, bm25 FROM bm25s
       |ORDER BY bm25 DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Bigram LM scoring with stupid backoff (Brants et al. 2007, "Large
    * language models in machine translation", public; λ=0.4) — the
    * context-aware upgrade of q49's unigram NLL for perplexity-style
    * quality filtering, evaluated properly HELD-OUT: counts come from
    * the train slice (doc_id ≥ 50), scores go to the held-out docs
    * (doc_id < 50) — scoring the counting corpus itself can never hit
    * the backoff branch (every bigram in it is by definition seen).
    * Per held-out token: first-of-doc scores ln(c1(w)/N); a train-seen
    * bigram scores ln(c2(prev,w)/c1(prev)); an unseen one backs off to
    * ln(λ·c1(w)/N). An OOV unigram reads c1 = 1 (floor; none occur in
    * this corpus but ln(0) must be unreachable). 100 TB shape: the
    * position/lag pass is one doc-keyed window shuffle (the same any
    * sequence op pays), both count tables are map-side-combined aggs,
    * and the count joins are plain equi-joins co-partitioned on the
    * token keys — the standard distributed LM-scoring plan. Per-doc
    * fold runs over ASCENDING contribution values (q49's discipline)
    * so the double sum is order-independent and oracle-exact. */
  val BackoffLambda = 0.4
  val LmHeldOutBelow = 50L
  def q75BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val t = docs(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "token")))
    val seq = t.withColumn("prev", lag("token", 1).over(wDoc))
    val train = seq.filter(col("doc_id") >= LmHeldOutBelow)
    val held = seq.filter(col("doc_id") < LmHeldOutBelow)
    val uni = train.groupBy("token").agg(count(lit(1)).as("c1"))
    val bi = train.filter(col("prev").isNotNull)
      .groupBy("prev", "token").agg(count(lit(1)).as("c2"))
    val n = train.agg(count(lit(1)).cast("double").as("n"))
    val c1f = coalesce(col("c1"), lit(1L)).cast("double")
    val contrib = when(col("prev").isNull, log(c1f / col("n")))
      .when(col("c2").isNotNull,
        log(col("c2").cast("double") / col("c1_prev").cast("double")))
      .otherwise(log(lit(BackoffLambda) * c1f / col("n")))
    held.join(uni, Seq("token"), "left")
      .join(uni.select(col("token").as("prev"), col("c1").as("c1_prev")),
        Seq("prev"), "left")
      .join(bi, Seq("prev", "token"), "left")
      .crossJoin(broadcast(n))
      .withColumn("contrib", contrib)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("contrib"))).as("cs"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(0.0) -
          aggregate(col("cs"), lit(0.0), (a, x) => a + x) / col("n_tokens"),
          6).as("nll"))
      .orderBy("doc_id")
  }

  val q75Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |seq0 AS (
       |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM d),
       |seq AS (
       |  SELECT doc_id, pos, toks[pos] AS token,
       |    CASE WHEN pos > 1 THEN toks[pos - 1] END AS prev
       |  FROM seq0),
       |uni AS (
       |  SELECT token, count(*) AS c1 FROM seq
       |  WHERE doc_id >= $LmHeldOutBelow GROUP BY 1),
       |bi AS (
       |  SELECT prev, token, count(*) AS c2 FROM seq
       |  WHERE prev IS NOT NULL AND doc_id >= $LmHeldOutBelow GROUP BY 1, 2),
       |n AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM seq
       |  WHERE doc_id >= $LmHeldOutBelow),
       |j AS (
       |  SELECT s.doc_id,
       |    CASE WHEN s.prev IS NULL
       |           THEN ln(CAST(coalesce(u.c1, 1) AS DOUBLE) / n)
       |         WHEN b.c2 IS NOT NULL
       |           THEN ln(CAST(b.c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE))
       |         ELSE ln(CAST($BackoffLambda AS DOUBLE)
       |           * CAST(coalesce(u.c1, 1) AS DOUBLE) / n)
       |    END AS contrib
       |  FROM seq s
       |  LEFT JOIN uni u USING (token)
       |  LEFT JOIN uni up ON up.token = s.prev
       |  LEFT JOIN bi b ON b.prev = s.prev AND b.token = s.token, n
       |  WHERE s.doc_id < $LmHeldOutBelow),
       |f AS (
       |  SELECT doc_id, list(contrib ORDER BY contrib) AS cs,
       |    count(*) AS n_tokens
       |  FROM j GROUP BY 1)
       |SELECT doc_id, n_tokens,
       |  round(0.0 - list_reduce(list_prepend(0.0, cs), (a, b) -> a + b)
       |    / n_tokens, 6) + 0.0 AS nll
       |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Set-similarity self-join: ALL document pairs with token-set
    * Jaccard ≥ 0.8 — the completion of the near-dup family: q28 scores
    * a fixed pairing, q29/q40 find pairs probabilistically (MinHash
    * banding can miss), this finds every qualifying pair EXACTLY with
    * no cross join, via frequency-ordered prefix filtering
    * (operators.SetSimJoin scaladoc; PPJoin family, public
    * literature). The oracle generates candidates from ANY shared
    * token — sound because Jaccard ≥ 0.8 > 0 implies a shared token,
    * and affordable at oracle scale where it is quadratic-ish; the
    * Spark side's prefix filter is the form that survives 100 TB. The
    * doc sample (% 5) bounds the oracle's candidate fanout. */
  def q82SetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        array_distinct(whitespaceTokens(col("text"))).as("toks"))
    graft.operators.SetSimJoin.jaccardSelfJoin(d, "doc_id", "toks", 0.8)
      .orderBy("id_a", "id_b")
  }

  val q82Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id % 5 = 0),
      |e AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id),
      |v AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT) AS inter,
      |    CAST(len(list_distinct(list_concat(da.toks, db.toks))) AS BIGINT) AS uni
      |  FROM cand
      |  JOIN d da ON da.doc_id = cand.id_a
      |  JOIN d db ON db.doc_id = cand.id_b)
      |SELECT id_a, id_b, CAST(inter AS DOUBLE) / uni AS jaccard
      |FROM v WHERE inter * 1000000 >= uni * 800000
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Positional inverted index build: the retrieval-side artifact every
    * search/decontamination pipeline materializes. Postings (tf + the
    * 0-based position list, ascending by construction) fold per
    * document inside the projection ([[graft.plans.PostingsExpr]] —
    * they never cross a row boundary), and document frequency is a
    * separate aggregate joined back on token — NOT a window over
    * token: a window partition buffers every posting of a hot term
    * (with its positions payload) in one task, exactly the stop-word
    * skew a 100 TB index build dies on, while the kernel+join form
    * ships map-side-combined counts and compact posting rows with no
    * single-task buffering. Positions render as INTEGERS in document
    * order (lexicographic "10"<"2" would diverge between engines). */
  def q88InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    // Round-10 shape: ONE corpus-sized exchange, and it is a RANGE
    // exchange on (token, doc_id) — the output's own total order — so
    // the (token, doc_id) rollup runs on that clustering, the census
    // join broadcasts onto it, and the final orderBy needs only a
    // LOCAL sort (RangePartitioning(token, doc_id) satisfies the
    // OrderedDistribution; the hash-partitioned form paid a second
    // full exchange to sort — measured 1.30 vs 0.85 s same-session).
    // Skew: range partitioning SPLITS a hot token across partitions by
    // doc_id — strictly better than hash-by-token (a stopword's
    // postings land in many ranges) and than the round-9 count-window
    // (one unsplittable task buffering every posting of the token).
    // Round-12 shape: tf and the position list never cross a row
    // boundary — they are functions of ONE document — so the
    // posexplode → repartitionByRange → groupBy(token, doc_id) rollup
    // (a corpus-wide exchange of one row per token OCCURRENCE plus an
    // ObjectHashAggregate for collect_list) is replaced by
    // [[graft.plans.PostingsExpr]], a one-pass per-doc kernel inside
    // the projection. The only corpus-wide exchange left is the
    // output's own ORDER BY, shipping one compact row per (doc,
    // distinct token). Measured warm at sf0.1 (min of 8 in-JVM):
    // (interleaved duel, 7 reps, med/min): rollup form 0.71/0.61,
    // kernel + early range exchange 0.59/0.54 (this plan), kernel +
    // pinned-8-partition exchange 0.54/0.52 (rejected: pinning the
    // count is wrong at cluster scale and AQE coalesces the unpinned
    // form to the same place), kernel + localCheckpoint 0.70/0.62 and
    // the round-11 verdict's single-scan rollup-checkpoint variants
    // 0.93–1.03 (rejected: the checkpoint serializes the job waves).
    // The range exchange sits BEFORE the join so the final orderBy is
    // a LOCAL sort; leaving it to orderBy itself re-evaluated the
    // whole join in the range-sampling pass (+0.45 s measured).
    // Document frequency stays a separate cheap scan — per-doc
    // distinct tokens → map-side-combined groupBy(token) count — that
    // runs CONCURRENTLY with the kernel branch (two parquet scans of
    // one column overlap; a shared-scan variant would re-run the
    // kernel for the census branch since pruning cannot reach inside
    // the struct). Round-13 A/B: deriving the census from the range
    // exchange's own output (postings.groupBy(token).count — shuffle
    // reuse instead of the second scan) measured WORSE, 0.854 vs
    // 0.665 s median interleaved: the census must then drain the
    // corpus exchange before the join stage can start, serializing
    // the job waves the two concurrent scans overlap (and
    // ReusedExchange does not fire in the static plan). Rejected,
    // like every variant above. The join strategy is AQE's call from the census
    // shuffle's MEASURED runtime size: a vocabulary-sized census
    // broadcasts, one too big keeps a skew-splittable shuffle join —
    // no forced hint, no driver-side count gate.
    val postings = docs(spark, dir)
      .select(col("doc_id"), graft.plans.PostingsExpr.column(toks).as("ps"))
      .select(col("doc_id"), explode(col("ps")).as("p"))
      .select(col("p.token").as("token"), col("doc_id"),
        col("p.tf").as("tf"), col("p.positions").as("positions"))
      // the output's own total order, as a shuffle AQE is free to
      // size (no pinned partition count); hot tokens split across
      // ranges by doc_id — strictly better skew behavior than
      // hash-by-token, measured linear on the Zipf axis
      .repartitionByRange(col("token"), col("doc_id"))
    val dfCensus = docs(spark, dir)
      .select(explode(array_distinct(toks)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    postings.join(dfCensus, Seq("token"))
      .select("token", "doc_id", "tf", "positions", "df")
      .orderBy("token", "doc_id")
  }

  val q88Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(l) AS token, unnest(range(len(l))) AS pos
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      |g AS (
      |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf,
      |    string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
      |  FROM t GROUP BY 1, 2)
      |SELECT token, doc_id, tf, positions,
      |  CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df
      |FROM g ORDER BY token, doc_id""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Bigram collocation extraction by pointwise mutual information —
    * the classic corpus-statistics pass a pretraining pipeline runs to
    * find multiword units worth protecting from tokenization (Church &
    * Hanks 1990, "Word association norms, mutual information, and
    * lexicography", public). pmi(a,b) = ln(p(ab) / (p(a)p(b))) with
    * p(ab) = c_ab/N_bi over adjacent pairs and p(x) = c_x/N_uni over
    * tokens; a min-count floor (5) suppresses the low-count PMI
    * explosion. Scale shape: two map-side-combined groupBys (bigrams,
    * unigrams) + two broadcast-sized scalar totals + one join of the
    * bigram census against two unigram frames on their tokens — every
    * shuffle is key-partitioned counts, nothing quadratic. Determinism:
    * counts are exact integers, ONE double expression in a pinned
    * association order on both engines, and round(…,4) absorbs the
    * ≤1-ulp libm `ln` divergence (q49's discipline); ties order by
    * bigram text. */
  val PmiMinCount = 5L

  def q89BigramPmi(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir).select(col("doc_id"), toks.as("l"))
    val uni = tok.select(explode(col("l")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val big = tok.select(explode(expr(
        "zip_with(slice(l, 1, greatest(size(l) - 1, 0)), " +
          "slice(l, 2, greatest(size(l) - 1, 0)), " +
          "(a, b) -> concat(a, ' ', b))")).as("bigram"),
        expr("null").as("_"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinCount)
    val nUni = uni.agg(sum("c").as("n_uni"))
    val nBig = tok.select(
        sum(greatest(size(col("l")) - 1, lit(0))).as("n_bi"))
    val withParts = big
      .withColumn("tok_a", expr("split_part(bigram, ' ', 1)"))
      .withColumn("tok_b", expr("split_part(bigram, ' ', 2)"))
      .join(uni.select(col("tok").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(uni.select(col("tok").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
    // ((c_ab * n_uni) * n_uni) / (((n_bi * c_a) * c_b)) — the EXACT
    // association order the oracle repeats, so the double is
    // bit-identical before the ln
    withParts
      .withColumn("pmi", round(log(
        ((col("c_ab").cast("double") * col("n_uni")) * col("n_uni")) /
          ((col("n_bi").cast("double") * col("c_a")) * col("c_b"))), 4))
      .select(col("bigram"), col("c_ab"), col("pmi"))
      .orderBy(desc("pmi"), col("bigram"))
      .limit(50)
  }

  val q89Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |uni AS (
       |  SELECT tok, count(*) AS c
       |  FROM (SELECT unnest(l) AS tok FROM t) GROUP BY 1),
       |big AS (
       |  SELECT bigram, count(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(range(1, greatest(len(l), 1)),
       |      i -> l[i] || ' ' || l[i + 1])) AS bigram
       |    FROM t)
       |  GROUP BY 1 HAVING count(*) >= $PmiMinCount),
       |nu AS (SELECT sum(c) AS n_uni FROM uni),
       |nb AS (SELECT sum(greatest(len(l) - 1, 0)) AS n_bi FROM t)
       |SELECT bigram, c_ab,
       |  round(ln(((CAST(c_ab AS DOUBLE) * n_uni) * n_uni) /
       |    ((CAST(n_bi AS DOUBLE) * ca.c) * cb.c)), 4) AS pmi
       |FROM big, nu, nb
       |JOIN uni ca ON ca.tok = split_part(bigram, ' ', 1)
       |JOIN uni cb ON cb.tok = split_part(bigram, ' ', 2)
       |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Repeated-n-gram boilerplate score per document — the C4/Gopher-
    * family quality signal (Raffel et al. 2020; Rae et al. 2021,
    * public): the fraction of a doc's trigram OCCURRENCES that are
    * duplicates of an earlier trigram in the same doc. Pure per-row
    * projection (trigram render, array_distinct, two sizes — no
    * explode, no shuffle at all before the output sort): the narrow
    * single-pass shape that runs at any corpus size. dup_ratio is one
    * integer-exact division rounded to 4dp. */
  def q90BoilerplateNgram(spark: SparkSession, dir: String): DataFrame =
    // trigrams travel as 60-bit hashes from the native kernel (the
    // repo's hash-travel convention, mirrored exactly by the oracle):
    // the dup census is size − distinct over the hash array, no trigram
    // string ever allocated
    docs(spark, dir)
      .orderBy("doc_id") // sort-first (r18): see q20TokenStats
      .select(col("doc_id"), toks.as("l"))
      .withColumn("th", shingleHashes60(col("l"), 3))
      .select(col("doc_id"), size(col("th")).cast("long").as("n_tri"),
        (size(col("th")) - size(array_distinct(col("th"))))
          .cast("long").as("n_dup"))
      .withColumn("dup_ratio",
        when(col("n_tri") > 0,
          round(col("n_dup").cast("double") / col("n_tri"), 4))
          .otherwise(lit(0.0)))

  val q90Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(l) < 3 THEN [] ELSE
      |      list_transform(range(1, len(l) - 1),
      |        i -> CAST(('0x' || substr(md5(
      |          l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]), 1, 15))
      |          AS BIGINT)) END AS th
      |  FROM t)
      |SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tri,
      |  CAST(len(th) - len(list_distinct(th)) AS BIGINT) AS n_dup,
      |  CASE WHEN len(th) > 0 THEN
      |    round(CAST(len(th) - len(list_distinct(th)) AS DOUBLE)
      |      / len(th), 4)
      |  ELSE 0.0 END AS dup_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Vocabulary-budget OOV analysis: fix a top-K token vocabulary
    * (count desc, token asc — a total order both engines reproduce) and
    * report each document's out-of-vocabulary rate under that budget —
    * the measurement behind every tokenizer-vocab-size decision. Scale
    * shape: one map-side-combined token census, a K-row vocabulary
    * frame (broadcast — the vocabulary is bounded by the BUDGET, not
    * the corpus), a broadcast membership join on the token stream, and
    * a per-doc aggregation; no shuffle grows with corpus size except
    * the doc-keyed rollup. oov_ratio is one integer-exact division
    * rounded to 4dp. */
  val VocabBudget = 25

  def q91VocabOov(spark: SparkSession, dir: String,
                  budget: Int = VocabBudget): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(toks).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("token")).limit(budget)
      .select(col("token"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / col("n_tok"), 4))
      .orderBy("doc_id")
  }

  val q91Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |v AS (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS c FROM t GROUP BY 1)
       |  ORDER BY c DESC, token LIMIT $VocabBudget)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  CAST(sum(CASE WHEN token IN (SELECT token FROM v) THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_oov,
       |  round(CAST(sum(CASE WHEN token IN (SELECT token FROM v)
       |      THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 4) AS oov_ratio
       |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** N-gram novelty curve: for each document (in doc_id order), the
    * fraction of its DISTINCT bigrams whose global first occurrence is
    * this document — the dataset-growth/diversity diagnostic that tells
    * a crawl pipeline when additional data stops contributing new
    * constructions. First occurrence = min(doc_id) per bigram: one
    * map-side-combined groupBy over the exploded distinct bigrams and a
    * join back on the bigram — no ordered scan, no window over the
    * whole corpus, so the computation is order-free and shuffle-bounded
    * by the distinct-bigram census. */
  def q92NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // q95's single-consumer discipline: the frame is already distinct
    // per (doc, bigram), so the first-occurrence census is a min window
    // over the bigram cluster — no staging, no join, two exchanges
    // (bigram cluster + per-doc rollup)
    // bigrams travel as 60-bit hashes from the native kernel (oracle
    // mirrors the hash exactly), so the cluster exchange ships longs
    val big = docs(spark, dir)
      .select(col("doc_id"), toks.as("l"))
      .select(col("doc_id"),
        explode(array_distinct(shingleHashes60(col("l"), 2))).as("bh"))
      .repartition(col("bh"))
    big.withColumn("first_doc",
        min("doc_id").over(Window.partitionBy("bh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ratio",
        round(col("n_novel").cast("double") / col("n_bigrams"), 4))
      .orderBy("doc_id")
  }

  val q92Sql: String =
    """WITH b AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(l), 1)),
      |    i -> CAST(('0x' || substr(md5(l[i] || ' ' || l[i + 1]), 1, 15))
      |      AS BIGINT)))) AS bh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      |f AS (SELECT bh, min(doc_id) AS first_doc FROM b GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 4) AS novelty_ratio
      |FROM b JOIN f USING (bh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- q95/q97 shared
  /** k-token shingle width for the exact-substring-duplication queries.
    * Lee et al. use 50 BPE tokens at web scale; on this ~60-token corpus
    * k=8 exercises the same machinery with a non-trivial duplicate set. */
  val ShingleDupK = 8

  /** Spark-side k-shingle render over a staged token array `l`: space-
    * joined k-grams, empty for docs shorter than k (guarded — Spark's
    * sequence(1, n) with n < 1 would COUNT DOWN). */
  private def shingleArrayExpr(k: Int): String = {
    val parts = (0 until k)
      .map(j => if (j == 0) "element_at(l, i)" else s"element_at(l, i + $j)")
      .mkString(", ' ', ")
    s"if(size(l) < $k, array(), transform(sequence(1, size(l) - ${k - 1}), " +
      s"i -> concat($parts)))"
  }

  /** DuckDB twin of [[shingleArrayExpr]] with the md5-60bit hash applied
    * in-list — the exact hash recipe both engines share. */
  private def shingleHashSqlList(k: Int): String = {
    val cat = (0 until k)
      .map(j => if (j == 0) "l[i]" else s"l[i + $j]")
      .mkString(" || ' ' || ")
    s"CASE WHEN len(l) < $k THEN [] ELSE list_transform(range(1, len(l) - ${k - 2}), " +
      s"i -> CAST(('0x' || substr(md5($cat), 1, 15)) AS BIGINT)) END"
  }

  // ---------------------------------------------------------------- q95
  /** Exact substring-duplication coverage (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", public):
    * per document, the fraction of its k-token shingle OCCURRENCES whose
    * shingle also appears in at least one OTHER document — the standard
    * exact-substring dedup filter signal. Shingles travel as 60-bit md5
    * hashes (8 bytes, never the strings) through both shuffles: the
    * distinct-(doc,hash) census with map-side combine, the per-hash
    * doc-frequency aggregate, and the join back — all keyed on the same
    * hash, so at 100 TB the heavy exchange carries fixed-width keys and
    * the doc-level rollup is the only doc-keyed stage. */
  def q95SubstringDup(spark: SparkSession, dir: String): DataFrame = {
    // SINGLE-CONSUMER shape, nothing staged: the round-8/9 staging
    // forms (recompute-twice, then localCheckpoint + self-join) both
    // paid a full materialization barrier inside every run — warm
    // sweeps measured ≈ cold because the checkpoint write IS the cost.
    // Instead: cluster the occurrences on h once; then the per-(h,doc)
    // rollup AND the per-h doc census (a count window over the distinct
    // (h, doc) frame — countDistinct as a window, no join) are both
    // exchange-free, because HashPartitioning(h) satisfies every
    // downstream h-keyed distribution. Two exchanges total (occurrence
    // cluster + per-doc rollup), zero checkpoints, zero joins.
    val sh = docs(spark, dir)
      .select(col("doc_id"), toks.as("l"))
      // native kernel: hash all k-windows per doc without materializing
      // a single shingle string (bit-parity with the composed render
      // pinned in VectorExpressionSpec)
      .select(col("doc_id"),
        explode(shingleHashes60(col("l"), ShingleDupK)).as("h"))
      .repartition(col("h"))
    val perDocHash = sh.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
    val withNd = perDocHash.withColumn("nd",
      count(lit(1)).over(Window.partitionBy("h")))
    withNd.groupBy("doc_id")
      .agg(sum("c").as("n_shingles"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_shingles"), 4))
      .orderBy("doc_id")
  }

  val q95Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(${shingleHashSqlList(ShingleDupK)}) AS h FROM t),
       |s AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS dup_ratio
       |FROM g JOIN s USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Cross-source shingle contamination matrix: for every unordered pair
    * of `source` values sharing at least one k-token shingle, the count
    * of distinct shared shingle hashes and the Jaccard overlap of the two
    * sources' shingle sets — the train/test (or crawl-vs-benchmark)
    * leakage census at source granularity. Scale shape (round-10): the
    * corpus-sized frame crosses ONE hash-keyed exchange carrying
    * map-side-combined `bit_or` partials of a per-source BITMASK — a
    * primitive long aggregate, no set objects; the ≤ |distinct masks|
    * mask census then expands to pairs (bounded by |sources|² per row)
    * far from the corpus. Never a self-join re-shuffling the census.
    * Only pairs with n_shared ≥ 1 appear. */
  def q97SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // Round-10 shape: the source membership of each shingle hash is a
    // BITMASK, not a set object. The source names come from ONE bounded
    // probe (≤ 127 rows — see q97TierProbe), each
    // mapped to one bit; the per-hash collapse is then `bit_or` over a
    // long — a primitive-typed, codegen'd aggregate where the round-9
    // collect_set form allocated a set object per hash. The mask
    // census (groupBy mask → count) collapses the per-hash frame to
    // ≤ |distinct masks| rows BEFORE any pair expansion. Tiered finish
    // by source cardinality:
    //   ≤ 20 → the mask census is PROVABLY ≤ 2^20 rows: collect it as
    //          a TYPED Dataset (specialized (Long, Long) tuples — ~32 B
    //          a row, ≤ ~32 MB driver heap worst case, no boxed
    //          GenericRows) and expand bit-pairs on the driver
    //          iterating only SET bits (numberOfTrailingZeros — per-row
    //          work is O(popcount²), not O(s²)), cutting the
    //          ss-explode + second aggregation tier's two extra jobs;
    //   ≤ 126 → distinct mask pairs are bounded only by the hash
    //          count: expand to pairs IN-PLAN over the census, then
    //          collect the ≤ |sources|²-row pair census. ONE packed
    //          long while every source fits in 63 payload bits (the
    //          common case — the second word would be constantly 0L),
    //          TWO packed longs for 64..126 sources (the sign bit
    //          never carries a source, so `>> i` then `% 2` stays
    //          sign-safe) — real crawl corpora routinely exceed 63
    //          source labels, and the set fallback costs an
    //          object-heavy collect_set;
    //   > 126 → per-hash sorted source SETS (q97SetExplode below).
    val probe = q97TierProbe(spark, dir)
    if (probe.length > 126) return q97SetExplode(spark, dir)
    val names = probe.sorted
    val s = names.length
    val maskCensus = q97MaskCensus(spark, dir, names)
    import spark.implicits._
    val pairRows: IndexedSeq[(String, String, Long, Long, Long)] =
      if (s <= 20) {
        val sizes = Array.fill(s)(0L)
        val shared = Array.ofDim[Long](s, s)
        // s ≤ 20 < 63 ⟹ mask1 ≡ 0: the driver tier keys on mask0 alone
        maskCensus.select("mask0", "cnt").as[(Long, Long)].collect()
          .foreach { case (mask, cnt) =>
          var m = mask
          while (m != 0L) {
            val i = java.lang.Long.numberOfTrailingZeros(m)
            sizes(i) += cnt
            var rest = m & (m - 1L) // bits above i only — so j > i always
            while (rest != 0L) {
              shared(i)(java.lang.Long.numberOfTrailingZeros(rest)) += cnt
              rest &= rest - 1L
            }
            m &= m - 1L
          }
        }
        for { i <- 0 until s; j <- (i + 1) until s if shared(i)(j) > 0 }
          yield (names(i), names(j), sizes(i), sizes(j), shared(i)(j))
      } else {
        val namesSql = names.map(n => s"'${n.replace("'", "''")}'")
          .mkString("array(", ", ", ")")
        // bit i of the packed census: word 0 only in the single-word
        // tier (mask1 does not exist there), else split at bit 63
        val bitI =
          if (s <= 63) "mask0 >> i" else "if(i < 63, mask0 >> i, mask1 >> (i - 63))"
        val agg = maskCensus
          .withColumn("ss", expr(
            s"""filter(transform(sequence(0, ${s - 1}),
               |  i -> if(($bitI) % 2 != 0,
               |          element_at($namesSql, i + 1),
               |          CAST(NULL AS STRING))), x -> x IS NOT NULL)""".stripMargin))
          // ordered pairs from the sorted name array: i < j ⟹ ss[i] < ss[j]
          // (guard short sets — sequence(2, 1) would COUNT DOWN)
          .select(col("cnt"), explode(expr(
            """concat(
              |  transform(ss, s -> struct(s AS source_a,
              |                            CAST(NULL AS STRING) AS source_b)),
              |  if(size(ss) < 2, array(),
              |    flatten(transform(sequence(1, size(ss) - 1),
              |      i -> transform(sequence(i + 1, size(ss)),
              |        j -> struct(element_at(ss, i) AS source_a,
              |                    element_at(ss, j) AS source_b))))))"""
              .stripMargin)).as("p"))
          .select(col("p.source_a").as("a"), col("p.source_b").as("b"), col("cnt"))
          .groupBy("a", "b").agg(sum("cnt").as("n"))
          // ≤ |sources|² + |sources| rows — a BOUNDED artifact: one job,
          // finish on the driver (census rows tagged source_b = NULL —
          // NULL cannot collide with a real source name the way a ''
          // sentinel could)
          .collect()
        val sizes = agg.filter(_.isNullAt(1))
          .map(r => r.getString(0) -> r.getLong(2)).toMap
        // no pre-sort here: the final orderBy(source_a, source_b) below
        // is the ordering contract for BOTH tiers
        agg.filter(!_.isNullAt(1)).map { r =>
          val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
          (a, b, sizes(a), sizes(b), n)
        }.toIndexedSeq
      }
    pairRows.toDF("source_a", "source_b", "n_a", "n_b", "n_shared")
      // round IN SPARK so the HALF_UP semantics match every other query
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4))
      .orderBy("source_a", "source_b")
  }

  /** Bounded tier-dispatch probe for [[q97SourceOverlap]]: at most 127
    * distinct source names ever reach the driver. The `limit(127)` is a
    * plan-level `GlobalLimit` ABOVE the distinct, so the fetch is capped
    * before collect regardless of label cardinality. ≤ 126 names → the
    * probe IS the full label set (the packed-bitmask tiers need it
    * anyway); 127 names → the caller hands off to the set-explode tier
    * WITHOUT the driver ever holding the full label list. The > 126
    * tier exists precisely for high-cardinality provenance labels (a
    * crawl corpus can carry millions of source strings), so the
    * dispatcher must not OOM collecting them before reaching it — the
    * one unbounded driver fetch flagged by the r17 review. */
  private[graft] def q97TierProbe(spark: SparkSession, dir: String): Array[String] =
    docs(spark, dir).select("source").distinct().limit(127).collect()
      .map(_.getString(0))

  /** The corpus-side stage of [[q97SourceOverlap]]: per-hash source
    * bitmask collapse → ≤|distinct masks|-row census. Exposed
    * `private[graft]` because the public query consumes it driver-side
    * (both finish tiers collect), so the returned frame's plan cannot
    * pin this stage's shape — the structural tier spec reads it here.
    *
    * word(i) = i / 63, bit(i) = i % 63: each source sets one bit in
    * exactly one word; its entry in the other word is 0L (the bit_or
    * identity), so the per-hash collapse stays primitive columns.
    * Single-word tier (s ≤ 63, the common case): every source's bit
    * lives in word 0, so mask1 would be constantly 0L — ONE bit_or
    * column crosses the corpus exchange and ONE column keys the mask
    * census, halving the aggregate state for nothing lost (round-13
    * interleaved duel: census stage 0.566 → 0.501 s median at sf0.1).
    * Tier boundaries spec'd exact at 63/64 and 126/127
    * (CorpusStatsSpec), plus the structural no-mask1 plan pin. */
  private[graft] def q97MaskCensus(spark: SparkSession, dir: String,
      names: Array[String]): DataFrame = {
    val d0 = docs(spark, dir)
    val s = names.length
    def wordMap(w: Int) = map(names.toIndexedSeq.zipWithIndex.flatMap {
      case (n, i) =>
        Seq(lit(n), lit(if (i / 63 == w) 1L << (i % 63) else 0L)) }: _*)
    if (s <= 63) d0
      // native shingle-hash kernel — see q95. (An in-row array_distinct
      // pre-dedup was measured SLOWER here — 0.51 vs 0.37 s census —
      // because shingles are near-unique within a doc, so the dedup
      // saves no rows and pays per-row allocation.)
      .select(element_at(wordMap(0), col("source")).as("m0"),
        explode(shingleHashes60(toks, ShingleDupK)).as("h"))
      .groupBy("h").agg(bit_or(col("m0")).as("mask0"))
      .groupBy("mask0").agg(count(lit(1)).as("cnt"))
    else d0
      .select(element_at(wordMap(0), col("source")).as("m0"),
        element_at(wordMap(1), col("source")).as("m1"),
        explode(shingleHashes60(toks, ShingleDupK)).as("h"))
      .groupBy("h").agg(bit_or(col("m0")).as("mask0"),
        bit_or(col("m1")).as("mask1"))
      .groupBy("mask0", "mask1").agg(count(lit(1)).as("cnt"))
  }

  /** General-cardinality fallback (> 126 sources): per-hash sorted
    * distinct source SETS via collect_set on the h cluster — the
    * round-9 shape, kept for corpora whose provenance labels overflow
    * the two packed words' 126 payload bits. */
  private def q97SetExplode(spark: SparkSession, dir: String): DataFrame = {
    val agg = docs(spark, dir)
      .select(col("source"), toks.as("l"))
      .select(col("source"),
        explode(shingleHashes60(col("l"), ShingleDupK)).as("h"))
      .repartition(col("h"))
      // distinct first: a plain HashAggregate dedups the occurrences
      // BEFORE any set objects exist, so the object-heavy collect_set
      // only ever sees ≤ |sources| rows per hash; both groupBys run
      // exchange-free on the h cluster
      .groupBy("h", "source").agg(count(lit(1)))
      .groupBy("h")
      .agg(array_sort(collect_set("source")).as("ss"))
      .select(explode(expr(
        """concat(
          |  transform(ss, s -> struct(s AS source_a,
          |                            CAST(NULL AS STRING) AS source_b)),
          |  if(size(ss) < 2, array(),
          |    flatten(transform(sequence(1, size(ss) - 1),
          |      i -> transform(sequence(i + 1, size(ss)),
          |        j -> struct(element_at(ss, i) AS source_a,
          |                    element_at(ss, j) AS source_b))))))"""
          .stripMargin)).as("p"))
      .select(col("p.source_a").as("a"), col("p.source_b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      // joinSizes reads the census in two jobs (the sizes broadcast and
      // the pairs); at sf0.1 (median of 3 runs, each the min of 6)
      // 1.70 s with the checkpoint, 1.93 s without
      .localCheckpointAudited()
    joinSizes(agg)
  }

  /** Shared tail of the two q97 forms: split the ≤ |sources|² + |sources|
    * row census (source_b NULL = per-source size row), broadcast the
    * sizes onto the pairs, compute Jaccard. */
  private def joinSizes(agg: DataFrame): DataFrame = {
    val sizes = agg.filter(col("b").isNull)
      .select(col("a").as("source"), col("n"))
    agg.filter(col("b").isNotNull)
      .select(col("a").as("source_a"), col("b").as("source_b"),
        col("n").as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4))
      .select("source_a", "source_b", "n_a", "n_b", "n_shared", "jaccard")
      .orderBy("source_a", "source_b")
  }

  val q97Sql: String =
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS l FROM documents),
       |g0 AS (
       |  SELECT source, unnest(${shingleHashSqlList(ShingleDupK)}) AS h FROM t),
       |g AS (SELECT DISTINCT source, h FROM g0),
       |z AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, za.n AS n_a, zb.n AS n_b, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared), 4)
       |    AS jaccard
       |FROM p JOIN z za ON za.source = p.source_a
       |       JOIN z zb ON zb.source = p.source_b
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- q98
  /** TF-IDF keyword extraction: each document's top-3 tokens by
    * tf · ln((N+1)/(df+1)) (q36's smoothed idf), ties broken by token.
    * The ranking runs on the RAW double score (both engines multiply the
    * same long-derived doubles in the same order, so scores — hence
    * ranks — are bit-identical); the output rounds to 6dp. Scale shape:
    * ONE corpus-sized exchange, the (doc_id, token) tf aggregate. The
    * df census derives from tf — tf's keys ARE the distinct pairs — so
    * the pair exchange is shared across both join sides
    * (ReusedExchange/AQE stage reuse; the old tok.distinct() branch
    * re-exploded the corpus and paid a second pair exchange). The join
    * back is a broadcast of the vocabulary-sized census at this scale
    * (a census too big to broadcast degrades to a planner-chosen
    * shuffle join, still correct); the per-doc top-3 applies a PARTIAL
    * WindowGroupLimit before its doc_id exchange, so only ≤3 rows per
    * (doc, partition) ever move for the ranking. Measured A/B (warm
    * sf0.1): this shape 0.76 s; pre-exchanging the raw token stream by
    * doc_id 1.06 s (the census branch re-exploded); checkpointing tf
    * 1.04 s (materialization cost exceeds the reuse win). */
  def q98TfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val n = d.agg(count(lit(1)).cast("double").as("n"))
    val tok = d.select(col("doc_id"), explode(toks).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    tf.join(dfq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * log((col("n") + 1.0) / (col("df") + 1.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  val q98Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |s AS (
      |  SELECT doc_id, token,
      |    CAST(tf AS DOUBLE) * ln((n + 1.0) / (df + 1.0)) AS score
      |  FROM tf JOIN df USING (token), n)
      |SELECT doc_id, rank, token, round(score, 6) AS score FROM (
      |  SELECT doc_id, token, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, token) AS BIGINT) AS rank
      |  FROM s)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // --------------------------------------------------------------- q100
  /** k-anonymity suppression census over the quasi-identifier
    * (lang, source, 100-char length bucket): combinations held by fewer
    * than k documents must be suppressed before release — the
    * privacy-side counterpart of the PII scrub (q38). One map-side-
    * combined aggregate; the quasi-identifier space, not the corpus, is
    * the output's size. */
  val KAnonK = 3

  def q100KAnonymity(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("suppressed", col("n_docs") < KAnonK)
      .orderBy("lang", "source", "len_bucket")

  val q100Sql: String =
    s"""SELECT lang, source,
       |  CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  count(*) < $KAnonK AS suppressed
       |FROM documents GROUP BY 1, 2, 3
       |ORDER BY lang, source, len_bucket""".stripMargin

  // --------------------------------------------------------------- q101
  /** Data-mixing allocation: apportion a fixed sampling budget of
    * B=10000 examples across sources with weight ⌊√tokens⌋ — the
    * sub-linear upweighting of small sources every LLM data-mixture
    * recipe applies — rounded to integers by the largest-remainder
    * method (Hamilton apportionment; ties by source). All cross-row
    * arithmetic is on integers (⌊√c⌋ per row, integer sums), so no
    * double ever crosses a partition boundary: the only float ops are
    * the per-row quota = 10000·w/Z (one mult, one div — bit-identical
    * in both engines) and its remainder, used for ranking only. The
    * relation after the census is |sources| rows — the global
    * remainder window is a deliberate tiny-relation sort, not a
    * corpus-wide one. */
  val MixBudget = 10000L

  def q101MixtureAlloc(spark: SparkSession, dir: String): DataFrame = {
    val cs = docs(spark, dir)
      .select(col("source"), explode(toks).as("t"))
      .groupBy("source").agg(count(lit(1)).as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val z = cs.agg(sum("weight").as("z"))
    val q = cs.crossJoin(broadcast(z))
      .withColumn("quota", (lit(10000.0) * col("weight")) / col("z"))
      .withColumn("fl", floor(col("quota")).cast("long"))
      .withColumn("rem", col("quota") - floor(col("quota")))
    val short = q.agg((lit(MixBudget) - sum("fl")).as("short"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source").asc)
    q.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("source"), col("n_tokens"), col("weight"),
        (col("fl") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("source")
  }

  val q101Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |cs AS (
      |  SELECT source, count(*) AS n_tokens,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM tok GROUP BY 1),
      |z AS (SELECT sum(weight) AS z FROM cs),
      |q AS (
      |  SELECT source, n_tokens, weight,
      |    (10000.0 * weight) / z AS quota
      |  FROM cs, z),
      |f AS (
      |  SELECT source, n_tokens, weight,
      |    CAST(floor(quota) AS BIGINT) AS fl,
      |    quota - floor(quota) AS rem
      |  FROM q),
      |s AS (SELECT 10000 - sum(fl) AS short FROM f),
      |r AS (
      |  SELECT source, n_tokens, weight, fl, short,
      |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
      |  FROM f, s)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, weight,
      |  CAST(fl + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q108
  /** Corpus-drift detection: tokens whose frequency shifts most between
    * the first and second half of the corpus (split at the doc_id
    * midpoint), scored by Haldane-corrected log-odds (the
    * "fightin'-words" statistic — Monroe et al. 2008, public) — the
    * dataset-shift monitor a crawl pipeline runs between snapshots.
    * All cross-row arithmetic is integer (per-half counts, totals); the
    * statistic is ONE double division of two exact BIGINT products
    * followed by ln, bit-identical in both engines. Tokens below 50
    * total occurrences are excluded (the correction dominates there).
    * Scale shape: one map-side-combined token census and two broadcast
    * scalar frames — nothing beyond the token-keyed aggregate grows
    * with the corpus. */
  val DriftMinCount = 50

  def q108TokenDrift(spark: SparkSession, dir: String,
                     minCount: Int = DriftMinCount): DataFrame = {
    val d = docs(spark, dir)
    val mid = d.agg(expr("(min(doc_id) + max(doc_id) + 1) DIV 2").as("mid"))
    val counts = d.select(col("doc_id"), explode(toks).as("token"))
      .crossJoin(broadcast(mid))
      .groupBy("token")
      .agg(sum(when(col("doc_id") < col("mid"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("doc_id") >= col("mid"), 1L).otherwise(0L)).as("cnt_b"))
    val tot = counts.agg(sum("cnt_a").as("na"), sum("cnt_b").as("nb"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt_a") + col("cnt_b") >= minCount)
      .withColumn("drift", round(log(
        ((lit(2L) * col("cnt_a") + 1L) * (lit(2L) * (col("nb") - col("cnt_b")) + 1L))
          .cast("double") /
        ((lit(2L) * col("cnt_b") + 1L) * (lit(2L) * (col("na") - col("cnt_a")) + 1L))
          .cast("double")), 6))
      .select("token", "cnt_a", "cnt_b", "drift")
      .orderBy(abs(col("drift")).desc, col("token").asc)
      .limit(15)
  }

  val q108Sql: String =
    s"""WITH lim AS (
       |  SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS mid FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |c AS (
       |  SELECT token,
       |    CAST(sum(CASE WHEN doc_id < mid THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |    CAST(sum(CASE WHEN doc_id >= mid THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
       |  FROM tok, lim GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
       |    CAST(sum(cnt_b) AS BIGINT) AS nb FROM c)
       |SELECT token, cnt_a, cnt_b,
       |  round(ln(CAST((2 * cnt_a + 1) * (2 * (nb - cnt_b) + 1) AS DOUBLE)
       |    / CAST((2 * cnt_b + 1) * (2 * (na - cnt_a) + 1) AS DOUBLE)), 6)
       |    AS drift
       |FROM c, t WHERE cnt_a + cnt_b >= $DriftMinCount
       |ORDER BY abs(drift) DESC, token LIMIT 15""".stripMargin

  // --------------------------------------------------------------- q109
  /** Per-source quality-gate report: q37's per-doc accept/reject rules
    * rolled up per source with per-RULE failure counts — the pipeline
    * dashboard that tells a curation team WHICH source fails WHICH gate
    * (rule counts are independent: a doc failing two rules increments
    * both). Same signal stage as q37 (one pass, integer counts); the
    * rollup is a map-side-combined aggregate bounded by |sources|. */
  def q109QualityBySource(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") >= 30 &&
          col("mean_token_len").between(3.0, 10.0) &&
          col("dup_bigram_ratio") < 0.05 &&
          col("symbol_ratio") < 0.1, 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("n_tokens") < 30, 1L).otherwise(0L)).as("n_fail_short"),
        sum(when(!col("mean_token_len").between(3.0, 10.0), 1L).otherwise(0L))
          .as("n_fail_token_len"),
        sum(when(col("dup_bigram_ratio") >= 0.05, 1L).otherwise(0L))
          .as("n_fail_rep"),
        sum(when(col("symbol_ratio") >= 0.1, 1L).otherwise(0L))
          .as("n_fail_symbol"))
      .withColumn("keep_rate",
        round(col("n_keep").cast("double") / col("n_docs"), 4))
      .orderBy("source")

  val q109Sql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_tokens >= 30 AND mean_token_len BETWEEN 3.0 AND 10.0
       |    AND dup_bigram_ratio < 0.05 AND symbol_ratio < 0.1
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fail_short,
       |  CAST(sum(CASE WHEN NOT (mean_token_len BETWEEN 3.0 AND 10.0)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_token_len,
       |  CAST(sum(CASE WHEN dup_bigram_ratio >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fail_rep,
       |  CAST(sum(CASE WHEN symbol_ratio >= 0.1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fail_symbol,
       |  round(CAST(sum(CASE WHEN n_tokens >= 30 AND mean_token_len BETWEEN 3.0 AND 10.0
       |    AND dup_bigram_ratio < 0.05 AND symbol_ratio < 0.1
       |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS keep_rate
       |FROM (
       |$qualitySignalsSql)
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q110
  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009,
    * public; k=60): the lexical ranking (q70's BM25 over the fixed term
    * set) fused with a query-by-example semantic ranking (cosine of
    * every embedding against vec 0's), rrf = Σ 1/(60+rank) over the
    * lists a doc appears in. The two rankers cover DIFFERENT subsets —
    * BM25 only docs matching ≥1 term, cosine only docs carrying an
    * embedding (at sf0.1 embeddings cover 2000 of 5000 docs) — so the
    * fusion is a full outer join with absent ranks contributing 0
    * (reported as -1). Rank arithmetic: both rankings are row_numbers
    * over bit-identical scores with doc-id tiebreak; each 1/(60+r) is
    * one double division, summed in a fixed two-term order. Scale
    * shape (round-11): BOTH rankings are corpus-proportional (every
    * embedding carries a cosine; every term-matching doc carries a
    * BM25), so each rank is a [[graft.operators.GlobalRank]]
    * distributed row_number — no single-partition window buffers a
    * ranking relation (the q112/q119 migration applied here too). The
    * fusion join is doc-keyed. */
  val RrfK = 60

  def q110HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = graft.operators.GlobalRank.withRowNumber(
        bm25Frame(spark, dir).select("doc_id", "bm25"),
        Seq(col("bm25").desc, col("doc_id").asc), "lex_rank")
      .select(col("doc_id"), col("lex_rank"))
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", Similarity.l2Norm(col("emb")))
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val semScored = e.crossJoin(broadcast(q0))
      .withColumn("cos_sim",
        Similarity.dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .select("vec_id", "cos_sim")
    val sem = graft.operators.GlobalRank.withRowNumber(semScored,
        Seq(col("cos_sim").desc, col("vec_id").asc), "sem_rank")
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)), 6))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(20)
  }

  val q110Sql: String =
    s"""WITH $bm25CtesSql,
       |lex AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
       |    AS BIGINT) AS lex_rank
       |  FROM bm25s),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, emb,
       |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e),
       |q0 AS (SELECT emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0),
       |sem AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY
       |      list_sum(list_transform(range(1, 65), i -> n.emb[i] * q0.q_emb[i]))
       |        / (n.nrm * q0.q_nrm) DESC, vec_id) AS BIGINT) AS sem_rank
       |  FROM n, q0)
       |SELECT doc_id,
       |  coalesce(lex_rank, -1) AS lex_rank,
       |  coalesce(sem_rank, -1) AS sem_rank,
       |  round(coalesce(1.0 / ($RrfK + lex_rank), 0.0)
       |    + coalesce(1.0 / ($RrfK + sem_rank), 0.0), 6) AS rrf
       |FROM lex FULL OUTER JOIN sem USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q115
  /** Source-interleaved curriculum manifest: a deterministic training
    * order where sources take strict turns (per-source sequence number
    * first, source name second) — the "balanced interleave" that keeps
    * any one source from monopolizing early training. Positions are
    * integers end to end. Scale shape: one per-source rank window
    * (partitioned — never global) plus the final manifest ordering; a
    * training manifest is consumed sorted anyway, so the global order
    * lives in the WRITE, where range partitioning applies. */
  def q115CurriculumInterleave(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val g = org.apache.spark.sql.expressions.Window
      .orderBy(col("turn"), col("source"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("turn", row_number().over(w).cast("long"))
      .withColumn("position", row_number().over(g).cast("long"))
      .select("position", "doc_id", "source", "turn")
      .orderBy("position")
  }

  val q115Sql: String =
    """SELECT CAST(row_number() OVER (ORDER BY turn, source, doc_id) AS BIGINT)
      |    AS position,
      |  doc_id, source, turn
      |FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS turn
      |  FROM documents)
      |ORDER BY position""".stripMargin

  // --------------------------------------------------------------- q146
  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", public): score
    * every document by how much more likely its hashed-unigram bag is
    * under a TARGET distribution (here: the `lang = 'en'` slice) than
    * under the RAW corpus distribution, then draw a fixed-size sample
    * via deterministic Gumbel top-k over the importance weights.
    *
    * Mechanics, all exactly mirrored by the oracle:
    * - tokens hash into [[DsirBuckets]] buckets (md5-60bit mod B — the
    *   paper's hashed n-gram feature space, which caps the model size
    *   at B counts however large the vocabulary grows);
    * - per-bucket add-one-smoothed log likelihood ratio
    *   `ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))` from exact integer
    *   counts (computed once per bucket — ≤ B rows, broadcast);
    * - per-doc weight = Σ n_db·lr_b folded in pinned bucket order
    *   (the q125 sequential-fold device, so both engines run the same
    *   IEEE sum left to right);
    * - Gumbel key = w − ln(−ln(u)) with u ∈ (0,1) derived from
    *   md5_hash60('dsir|' ⊕ doc_id) — the Gumbel-max trick makes
    *   top-k BY KEY a weighted sample WITHOUT replacement ∝ e^w,
    *   deterministic and engine-free; membership is decided on the
    *   ROUNDED key (the repo's ≤1-ulp-absorbing device) with doc_id
    *   tiebreak.
    *
    * Scale shape (round-10): the bucket census is a ≤ B-row aggregate
    * COLLECTED INTO LITERALS (the CMS-probe device that fixed q71/q67),
    * so the per-doc weight is ONE shuffle-free fold — sort the doc's
    * hashed buckets, run-length the sorted array, accumulate n_b·lr_b
    * per run in ascending-b order (the oracle's exact IEEE sequence;
    * the round-9 (doc, bucket) shuffle + broadcast join is gone). The
    * top-k membership never sorts globally either: an ordered limit of
    * ≤ k-row partition heaps yields the exact k-th (key, doc_id)
    * boundary ([[graft.operators.GlobalRank.topKBoundary]]) and `kept`
    * is a literal comparison — O(n) scan, O(k) state, no
    * single-partition window anywhere in the plan. */
  val DsirBuckets = 512
  val DsirKeep = 200

  def q146DsirResample(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets
    val d = docs(spark, dir)
    // pass 1: the bounded bucket census — ≤ B rows by construction,
    // raw and target counts together; totals fold on the driver
    val census = d.select(col("lang"), explode(toks).as("tok"))
      .select(col("lang"), (md5Hash60(col("tok")) % B).as("b"))
      .groupBy("b").agg(count(lit(1)).as("r"),
        count(when(col("lang") === "en", 1)).as("t"))
      .collect()
    val rTot = census.map(_.getLong(1)).sum
    val tTot = census.map(_.getLong(2)).sum
    val lrArr = Array.fill(B)(0.0) // unseen buckets occur in no doc
    census.foreach { row =>
      val b = row.getLong(0).toInt
      lrArr(b) = math.log((row.getLong(2) + 1).toDouble / (tTot + B).toDouble) -
        math.log((row.getLong(1) + 1).toDouble / (rTot + B).toDouble)
    }
    val lrLit = array(lrArr.toIndexedSeq.map(lit): _*)
    // pass 2: per-doc fold, zero shuffles — sort the doc's bucket ids
    // and accumulate lr[b] PER TOKEN INSTANCE left-to-right in that
    // order; the oracle runs the identical per-instance sequence
    // (`list_reduce(list(lr ORDER BY b))`), so the IEEE sum crosses
    // engines bit-for-bit (Σ over instances equals Σ n_b·lr_b
    // mathematically, but only the instance form keeps BOTH engines on
    // one addition sequence without the run-length accumulator struct
    // that made this fold ~2× heavier per token)
    val sortedB = sort_array(transform(toks, t => md5Hash60(t) % B))
    val wExpr = aggregate(
      sortedB, lit(0.0),
      (acc, b) => acc + element_at(lrLit, (b + 1).cast("int")))
    val keyed = d
      .select(col("doc_id"), col("lang"), col("source"), wExpr.as("w"))
      .withColumn("gumbel_key",
        round(col("w") - log(-log(
          (md5Hash60(concat(lit("dsir|"), col("doc_id"))) + 1).cast("double") /
            lit(1152921504606846978L).cast("double"))), 6))
      // the boundary probe below and the output read this frame in
      // separate jobs: materialize once (one narrow row per doc — the
      // output's own size), so the fold never runs twice. Measured at
      // sf0.1 (median of 3 runs, each the min of 6): 0.78 s with it,
      // 1.17 s without
      .localCheckpointAudited()
    // exact top-k membership without a global sort: the k-th
    // (gumbel_key desc, doc_id asc) pair via bounded partition heaps
    val kept = graft.operators.GlobalRank.topKBoundary(
      keyed.select("gumbel_key", "doc_id"), DsirKeep) match {
      case None => lit(1).cast("int") // fewer than k docs: keep all
      case Some((bk, bd)) =>
        (col("gumbel_key") > bk ||
          (col("gumbel_key") === bk && col("doc_id") <= bd)).cast("int")
    }
    keyed
      .select(col("doc_id"), col("lang"), col("source"),
        round(col("w"), 6).as("dsir_w"), col("gumbel_key"),
        kept.as("kept"))
      .orderBy("doc_id")
  }

  val q146Sql: String =
    s"""WITH occ AS (
       |  SELECT doc_id, lang,
       |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)
       |           % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |raw AS (SELECT b, count(*) AS r FROM occ GROUP BY 1),
       |tgt AS (SELECT b, count(*) AS t FROM occ WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT count(*) AS r_tot,
       |               count(*) FILTER (WHERE lang = 'en') AS t_tot FROM occ),
       |lr AS (
       |  SELECT raw.b,
       |         ln(CAST(coalesce(tgt.t, 0) + 1 AS DOUBLE) /
       |            CAST(tot.t_tot + $DsirBuckets AS DOUBLE))
       |       - ln(CAST(raw.r + 1 AS DOUBLE) /
       |            CAST(tot.r_tot + $DsirBuckets AS DOUBLE)) AS lr
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
       |w AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list(lr ORDER BY b)),
       |           (acc, x) -> acc + x) AS w
       |  FROM occ JOIN lr USING (b) GROUP BY doc_id),
       |g AS (
       |  SELECT doc_id, w,
       |         round(w - ln(-ln(
       |           CAST(CAST(('0x' || substr(md5('dsir|' ||
       |               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1
       |             AS DOUBLE) / CAST(1152921504606846978 AS DOUBLE))), 6)
       |           AS gumbel_key
       |  FROM w),
       |ranked AS (
       |  SELECT doc_id, w, gumbel_key,
       |         CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
       |           <= $DsirKeep AS INT) AS kept
       |  FROM g)
       |SELECT d.doc_id, d.lang, d.source, round(ranked.w, 6) AS dsir_w,
       |       gumbel_key, kept
       |FROM ranked JOIN documents d USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q152
  /** CCNet-style perplexity-bucket mixing (Wenzek et al. 2020, public):
    * score every document with the unigram-LM NLL (q49's exact recipe —
    * sorted-count fold, one pinned double expression), cut the corpus
    * into head/middle/tail terciles by score (ntile over the rounded
    * NLL with doc_id tiebreak — a total order, so the bucket boundary
    * is engine-independent), and keep each bucket at a declining rate
    * (head 100%, middle 50%, tail 10%) via the salted-md5 keep device
    * (q48's — partition-layout-independent, no RNG state). This is the
    * canonical "filter by LM perplexity, don't cliff-edge it" corpus
    * mix. Scale shape (round-11): q49's two aggregations, then the
    * tercile cut runs as an exact DISTRIBUTED ntile —
    * [[graft.operators.GlobalRank.withRowNumberCounted]]'s
    * deterministic-bucket rank (sampled literal boundaries, one hash
    * exchange, rank as a codegen'd projection; every task sorts ~1/P
    * of the rows), and the standard ntile arithmetic (first n%3
    * buckets take one extra row) maps rank → bucket. No
    * single-partition window anywhere; the keep pass itself is narrow. */
  def q152PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    // n is the rank census's total — no separate count job
    val (ranked, n) = graft.operators.GlobalRank.withRowNumberCounted(
      q49LmLogprob(spark, dir), Seq(col("nll"), col("doc_id")), "rk")
    val base = n / 3
    val rem = n % 3
    // integer DIV, not Column./ (which is double division — inexact
    // once ranks approach 2^53); the else branch is unreachable when
    // base = 0 (n < 3 ⟹ every rank ≤ rem·1) but guard its divisor
    ranked
      .withColumn("bucket", expr(
        s"""CAST(IF(rk <= ${rem * (base + 1)},
           |  (rk - 1) DIV ${base + 1} + 1,
           |  $rem + (rk - 1 - ${rem * (base + 1)}) DIV ${math.max(base, 1L)}
           |    + 1) AS BIGINT)""".stripMargin))
      .withColumn("rate",
        when(col("bucket") === 1, 100L)
          .when(col("bucket") === 2, 50L).otherwise(10L))
      .withColumn("kept",
        ((md5Hash60(concat(lit("ccnet|"), col("doc_id"))) % 100) <
          col("rate")).cast("int"))
      .select("doc_id", "n_tokens", "nll", "bucket", "kept")
      .orderBy("doc_id")
  }

  val q152Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |c AS (SELECT token, count(*) AS c FROM t GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
      |f AS (
      |  SELECT doc_id, list(c ORDER BY c) AS cs, count(*) AS n_tokens
      |  FROM t JOIN c USING (token) GROUP BY doc_id),
      |s AS (
      |  SELECT doc_id, n_tokens,
      |    round(ln(n) - list_reduce(
      |      list_prepend(0.0, list_transform(cs, x -> ln(x))),
      |      (a, b) -> a + b) / n_tokens, 6) + 0.0 AS nll
      |  FROM f, n),
      |b AS (
      |  SELECT doc_id, n_tokens, nll,
      |    CAST(ntile(3) OVER (ORDER BY nll, doc_id) AS BIGINT) AS bucket
      |  FROM s)
      |SELECT doc_id, n_tokens, nll, bucket,
      |  CAST(CAST(('0x' || substr(md5('ccnet|' || CAST(doc_id AS VARCHAR)),
      |      1, 15)) AS BIGINT) % 100 <
      |    CASE bucket WHEN 1 THEN 100 WHEN 2 THEN 50 ELSE 10 END AS INT)
      |    AS kept
      |FROM b ORDER BY doc_id""".stripMargin

  /** Every query of this module: name, Spark builder, DuckDB oracle. */
  val catalog: Seq[CatalogEntry] = Seq(
    CatalogEntry("q146_dsir_resample", q146DsirResample _, q146Sql),
    CatalogEntry("q152_ppl_buckets", q152PerplexityBuckets _, q152Sql),
    CatalogEntry("q115_curriculum_interleave", q115CurriculumInterleave _, q115Sql),
    CatalogEntry("q110_hybrid_rrf", q110HybridRrf _, q110Sql),
    CatalogEntry("q108_token_drift", (s: SparkSession, d: String) => q108TokenDrift(s, d), q108Sql),
    CatalogEntry("q109_quality_by_source", q109QualityBySource _, q109Sql),
    CatalogEntry("q95_substring_dup", q95SubstringDup _, q95Sql),
    CatalogEntry("q97_source_overlap", q97SourceOverlap _, q97Sql),
    CatalogEntry("q98_tfidf_keywords", q98TfidfKeywords _, q98Sql),
    CatalogEntry("q100_kanonymity", q100KAnonymity _, q100Sql),
    CatalogEntry("q101_mixture_alloc", q101MixtureAlloc _, q101Sql),
    CatalogEntry("q88_inverted_index", q88InvertedIndex _, q88Sql),
    CatalogEntry("q89_bigram_pmi", q89BigramPmi _, q89Sql),
    CatalogEntry("q90_boilerplate_ngram", q90BoilerplateNgram _, q90Sql),
    CatalogEntry("q91_vocab_oov", (s: SparkSession, d: String) => q91VocabOov(s, d), q91Sql),
    CatalogEntry("q92_ngram_novelty", q92NgramNovelty _, q92Sql),
    CatalogEntry("q75_bigram_lm", q75BigramLm _, q75Sql),
    CatalogEntry("q20_token_stats", q20TokenStats _, q20Sql),
    CatalogEntry("q21_vocab_df", q21VocabDf _, q21Sql),
    CatalogEntry("q22_bigram_top", q22BigramTop _, q22Sql),
    CatalogEntry("q23_stopword_filter", q23StopwordFilter _, q23Sql),
    CatalogEntry("q24_quality", q24Quality _, q24Sql),
    CatalogEntry("q25_langid", q25LangId _, q25Sql),
    CatalogEntry("q26_fingerprint", q26Fingerprint _, q26Sql),
    CatalogEntry("q27_dedup_exact", q27DedupExact _, q27Sql),
    CatalogEntry("q28_shingle_jaccard", q28ShingleJaccard _, q28Sql),
    CatalogEntry("q29_minhash_sig", q29MinhashSig _, q29Sql),
    CatalogEntry("q36_idf", q36Idf _, q36Sql),
    CatalogEntry("q37_quality_rules", q37QualityRules _, q37Sql),
    CatalogEntry("q38_pii_scrub", q38PiiScrub _, q38Sql),
    CatalogEntry("q39_token_entropy", q39TokenEntropy _, q39Sql),
    CatalogEntry("q46_decontaminate", q46Decontaminate _, q46Sql),
    CatalogEntry("q47_unicode_tokens", q47UnicodeTokens _, q47Sql),
    CatalogEntry("q48_stratified_sample", q48StratifiedSample _, q48Sql),
    CatalogEntry("q49_lm_logprob", q49LmLogprob _, q49Sql),
    CatalogEntry("q54_seq_pack", q54SequencePack _, q54Sql),
    CatalogEntry("q69_weighted_sample", q69WeightedSample _, q69Sql),
    CatalogEntry("q70_bm25_topk", q70Bm25TopK _, q70Sql),
    CatalogEntry("q82_setsim_join", q82SetSimJoin _, q82Sql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogEntry.builders(catalog)
}
