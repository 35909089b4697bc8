package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{GraftPipelines, LexiconTagger, PosLexicon, PosTagger}

/** ML-backed queries. q50's oracle SQL is GENERATED from the very same
  * lexicon/suffix constants the Scala tagger uses — the custom scalar
  * operator itself is hash-checked, not just exercised. q51 trains a
  * real spark.ml pipeline (not SQL-expressible → rows-only check; its
  * learning quality is asserted in MlPipelineSpec).
  */
object MlQueries {

  // ---------------------------------------------------------------- q50
  /** Corpus POS-tag distribution via the custom universal tagger. */
  def q50PosDist(spark: SparkSession, dir: String): DataFrame = {
    val tagger = new PosTagger().setInputCol("words").setOutputCol("tags")
    val tokenized = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    tagger.transform(tokenized)
      .select(explode(col("tags")).as("tag"))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("tag")
  }

  /** The rule chain as DuckDB CASE arms, generated from PosTagger's
    * constants — identical precedence: punctuation, number, closed-class
    * lexicon, suffix rules (length guard len > |suffix|+2),
    * capitalized → NOUN, non-letter → X, NOUN. `extraCases` (q52's
    * frequency lexicon) slot in FIRST — mirroring
    * LexiconTagger.taggedWord's coalesce, where the lexicon wins; its
    * purely-alphabetic keys can't collide with the empty/punct/number
    * guards, so the early position only matters for words it contains. */
  private def tagCaseSql(extraCases: String): String = {
    val lexCases = PosTagger.Lexicon.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (tag, words) =>
        val arr = words.keys.toSeq.sorted
          .map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")
        s"WHEN list_contains($arr, lower(t)) THEN '$tag'"
      }.mkString("\n      ")
    val sufCases = PosTagger.SuffixRules.map { case (suf, tag) =>
      s"WHEN len(t) > ${suf.length + 2} AND ends_with(lower(t), '$suf') THEN '$tag'"
    }.mkString("\n      ")
    s"""CASE
       |      $extraCases
       |      WHEN t = '' THEN 'X'
       |      WHEN NOT regexp_matches(t, '[A-Za-z0-9]') THEN '.'
       |      WHEN regexp_matches(t, '^[0-9]+([.,][0-9]+)*$$') THEN 'NUM'
       |      $lexCases
       |      $sufCases
       |      WHEN regexp_matches(t, '^[A-Z]') THEN 'NOUN'
       |      WHEN regexp_matches(t, '[^A-Za-z]') THEN 'X'
       |      ELSE 'NOUN'
       |    END""".stripMargin
  }

  // The tagger's DEFAULT mode is ASCII-strict (PosTagger.unicode =
  // false), so the generated ASCII classes mirror it exactly on ANY
  // corpus — including non-ASCII text, where both engines treat é as a
  // non-letter. Unicode-aware tagging is an explicit opt-in
  // (setUnicode(true)) documented as having no oracle twin. The
  // empty-token guard matches tagToken's early return (double spaces
  // in text produce "" tokens).
  val q50Sql: String =
    s"""SELECT tag, count(*) AS cnt FROM (
       |  SELECT ${tagCaseSql("")} AS tag
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents))
       |GROUP BY tag ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Corpus POS-tag distribution via the LEXICON-grade tagger
    * (broadcast-joined most-frequent-tag table with the rule chain as
    * fallback — the trained-baseline shape, measured +16pp tag accuracy
    * over the rules alone in LexiconTaggerSpec). Fully oracle-checked:
    * the lexicon and every rule are constants emitted into the
    * generated CASE chain. */
  def q52PosLexiconDist(spark: SparkSession, dir: String): DataFrame = {
    val tokenized = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    LexiconTagger.tagTokens(tokenized, "doc_id", "words",
        PosLexicon.asDataFrame(spark))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("tag")
  }

  /** The PosLexicon lookups as CASE arms: exact word per tag, then the
    * VERB stem back-off (strip one trailing 's'), mirroring
    * LexiconTagger.tagTokens' coalesce(lexTag, stemTag, rule) order. */
  private def extLexCaseSql: String = {
    val exact = PosLexicon.Entries.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (tag, ws) =>
        val arr = ws.map(_._1).sorted.map(w => s"'$w'").mkString("[", ", ", "]")
        s"WHEN list_contains($arr, lower(t)) THEN '$tag'"
      }.mkString("\n      ")
    val verbArr = PosLexicon.Entries.filter(_._2 == "VERB").map(_._1).sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    exact + "\n      " +
      s"""WHEN len(t) > 3 AND ends_with(lower(t), 's')
         |        AND NOT ends_with(lower(t), 'ss')
         |        AND list_contains($verbArr, substr(lower(t), 1, len(t) - 1))
         |        THEN 'VERB'""".stripMargin
  }

  val q52Sql: String =
    s"""SELECT tag, count(*) AS cnt FROM (
       |  SELECT ${tagCaseSql(extLexCaseSql)} AS tag
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents))
       |GROUP BY tag ORDER BY tag""".stripMargin

  // ---------------------------------------------------------------- q53
  /** POS-tag distribution after the sequence-context correction layer
    * (Brill-style rules over one lag window — see
    * LexiconTagger.tagTokensContext). Oracle-checked: DuckDB rebuilds
    * the token sequence with an indexed lambda (`(x,i) -> struct`),
    * applies the identical generated unigram CASE, then the identical
    * correction CASE over one lag(). */
  def q53PosContextDist(spark: SparkSession, dir: String): DataFrame = {
    val tokenized = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    LexiconTagger.tagTokensContext(tokenized, "doc_id", "words",
        PosLexicon.asDataFrame(spark))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("tag")
  }

  val q53Sql: String = {
    val subj = "['i', 'you', 'he', 'she', 'it', 'we', 'they']"
    s"""SELECT tag, count(*) AS cnt FROM (
       |  SELECT CASE
       |      WHEN tag0 = 'NOUN' AND prev_w = 'to'
       |        AND regexp_matches(t, '^[a-z]') THEN 'VERB'
       |      WHEN tag0 = 'NOUN' AND list_contains($subj, prev_w) THEN 'VERB'
       |      WHEN tag0 = 'VERB' AND prev_tag = 'DET' THEN 'NOUN'
       |      ELSE tag0
       |    END AS tag
       |  FROM (
       |    SELECT doc_id, pos, t, tag0,
       |      lower(lag(t) OVER (PARTITION BY doc_id ORDER BY pos)) AS prev_w,
       |      lag(tag0) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_tag
       |    FROM (
       |      SELECT doc_id, pos, t,
       |        ${tagCaseSql(extLexCaseSql).replace("\n", "\n    ")} AS tag0
       |      FROM (
       |        SELECT doc_id, u.pos AS pos, u.word AS t FROM (
       |          SELECT doc_id, unnest(list_transform(string_split(text, ' '),
       |            (x, i) -> {'pos': i, 'word': x})) AS u
       |          FROM documents)))))
       |GROUP BY tag ORDER BY tag""".stripMargin
  }

  // ---------------------------------------------------------------- q53b
  /** POS-tag distribution after the TRAINED one-lag HMM layer
    * (LexiconTagger.tagTokensHmm over PosTransitions' learned counts —
    * the learned replacement for q53's hand-picked rules; see
    * TrainTagger for the model). Fully oracle-checked: transition and
    * ambiguity counts are integer literals emitted as VALUES tables,
    * the decode comparison is exact long arithmetic in both engines. */
  def q53bPosHmmDist(spark: SparkSession, dir: String): DataFrame = {
    val tokenized = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    LexiconTagger.tagTokensHmm(tokenized, "doc_id", "words",
        PosLexicon.asDataFrame(spark))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("tag")
  }

  val q53bSql: String = {
    import graft.ml.PosTransitions
    // the HMM layer's unigram adds the trained EMISSION back-off between
    // the stem arms and the rule chain (tagTokensImpl's emission join) —
    // raw-token match against all-lowercase keys, same as the Spark side
    val hmmUnigramCase =
      tagCaseSql(extLexCaseSql + "\n      " + PosTransitions.emissionCaseSql)
    // "no evidence anywhere" flag for the bilateral OOV lever: mirrors
    // tagTokensImpl's __rule_fb (no PosLexicon exact / verb-stem /
    // emission hit; the closed-class and ambiguity guards live in the
    // decode arm, exactly as on the Spark side)
    val allLexArr = PosLexicon.Entries.map(_._1).sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val verbArr = PosLexicon.Entries.filter(_._2 == "VERB").map(_._1).sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val cN = PosTransitions.openCross("NOUN")
    val cV = PosTransitions.openCross("VERB")
    val cA = PosTransitions.openCross("ADJ")
    val cD = PosTransitions.openCross("ADV")
    val boost = PosTransitions.OovBoost
    val margin = PosTransitions.OovMargin
    def scoreSql(l: String, r: String, tag: String, cross: Long): String =
      s"""CAST(COALESCE($l, 0) + 1 AS BIGINT)
         |      * (CASE WHEN next_uni IS NULL THEN 1 ELSE COALESCE($r, 0) + 1 END)
         |      * (CASE WHEN prior = '$tag' THEN $boost ELSE 1 END) * $cross""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, u.pos AS pos, u.word AS t FROM (
       |    SELECT doc_id, unnest(list_transform(string_split(text, ' '),
       |      (x, i) -> {'pos': i, 'word': x})) AS u
       |    FROM documents)),
       |uni AS (
       |  SELECT doc_id, pos, t,
       |    ${hmmUnigramCase.replace("\n", "\n  ")} AS tag0,
       |    NOT (list_contains($allLexArr, lower(t))
       |      OR (len(t) > 3 AND ends_with(lower(t), 's')
       |          AND NOT ends_with(lower(t), 'ss')
       |          AND list_contains($verbArr, substr(lower(t), 1, len(t) - 1)))
       |      OR list_contains(${PosTransitions.emissionWordsSqlArr}, t)) AS oov
       |  FROM toks),
       |lagd AS (
       |  SELECT doc_id, pos, t, tag0, oov,
       |    CASE
       |      WHEN lag(tag0) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |        THEN 'START'
       |      WHEN list_contains(${PosTransitions.stateWordsSqlArr},
       |          lower(lag(t) OVER (PARTITION BY doc_id ORDER BY pos)))
       |        THEN 'W:' || lower(lag(t) OVER (PARTITION BY doc_id ORDER BY pos))
       |      ELSE lag(tag0) OVER (PARTITION BY doc_id ORDER BY pos)
       |    END AS state,
       |    lead(tag0) OVER (PARTITION BY doc_id ORDER BY pos) AS next_uni
       |  FROM uni),
       |amb AS (SELECT * FROM (VALUES
       |      ${PosTransitions.ambValuesSql})
       |    AS v(word, ta, ca, cta, tb, cb, ctb)),
       |trans AS (SELECT * FROM (VALUES
       |      ${PosTransitions.transValuesSql})
       |    AS v(s, tg, c)),
       |tl AS (SELECT * FROM (VALUES
       |      ${PosTransitions.openLeftValuesSql})
       |    AS v(s, n, v, a, d)),
       |tr AS (SELECT * FROM (VALUES
       |      ${PosTransitions.openRightValuesSql})
       |    AS v(tg, n, v, a, d)),
       |cand AS (
       |  SELECT lagd.*, amb.word AS amb_word,
       |    amb.ta AS a_ta, amb.ca AS a_ca, amb.cta AS a_cta,
       |    amb.tb AS a_tb, amb.cb AS a_cb, amb.ctb AS a_ctb,
       |    COALESCE(amb.ta, tag0) AS cand_a,
       |    COALESCE(amb.tb, CASE WHEN tag0 = 'NOUN' THEN 'VERB'
       |                          WHEN tag0 = 'VERB' THEN 'NOUN' END) AS cand_b
       |  FROM lagd LEFT JOIN amb ON lower(lagd.t) = amb.word),
       |sc0 AS (
       |  SELECT cand.*, ta.c AS ta_c, tb.c AS tb_c,
       |    tl.n AS tl_n, tl.v AS tl_v, tl.a AS tl_a, tl.d AS tl_d,
       |    tr.n AS tr_n, tr.v AS tr_v, tr.a AS tr_a, tr.d AS tr_d,
       |    CASE WHEN ends_with(lower(cand.t), 'en') AND len(cand.t) > 4
       |         THEN 'ADJ' ELSE cand.tag0 END AS prior,
       |    NOT ends_with(lower(cand.t), 'ing') AS adj_ok
       |  FROM cand
       |  LEFT JOIN trans ta ON ta.s = cand.state AND ta.tg = cand.cand_a
       |  LEFT JOIN trans tb ON tb.s = cand.state AND tb.tg = cand.cand_b
       |  LEFT JOIN tl ON tl.s = cand.state
       |  LEFT JOIN tr ON tr.tg = cand.next_uni),
       |sco AS (
       |  SELECT sc0.*,
       |    ${scoreSql("tl_n", "tr_n", "NOUN", cN).replace("\n", "\n  ")} AS s_n,
       |    ${scoreSql("tl_v", "tr_v", "VERB", cV).replace("\n", "\n  ")} AS s_v,
       |    ${scoreSql("tl_a", "tr_a", "ADJ", cA).replace("\n", "\n  ")} AS s_a,
       |    ${scoreSql("tl_d", "tr_d", "ADV", cD).replace("\n", "\n  ")} AS s_d
       |  FROM sc0),
       |ag1 AS (
       |  SELECT sco.*,
       |    CASE WHEN s_v > s_n THEN 'VERB' ELSE 'NOUN' END AS b2,
       |    CASE WHEN s_v > s_n THEN s_v ELSE s_n END AS sb2
       |  FROM sco),
       |ag2 AS (
       |  SELECT ag1.*,
       |    CASE WHEN adj_ok AND s_a > sb2 THEN 'ADJ' ELSE b2 END AS b3,
       |    CASE WHEN adj_ok AND s_a > sb2 THEN s_a ELSE sb2 END AS sb3
       |  FROM ag1),
       |ag3 AS (
       |  SELECT ag2.*,
       |    CASE WHEN s_d > sb3 THEN 'ADV' ELSE b3 END AS best,
       |    CASE WHEN s_d > sb3 THEN s_d ELSE sb3 END AS s_best,
       |    CASE tag0 WHEN 'NOUN' THEN s_n WHEN 'VERB' THEN s_v
       |              WHEN 'ADJ' THEN s_a ELSE s_d END AS s_tag
       |  FROM ag2),
       |dec AS (
       |  SELECT CASE
       |      WHEN amb_word IS NOT NULL THEN
       |        CASE WHEN COALESCE(ta_c, 0) = 0 AND COALESCE(tb_c, 0) = 0
       |               THEN a_ta
       |             WHEN CAST(COALESCE(tb_c, 0) + 1 AS BIGINT) * a_cb * a_cta
       |                > CAST(COALESCE(ta_c, 0) + 1 AS BIGINT) * a_ca * a_ctb
       |               THEN a_tb
       |             ELSE a_ta END
       |      WHEN regexp_matches(t, '^[A-Z]')
       |        AND state <> 'START' AND state <> '.'
       |        AND amb_word IS NULL
       |        AND list_contains(['ADJ', 'VERB', 'X'], tag0)
       |        THEN 'NOUN'
       |      WHEN oov AND amb_word IS NULL
       |        AND regexp_matches(t, '^[a-z]')
       |        AND NOT list_contains(${PosTransitions.stateWordsSqlArr},
       |          lower(t))
       |        AND list_contains(['NOUN', 'VERB', 'ADJ', 'ADV', 'X'], tag0)
       |        THEN CASE
       |          WHEN (tag0 IN ('NOUN', 'VERB', 'ADV')
       |                OR (tag0 = 'ADJ' AND adj_ok))
       |            AND best <> tag0 AND s_best < $margin * s_tag
       |            THEN tag0
       |          ELSE best END
       |      WHEN cand_b IS NOT NULL AND state LIKE 'W:%'
       |        AND regexp_matches(t, '^[a-z]')
       |        AND NOT list_contains(${PosTransitions.stateWordsSqlArr},
       |          lower(t))
       |        AND COALESCE(tb_c, 0) + 1 > (COALESCE(ta_c, 0) + 1) * 4
       |        THEN cand_b
       |      ELSE tag0 END AS tag
       |  FROM ag3)
       |SELECT tag, count(*) AS cnt FROM dec GROUP BY tag ORDER BY tag""".stripMargin
  }

  // ---------------------------------------------------------------- q51
  /** End-to-end spark.ml pipeline on the documents table: label docs by
    * length (learnable from token statistics), train bigram+LR
    * (script5 config), report the seeded-split confusion rollup.
    * Rows-only for the DuckDB compare (an LR fit is not
    * SQL-expressible), but NOT quality-unchecked: the query derives
    * held-out accuracy from its own confusion cells and RAISES if it
    * falls below the spec floor (0.8, same as MlPipelineSpec) — a
    * rows-present correctness entry certifies the floor held.
    *
    * The confusion rollup maps `prediction` back into RAW label space
    * through the fitted StringIndexerModel before comparing: the
    * pipeline's alphabetDesc indexer sends raw 1.0 → index 0.0, and
    * the earlier rollup compared the two spaces directly — an
    * inversion the rows-only check could never see (the gate below
    * caught it: accuracy read 0.068 when it was really 0.93). */
  val Q51AccuracyFloor = 0.8

  def q51SentimentPipeline(spark: SparkSession, dir: String): DataFrame = {
    val data = Tables(spark, dir).documents
      .select(col("text").as("review"),
        when(col("n_chars") > 300, 1.0).otherwise(0.0).as("label"))
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), GraftPipelines.Seed)
    // bounded vocab for the demo query: the full 2^18 default spends its
    // time allocating vocabulary, not learning, on this corpus
    val model = GraftPipelines.script5(vocabSize = 8192).fit(train)
    val indexerLabels: Seq[String] = model.stages.collectFirst {
      case m: org.apache.spark.ml.feature.StringIndexerModel =>
        m.labelsArray.head.toSeq
    }.getOrElse(sys.error("q51: fitted pipeline has no StringIndexerModel"))
    val predRaw = element_at(typedLit(indexerLabels),
      col("prediction").cast("int") + 1).cast("double")
    val conf = model.transform(test)
      .groupBy(col("label"), predRaw.as("prediction"))
      .agg(count(lit(1)).as("cnt"))
    val gate = conf.agg(
      (sum(when(col("label") === col("prediction"), col("cnt")).otherwise(0L))
        .cast("double") / sum(col("cnt"))).as("acc"))
    conf.crossJoin(broadcast(gate))
      .filter(when(col("acc") >= Q51AccuracyFloor, lit(true))
        .otherwise(raise_error(concat(
          lit(s"q51 accuracy floor $Q51AccuracyFloor violated: "),
          col("acc").cast("string")))))
      .drop("acc")
      .orderBy("label", "prediction")
  }

  /** Every query of this module: name, Spark builder, DuckDB oracle. */
  val catalog: Seq[CatalogEntry] = Seq(
    CatalogEntry("q50_pos_dist", q50PosDist _, q50Sql),
    // rows-only: a fitted spark.ml pipeline has no SQL twin
    CatalogEntry.rowsOnly("q51_sentiment_pipeline", q51SentimentPipeline _),
    CatalogEntry("q52_pos_lexicon_dist", q52PosLexiconDist _, q52Sql),
    CatalogEntry("q53_pos_context_dist", q53PosContextDist _, q53Sql),
    CatalogEntry("q53b_pos_hmm_dist", q53bPosHmmDist _, q53bSql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogEntry.builders(catalog)
}
