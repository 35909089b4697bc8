package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LogisticRegression, NaiveBayes}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature._
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import graft.functions.TextFunctions

/** The reference's ~15 script variants, re-expressed as named, seeded,
  * persistable `Pipeline` configurations (SURVEY.md §2.7, §7.2 step 7).
  * Every stage is spark.ml-native; models persist via MLWriter (replacing
  * the reference's broken pickle path, S7).
  */
object GraftPipelines {

  val Seed = 42L

  // ------------------------------------------------------------ stages

  /** T2: NLTK-wordpunct-equivalent tokenizer (regex `\w+|[^\w\s]+`). */
  def wordPunctTokenizer(in: String, out: String): RegexTokenizer =
    new RegexTokenizer()
      .setInputCol(in).setOutputCol(out)
      .setPattern("\\w+|[^\\w\\s]+").setGaps(false)
      .setToLowercase(true)

  /** T1: the reference's plain ml Tokenizer — lowercase + whitespace
    * split (`script2.py:50`, `script3.py:46`). */
  def simpleTokenizer(in: String, out: String): Tokenizer =
    new Tokenizer().setInputCol(in).setOutputCol(out)

  /** T3: raw whitespace split (professor's tokenizer, no lowering). */
  def whitespaceTokenizer(in: String, out: String): RegexTokenizer =
    new RegexTokenizer()
      .setInputCol(in).setOutputCol(out)
      .setPattern(" ").setGaps(true).setToLowercase(false)

  /** T2's stopword half with the pinned NLTK list (Spark's default list
    * differs — the reference used NLTK's 127 words). */
  def nltkStopwordRemover(in: String, out: String): StopWordsRemover =
    new StopWordsRemover()
      .setInputCol(in).setOutputCol(out)
      .setStopWords(TextFunctions.NltkStopwords.toArray)
      .setCaseSensitive(false)

  /** T4/T5 n-grams. */
  def ngram(in: String, out: String, n: Int): NGram =
    new NGram().setInputCol(in).setOutputCol(out).setN(n)

  /** V1+V2: distributed vocabulary + binary bag-of-words — replaces the
    * driver-side collect/set/enumerate/broadcast idiom
    * (`script3.py:60-78`). OOV drop is CountVectorizer's native
    * behavior, matching P8. */
  def binaryVectorizer(in: String, out: String,
                       vocabSize: Int = 1 << 18): CountVectorizer =
    new CountVectorizer()
      .setInputCol(in).setOutputCol(out)
      .setBinary(true).setVocabSize(vocabSize)

  /** V4+V5: hashing TF (pinned numFeatures; the reference left one site
    * at the library default, a drift hazard — SURVEY §7.4) then IDF. */
  def tfidf(in: String, tfOut: String, idfOut: String,
            numFeatures: Int = 10000): Seq[PipelineStage] = Seq(
    new HashingTF().setInputCol(in).setOutputCol(tfOut).setNumFeatures(numFeatures),
    new IDF().setInputCol(tfOut).setOutputCol(idfOut))

  /** T6: L2 normalizer. */
  def l2Normalizer(in: String, out: String): Normalizer =
    new Normalizer().setInputCol(in).setOutputCol(out).setP(2.0)

  /** F2: top-k χ² feature selector — the working form of the selector
    * the reference abandoned ("STOP : CA NE MARCHE PAS",
    * `featureSelection.ipynb cell 9-12`). */
  def topKChiSqSelector(featuresCol: String, labelCol: String, out: String,
                        k: Int = 6000): UnivariateFeatureSelector =
    new UnivariateFeatureSelector()
      .setFeatureType("categorical").setLabelType("categorical")
      .setSelectionMode("numTopFeatures").setSelectionThreshold(k)
      .setFeaturesCol(featuresCol).setLabelCol(labelCol).setOutputCol(out)

  /** V6: label indexer. The reference's frequencyDesc ordering is
    * tie-broken arbitrarily on a balanced corpus (SURVEY §1.3) — we pin
    * alphabetDesc so "1.0" → index 0 deterministically. */
  def labelIndexer(in: String = "label", out: String = "target_indexed"): StringIndexer =
    new StringIndexer().setInputCol(in).setOutputCol(out)
      .setStringOrderType("alphabetDesc")

  // --------------------------------------------------- script pipelines

  /** script1: wordpunct tokenize + NLTK stopwords → TF-IDF → DT
    * (`script1.py:47-61`; maxDepth 10). Expects `review`, `label`. */
  def script1(numFeatures: Int = 10000, maxDepth: Int = 10): Pipeline = {
    val stages = Seq(
      wordPunctTokenizer("review", "words"),
      nltkStopwordRemover("words", "wordsNoSw")) ++
      tfidf("wordsNoSw", "reviews_tf", "reviews_tfidf", numFeatures) :+
      labelIndexer() :+
      new DecisionTreeClassifier()
        .setFeaturesCol("reviews_tfidf").setLabelCol("target_indexed")
        .setMaxDepth(maxDepth).setSeed(Seed)
    new Pipeline().setStages(stages.toArray)
  }

  /** script2: plain ml Tokenizer (lowercase + whitespace split, no
    * stopword removal) → TF-IDF → DT (`script2.py:50-60`) — the
    * variant the reference uses to isolate the tokenizer's effect
    * against script1's wordpunct+stopwords. */
  def script2(numFeatures: Int = 10000, maxDepth: Int = 10): Pipeline = {
    val stages = Seq(simpleTokenizer("review", "words")) ++
      tfidf("words", "reviews_tf", "reviews_tfidf", numFeatures) :+
      labelIndexer() :+
      new DecisionTreeClassifier()
        .setFeaturesCol("reviews_tfidf").setLabelCol("target_indexed")
        .setMaxDepth(maxDepth).setSeed(Seed)
    new Pipeline().setStages(stages.toArray)
  }

  /** script5: tokenize → bigrams → binary vectors → LR
    * (`script5.py:47-111`; maxIter 30, regParam 0.01). */
  def script5(vocabSize: Int = 1 << 18): Pipeline =
    new Pipeline().setStages(Array(
      wordPunctTokenizer("review", "words"),
      ngram("words", "bigrams", 2),
      binaryVectorizer("bigrams", "bigramVectors", vocabSize),
      labelIndexer(),
      new LogisticRegression()
        .setFeaturesCol("bigramVectors").setLabelCol("target_indexed")
        .setMaxIter(30).setRegParam(0.01)))

  /** The reference's 11 authorized POS trigram patterns (`script4.py:124`). */
  val AuthorizedTrigrams: Seq[String] = Seq(
    "NOUN VERB ADJ", "PRON VERB ADJ", "ADP ADJ NOUN", "VERB ADJ NOUN",
    "PRON VERB PRON", "PRON ADV VERB", "ADV ADJ NOUN", "VERB ADV ADJ",
    "PRON VERB DET", "DET ADJ NOUN", "VERB DET NOUN")

  /** script4_bis reduced set (`script4_bis.py:76`). */
  val ReducedTrigrams: Seq[String] = Seq("NOUN VERB ADJ")

  /** F3: `selectedTrigrams` keeps word-trigram i of `wordTrigrams` iff
    * tag-trigram i of `tagTrigrams` is in `patterns`
    * (`script4.py:124-137`). The reference does this in a Python map
    * over a broadcast set; here it is one higher-order SQL expression —
    * zip_with → filter → transform, no UDF. */
  def posPatternFilter(patterns: Seq[String]): SQLTransformer = {
    val auth = patterns.map(p => s"'$p'").mkString(", ")
    new SQLTransformer().setStatement(
      "SELECT *, transform(filter(zip_with(wordTrigrams, tagTrigrams, " +
        s"(w, t) -> struct(w AS w, t AS t)), s -> s.t IN ($auth)), " +
        "s -> s.w) AS selectedTrigrams FROM __THIS__")
  }

  /** script4: unigrams + POS-pattern-filtered trigrams, two vocabularies
    * concatenated (`script4.py:82-183`) → LR. The index-offset concat of
    * the reference (trigram idx + |uniVocab|, `script4.py:174`) is
    * exactly VectorAssembler over the two CountVectorizer outputs. */
  def script4(reduced: Boolean = false): Pipeline =
    new Pipeline().setStages(Array(
      wordPunctTokenizer("review", "words"),
      new PosTagger().setInputCol("words").setOutputCol("tags"),
      ngram("words", "wordTrigrams", 3),
      ngram("tags", "tagTrigrams", 3),
      posPatternFilter(if (reduced) ReducedTrigrams else AuthorizedTrigrams),
      binaryVectorizer("words", "uniVectors"),
      binaryVectorizer("selectedTrigrams", "triVectors"),
      new VectorAssembler()
        .setInputCols(Array("uniVectors", "triVectors"))
        .setOutputCol("featureVectors"),
      labelIndexer(),
      new LogisticRegression()
        .setFeaturesCol("featureVectors").setLabelCol("target_indexed")
        .setMaxIter(30).setRegParam(0.01)))

  /** main_reglogit: whitespace split → per-doc distinct → binary vectors
    * → LR (`main_reglogit.py:55-91`). The per-doc `set()` (P9) is an
    * SQLTransformer so the whole pipeline persists. */
  def reglogit(): Pipeline =
    new Pipeline().setStages(Array(
      whitespaceTokenizer("review", "rawWords"),
      new SQLTransformer().setStatement(
        "SELECT *, array_distinct(rawWords) AS words FROM __THIS__"),
      binaryVectorizer("words", "features"),
      labelIndexer(),
      new LogisticRegression()
        .setFeaturesCol("features").setLabelCol("target_indexed")
        .setMaxIter(20)))

  /** NaiveBayes variant (M4, `featureSelection.ipynb`). */
  def naiveBayes(): Pipeline =
    new Pipeline().setStages(Array(
      wordPunctTokenizer("review", "words"),
      binaryVectorizer("words", "features"),
      labelIndexer(),
      new NaiveBayes().setFeaturesCol("features").setLabelCol("target_indexed")))

  /** script3_ter: tokenize → bigrams → binary vectors → χ² p ≤ 0.5 →
    * LR (F1, `script3_ter.py:100-136`; `script3_bis.py` used 0.3). */
  def script3(maxPValue: Double = 0.5): Pipeline = {
    // fpr rejects a threshold above 1, and nextUp(1.0) is above 1
    require(maxPValue < 1.0, s"maxPValue $maxPValue must be below 1")
    new Pipeline().setStages(Array(
      wordPunctTokenizer("review", "words"),
      ngram("words", "bigrams", 2),
      binaryVectorizer("bigrams", "bigramVectors"),
      labelIndexer(),
      new UnivariateFeatureSelector()
        .setFeatureType("categorical").setLabelType("categorical")
        .setSelectionMode("fpr")
        // fpr keeps p < threshold, the reference keeps p <= maxPValue;
        // for doubles p < nextUp(x) holds exactly when p <= x
        .setSelectionThreshold(java.lang.Math.nextUp(maxPValue))
        .setFeaturesCol("bigramVectors").setLabelCol("target_indexed")
        .setOutputCol("selectedVectors"),
      new LogisticRegression()
        .setFeaturesCol("selectedVectors").setLabelCol("target_indexed")
        .setMaxIter(30).setRegParam(0.01)))
  }

  /** [[script3]] fitted once and returned as (vectorizer model,
    * selector+LR model). Re-wrapping already-fitted stages through
    * `Pipeline.fit` runs no job; the second slice is checked against
    * the (lazily) vectorized schema. */
  def script3Fit(train: DataFrame, maxPValue: Double = 0.5): (PipelineModel, PipelineModel) = {
    val (vec, down) = script3(maxPValue).fit(train).stages.splitAt(4)
    val vecModel = new Pipeline().setStages(vec.toArray[PipelineStage]).fit(train)
    val downModel = new Pipeline().setStages(down.toArray[PipelineStage])
      .fit(vecModel.transform(train))
    (vecModel, downModel)
  }

  // -------------------------------------------------- evaluation/tuning

  /** M5 with the Spark-2+ rename: 'precision' → 'accuracy'. */
  def accuracyEvaluator(labelCol: String = "target_indexed"): MulticlassClassificationEvaluator =
    new MulticlassClassificationEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction")
      .setMetricName("accuracy")

  /** M6: AUC-ROC. */
  def aucEvaluator(labelCol: String = "target_indexed"): BinaryClassificationEvaluator =
    new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setRawPredictionCol("rawPrediction")

  /** M7+M8: script1's CV — DT maxDepth ∈ {10, 20}, 3 folds, seeded
    * (`script1.py:71-82`; the reference left the split unseeded). */
  def script1CrossValidated(numFeatures: Int = 10000): CrossValidator = {
    val pipeline = script1(numFeatures)
    val dt = pipeline.getStages.last.asInstanceOf[DecisionTreeClassifier]
    val grid = new ParamGridBuilder()
      .addGrid(dt.maxDepth, Array(10, 20))
      .build()
    new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(accuracyEvaluator())
      .setEstimatorParamMaps(grid)
      .setNumFolds(3)
      .setSeed(Seed)
  }

  /** M7 completed for LR: the reglogit pipeline under CrossValidator
    * with a real LR grid — regParam × elasticNetParam (the reference's
    * `main_reglogit.py:92` gridded maxIter, but its own comment admits
    * that was a placeholder; regularization is the axis that actually
    * moves held-out accuracy). 3 folds, seeded. */
  def reglogitCrossValidated(): CrossValidator = {
    val pipeline = reglogit()
    val lr = pipeline.getStages.last.asInstanceOf[LogisticRegression]
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.0, 0.01, 0.1))
      .addGrid(lr.elasticNetParam, Array(0.0, 0.5))
      .build()
    new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(accuracyEvaluator())
      .setEstimatorParamMaps(grid)
      .setNumFolds(3)
      .setSeed(Seed)
  }

  /** Train/evaluate one pipeline with a seeded 0.8/0.2 split (X1 — the
    * reference never pinned the seed; we do). Returns (model, metric). */
  def trainEval(data: DataFrame, pipeline: Pipeline,
                seed: Long = Seed): (PipelineModel, Double) = {
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed)
    val model = pipeline.fit(train)
    val metric = accuracyEvaluator().evaluate(model.transform(test))
    (model, metric)
  }
}
