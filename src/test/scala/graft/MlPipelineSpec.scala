package graft

import java.nio.file.Files
import graft.ml._
import graft.sources.CorpusReader
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.UnivariateFeatureSelector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.stat.ChiSquareTest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

class MlPipelineSpec extends SparkSpec {

  import spark.implicits._

  /** Seeded synthetic sentiment corpus: positive docs draw from a
    * positive vocabulary, negative from a negative one, with shared
    * filler — linearly separable, so every real pipeline must beat
    * chance by a wide margin. */
  private lazy val corpus: DataFrame = {
    val rnd = new Random(7)
    val posW = Seq("great", "excellent", "wonderful", "loved", "superb", "amazing")
    val negW = Seq("awful", "terrible", "boring", "hated", "dreadful", "worst")
    val fill = Seq("the", "movie", "was", "plot", "and", "actor", "scene", "a", "it", "film")
    def doc(words: Seq[String]): String =
      Seq.fill(30)(if (rnd.nextDouble() < 0.35) words(rnd.nextInt(words.size))
                   else fill(rnd.nextInt(fill.size))).mkString(" ")
    val rows = (1 to 120).map(_ => (doc(posW), 1.0)) ++
               (1 to 120).map(_ => (doc(negW), 0.0))
    rnd.shuffle(rows).toDF("review", "label").cache()
  }

  test("script1 (TF-IDF + decision tree) beats chance on separable data") {
    val (_, acc) = GraftPipelines.trainEval(corpus, GraftPipelines.script1())
    assert(acc > 0.8, s"accuracy=$acc")
  }

  test("script2 (plain tokenizer + TF-IDF + decision tree) beats chance") {
    val (_, acc) = GraftPipelines.trainEval(corpus, GraftPipelines.script2())
    assert(acc > 0.8, s"accuracy=$acc")
  }

  test("script5 (bigram binary vectors + LR) beats chance") {
    val (_, acc) = GraftPipelines.trainEval(corpus, GraftPipelines.script5())
    assert(acc > 0.8, s"accuracy=$acc")
  }

  test("script4 (unigram + POS-filtered trigram concat + LR) runs and scores") {
    val (model, acc) = GraftPipelines.trainEval(corpus, GraftPipelines.script4())
    assert(acc > 0.8, s"accuracy=$acc")
    // assembled vector = |uniVocab| + |triVocab|
    val out = model.transform(corpus)
    assert(out.columns.contains("featureVectors"))
  }

  test("reglogit (distinct unigram binary vectors + LR) beats chance") {
    val (_, acc) = GraftPipelines.trainEval(corpus, GraftPipelines.reglogit())
    assert(acc > 0.8, s"accuracy=$acc")
  }

  test("naive bayes pipeline beats chance") {
    val (_, acc) = GraftPipelines.trainEval(corpus, GraftPipelines.naiveBayes())
    assert(acc > 0.8, s"accuracy=$acc")
  }

  test("script3 chi-squared selection keeps LR accuracy and shrinks features") {
    val Array(train, test) = corpus.randomSplit(Array(0.8, 0.2), GraftPipelines.Seed)
    val (vecModel, lrModel) = GraftPipelines.script3Fit(train, maxPValue = 0.5)
    val scored = lrModel.transform(vecModel.transform(test))
    val acc = GraftPipelines.accuracyEvaluator().evaluate(scored)
    assert(acc > 0.8, s"accuracy=$acc")
  }

  test("script3's chi-squared filter keeps a feature whose p-value equals maxPValue") {
    // the reference keeps p <= maxPValue; Spark's fpr mode alone keeps p < threshold
    val train = CorpusReader.loadLabeled(spark, s"${FixtureGen.CorpusDir}/train")
      .withColumn("review", graft.functions.TextFunctions.cleanLower(col("review")))
    val vectorize = new Pipeline().setStages(GraftPipelines.script3().getStages.take(4))
    val vectors = vectorize.fit(train).transform(train)
    val pValues = ChiSquareTest.test(vectors, "bigramVectors", "target_indexed")
      .head().getAs[Vector]("pValues").toArray
    val (p, i) = pValues.zipWithIndex.filter(_._1 < 1.0).maxBy(_._1)
    val selector = GraftPipelines.script3(maxPValue = p).getStages(4)
      .asInstanceOf[UnivariateFeatureSelector].fit(vectors)
    assert(selector.selectedFeatures.contains(i),
      s"feature $i with p-value $p dropped at maxPValue = $p")
  }

  test("AUC evaluator works on LR output") {
    val Array(train, test) = corpus.randomSplit(Array(0.8, 0.2), GraftPipelines.Seed)
    val model = GraftPipelines.script5().fit(train)
    val auc = GraftPipelines.aucEvaluator().evaluate(model.transform(test))
    assert(auc > 0.85, s"auc=$auc")
  }

  test("cross-validated script1 selects a maxDepth and scores") {
    val cv = GraftPipelines.script1CrossValidated(numFeatures = 2048)
    val model = cv.fit(corpus)
    assert(model.avgMetrics.length == 2) // grid {10, 20}
    assert(model.avgMetrics.max > 0.8)
  }

  test("cross-validated reglogit selects across the LR regularization grid") {
    val cv = GraftPipelines.reglogitCrossValidated()
    val model = cv.fit(corpus)
    assert(model.avgMetrics.length == 6) // regParam {0,.01,.1} × elasticNet {0,.5}
    assert(model.avgMetrics.max > 0.8)
    // the selected model is a concrete grid point with the winning params
    val best = model.bestModel.asInstanceOf[PipelineModel]
    val lr = best.stages.last.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(Seq(0.0, 0.01, 0.1).contains(lr.getRegParam))
    assert(Seq(0.0, 0.5).contains(lr.getElasticNetParam))
  }

  test("pipeline model persists and reloads via MLWriter (replaces pickle S7)") {
    Seq(GraftPipelines.script5(), GraftPipelines.script3()).foreach { pipeline =>
      val dir = Files.createTempDirectory("graft-model").toString
      val (model, _) = GraftPipelines.trainEval(corpus, pipeline)
      model.write.overwrite().save(dir)
      val back = PipelineModel.load(dir)
      val a = model.transform(corpus).select("prediction").collect().map(_.getDouble(0))
      val b = back.transform(corpus).select("prediction").collect().map(_.getDouble(0))
      assert(a.nonEmpty && a.sameElements(b))
    }
  }

  test("script3Fit's two-phase models both persist and reload (M10 + S7)") {
    val Array(train, test) = corpus.randomSplit(Array(0.8, 0.2), GraftPipelines.Seed)
    val (vecModel, lrModel) = GraftPipelines.script3Fit(train, maxPValue = 0.5)
    val dir = Files.createTempDirectory("graft-script3").toString
    vecModel.write.overwrite().save(s"$dir/vec")
    lrModel.write.overwrite().save(s"$dir/lr")
    val vecBack = PipelineModel.load(s"$dir/vec")
    val lrBack = PipelineModel.load(s"$dir/lr")
    val a = lrModel.transform(vecModel.transform(test))
      .select("prediction").collect().map(_.getDouble(0))
    val b = lrBack.transform(vecBack.transform(test))
      .select("prediction").collect().map(_.getDouble(0))
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("corpus reader round-trip: labels from path, names from filenames") {
    val root = Files.createTempDirectory("graft-corpus")
    val pos = root.resolve("train/pos"); val neg = root.resolve("train/neg")
    val tst = root.resolve("test")
    Files.createDirectories(pos); Files.createDirectories(neg); Files.createDirectories(tst)
    Files.writeString(pos.resolve("0_9.txt"), "a great movie")
    Files.writeString(pos.resolve("1_8.txt"), "loved it")
    Files.writeString(neg.resolve("0_2.txt"), "terrible plot")
    Files.writeString(tst.resolve("00042.txt"), "some review text")

    val labeled = CorpusReader.loadLabeled(spark, s"$root/train")
    assert(labeled.count() == 3)
    assert(labeled.filter($"label" === 1.0).count() == 2)
    val unknown = CorpusReader.loadUnknown(spark, s"$root/test")
    assert(unknown.select("name").as[String].collect().toSeq == Seq("00042"))

    // S6 sink: docid \t prediction
    val out = root.resolve("out").toString
    CorpusReader.writeTsv(
      unknown.withColumn("prediction", lit(1.0)), out, single = true)
    val written = spark.read.option("sep", "\t").csv(out).collect()
    assert(written.length == 1 && written(0).getString(0) == "00042")
  }

  test("POS tagger: closed classes, suffixes, numbers, punctuation") {
    val tagger = new PosTagger().setInputCol("words").setOutputCol("tags")
    val df = Seq(Tuple1(Seq("the", "quick", "dogs", "ran", "quickly", ",", "42", "I", "loved", "wonderful"))).toDF("words")
    val tags = tagger.transform(df).select("tags").first().getSeq[String](0)
    assert(tags(0) == "DET")
    assert(tags(4) == "ADV")   // quickly -ly
    assert(tags(5) == ".")     // comma
    assert(tags(6) == "NUM")
    assert(tags(7) == "PRON")  // I
    assert(tags(8) == "VERB")  // loved -ed
    assert(tags.length == 10)  // positional alignment preserved
  }

  test("POS tagger character-class modes: ASCII default is oracle-faithful, unicode opt-in") {
    // ASCII default: 'é' is a non-letter in BOTH engines, so the
    // generated oracle CASE chain agrees on any corpus — no silent
    // divergence on non-ASCII text
    assert(PosTagger.tagToken("café") == "X")       // contains non-ASCII-letter
    assert(PosTagger.tagToken("Éclair") == "X")     // non-ASCII head not 'upper'
    assert(PosTagger.tagToken("№«»") == ".")        // all non-ASCII-letterOrDigit
    // unicode mode: JDK character classes, linguistically better
    assert(PosTagger.tagToken("café", unicode = true) == "NOUN")
    assert(PosTagger.tagToken("Éclair", unicode = true) == "NOUN")
    // ASCII inputs tag identically in both modes
    for (t <- Seq("the", "quickly", "42", ",", "Paris", "wonderful", "x-1"))
      assert(PosTagger.tagToken(t) == PosTagger.tagToken(t, unicode = true), t)
    // the param flows through the transformer and survives persistence
    val df = Seq(Tuple1(Seq("café"))).toDF("words")
    val uni = new PosTagger().setInputCol("words").setOutputCol("tags").setUnicode(true)
    assert(uni.transform(df).select("tags").first().getSeq[String](0) == Seq("NOUN"))
    val dir = java.nio.file.Files.createTempDirectory("postagger-uni").toString
    uni.write.overwrite().save(dir)
    val reloaded = PosTagger.load(dir)
    assert(reloaded.getUnicode)
    assert(reloaded.transform(df).select("tags").first().getSeq[String](0) == Seq("NOUN"))
  }

  test("unicode wordpunct tokenizer groups Unicode letters into runs") {
    val df = Seq(Tuple1("café costs 3€ déjà-vu")).toDF("text")
    val uni = df.select(graft.functions.TextFunctions.wordPunctTokensUnicode(col("text")).as("t"))
      .first().getSeq[String](0)
    assert(uni == Seq("café", "costs", "3", "€", "déjà", "-", "vu"))
    // the ASCII wordpunct splits the accented letters out — the unicode
    // variant exists precisely to avoid that
    val ascii = df.select(graft.functions.TextFunctions.wordPunctTokens(col("text")).as("t"))
      .first().getSeq[String](0)
    assert(ascii != uni)
  }

  test("POS tagged-words variant emits array<struct<word,tag>> in order") {
    val tagger = new PosTaggedWords().setInputCol("words").setOutputCol("tagged")
    val df = Seq(Tuple1(Seq("the", "dogs", "ran", "quickly"))).toDF("words")
    val out = tagger.transform(df)
    val field = out.schema("tagged").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(field.fieldNames.toSeq == Seq("word", "tag"))
    val rows = out.select("tagged").first().getSeq[org.apache.spark.sql.Row](0)
    assert(rows.map(_.getString(0)) == Seq("the", "dogs", "ran", "quickly"))
    assert(rows.head.getString(1) == "DET")
    // same tags as the tags-only transformer, zipped with their words
    val tagsOnly = new PosTagger().setInputCol("words").setOutputCol("tags")
      .transform(df).select("tags").first().getSeq[String](0)
    assert(rows.map(_.getString(1)) == tagsOnly)
  }

  test("POS pattern filter keeps only authorized tag-trigram positions") {
    val df = Seq(Tuple1(1)).toDF("x")
      .withColumn("wordTrigrams", typedLit(Seq("a good movie", "movie was long")))
      .withColumn("tagTrigrams", typedLit(Seq("DET ADJ NOUN", "NOUN VERB ADJ2")))
    val out = GraftPipelines.posPatternFilter(GraftPipelines.AuthorizedTrigrams).transform(df)
      .select("selectedTrigrams").first().getSeq[String](0)
    assert(out == Seq("a good movie"))
  }
}
