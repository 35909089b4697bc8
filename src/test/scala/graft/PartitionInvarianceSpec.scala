package graft

import graft.ml.GraftPipelines
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.feature.{CountVectorizerModel, SQLTransformer, UnivariateFeatureSelectorModel}

/** The fitted pipelines' predictions do not depend on how the corpus is
  * partitioned: the committed fixture corpus as CorpusReader returns it
  * (one partition), spread over defaultParallelism partitions (the
  * layout CorpusReader used to force), and spread over 17. */
class PartitionInvarianceSpec extends SparkSpec {

  private val pipelines: Seq[(String, () => Pipeline)] =
    Seq("script1", "script5", "script3").map(n => n -> FixtureGen.goldenPipelines(n)) :+
      ("naiveBayes" -> (() => GraftPipelines.naiveBayes()))

  /** Stages put in front of the pipeline, so both the cleaned training
    * and the cleaned test side are relaid out. */
  private def repartition(n: Int): Seq[PipelineStage] =
    Seq(new SQLTransformer().setStatement(s"SELECT /*+ REPARTITION($n) */ * FROM __THIS__"))

  private lazy val layouts: Seq[(String, Seq[PipelineStage])] = {
    val cores = spark.sparkContext.defaultParallelism
    Seq(
      "as read" -> Nil,
      s"repartition($cores)" -> repartition(cores),
      "repartition(17)" -> repartition(17))
  }

  /** The χ²-selected features as terms. CountVectorizer breaks
    * document-frequency ties in arrival order, so the selected indices
    * may differ between layouts while the selected terms may not. */
  private def selectedTerms(model: PipelineModel): Set[String] = {
    def flat(m: PipelineModel): Seq[Transformer] = m.stages.toSeq.flatMap {
      case p: PipelineModel => flat(p)
      case t => Seq(t)
    }
    val stages = flat(model)
    val vocab = stages.collectFirst { case m: CountVectorizerModel => m.vocabulary }.get
    val selected = stages.collectFirst {
      case m: UnivariateFeatureSelectorModel => m.selectedFeatures
    }.get
    selected.map(i => vocab(i)).toSet
  }

  pipelines.foreach { case (name, mk) =>
    test(s"$name predicts the same labels under every partition layout") {
      val byLayout = layouts.map { case (layout, relayout) =>
        val pipeline = new Pipeline().setStages((relayout :+ mk()).toArray)
        layout -> FixtureGen.goldenFit(spark, FixtureGen.CorpusDir, pipeline)
      }
      val (_, (asReadModel, asRead)) = byLayout.head
      assert(asRead.nonEmpty)
      val terms = if (name == "script3") selectedTerms(asReadModel) else Set.empty[String]
      assert(name != "script3" || terms.nonEmpty)
      byLayout.tail.foreach { case (layout, (model, got)) =>
        assert(got == asRead, s"$name: $layout differs from the layout as read")
        assert(name != "script3" || selectedTerms(model) == terms,
          s"$name: $layout selects other terms than the layout as read")
      }
    }
  }
}
