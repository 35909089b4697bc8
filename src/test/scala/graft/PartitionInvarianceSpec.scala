package graft

import graft.ml.GraftPipelines
import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.SQLTransformer

/** The fitted pipelines' predictions do not depend on how the corpus is
  * partitioned: the committed fixture corpus as CorpusReader returns it,
  * in one partition, and spread over 17. */
class PartitionInvarianceSpec extends SparkSpec {

  private val pipelines: Seq[(String, () => Pipeline)] =
    Seq("script1", "script5", "script3").map(n => n -> FixtureGen.goldenPipelines(n)) :+
      ("naiveBayes" -> (() => GraftPipelines.naiveBayes()))

  /** Stages put in front of the pipeline, so both the cleaned training
    * and the cleaned test side are relaid out. */
  private def repartition(n: Int): Seq[PipelineStage] =
    Seq(new SQLTransformer().setStatement(s"SELECT /*+ REPARTITION($n) */ * FROM __THIS__"))

  private val layouts: Seq[(String, Seq[PipelineStage])] = Seq(
    "as read" -> Nil,
    "repartition(1)" -> repartition(1),
    "repartition(17)" -> repartition(17))

  pipelines.foreach { case (name, mk) =>
    test(s"$name predicts the same labels under every partition layout") {
      val byLayout = layouts.map { case (layout, relayout) =>
        val pipeline = new Pipeline().setStages((relayout :+ mk()).toArray)
        layout -> FixtureGen.goldenRowsFor(spark, FixtureGen.CorpusDir, pipeline)
      }
      val (_, asRead) = byLayout.head
      assert(asRead.nonEmpty)
      byLayout.tail.foreach { case (layout, got) =>
        assert(got == asRead, s"$name: $layout differs from the layout as read")
      }
    }
  }
}
