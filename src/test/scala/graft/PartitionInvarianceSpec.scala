package graft

import graft.ml.GraftPipelines
import org.apache.spark.sql.DataFrame

/** The fitted pipelines' predictions do not depend on how the corpus is
  * partitioned: the committed fixture corpus as CorpusReader returns it,
  * in one partition, and spread over 17. */
class PartitionInvarianceSpec extends SparkSpec {

  private val fitters: Seq[(String, DataFrame => DataFrame => DataFrame)] =
    Seq("script1", "script5", "script3").map(n => n -> FixtureGen.goldenFitters(n)) :+
      ("naiveBayes" -> ((train: DataFrame) => {
        val model = GraftPipelines.naiveBayes().fit(train); model.transform(_)
      }))

  private val layouts: Seq[(String, DataFrame => DataFrame)] = Seq(
    "as read" -> identity,
    "repartition(1)" -> (_.repartition(1)),
    "repartition(17)" -> (_.repartition(17)))

  /** The fixture corpus's sorted (name, prediction) rows, with both
    * sides relaid out after cleaning. */
  private def predictions(relayout: DataFrame => DataFrame,
                          fit: DataFrame => DataFrame => DataFrame): Seq[(String, Double)] =
    FixtureGen.goldenRowsForFitter(spark, FixtureGen.CorpusDir, train => {
      val score = fit(relayout(train)); test => score(relayout(test))
    })

  fitters.foreach { case (name, fit) =>
    test(s"$name predicts the same labels under every partition layout") {
      val byLayout = layouts.map { case (layout, relayout) => layout -> predictions(relayout, fit) }
      val (_, asRead) = byLayout.head
      assert(asRead.nonEmpty)
      byLayout.tail.foreach { case (layout, got) =>
        assert(got == asRead, s"$name: $layout differs from the layout as read")
      }
    }
  }
}
