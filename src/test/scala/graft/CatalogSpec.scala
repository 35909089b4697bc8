package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog: each query declares its name, Spark builder and
  * DuckDB oracle in one `CatalogEntry`, a name declared twice fails the
  * build of the catalog instead of replacing the earlier entry, and the
  * rows-only entries are exactly the two COVERAGE.md names. */
class CatalogSpec extends AnyFunSuite {

  /** Each module's catalog with the name → builder map built from it. */
  private val modules = Seq(Relational.catalog -> Relational.queries,
    TextQueries.catalog -> TextQueries.queries,
    SimilarityQueries.catalog -> SimilarityQueries.queries,
    MlQueries.catalog -> MlQueries.queries,
    MultimodalQueries.catalog -> MultimodalQueries.queries,
    SketchQueries.catalog -> SketchQueries.queries,
    StatsQueries.catalog -> StatsQueries.queries)

  test("a name declared twice in one module fails with its name in the message") {
    val e = intercept[IllegalArgumentException] {
      CatalogEntry.builders(MlQueries.catalog :+ MlQueries.catalog.last)
    }
    assert(e.getMessage.contains("q53b_pos_hmm_dist"), e.getMessage)
  }

  test("a name declared in two modules fails with its name in the message") {
    val twin = TextQueries.catalog.head.copy(name = Relational.catalog.head.name)
    val e = intercept[IllegalArgumentException] {
      CatalogEntry.byName(Relational.catalog ++ (twin +: TextQueries.catalog.tail))
    }
    assert(e.getMessage.contains(Relational.catalog.head.name), e.getMessage)
  }

  test("SparkEntry.queries holds every module entry once: 152 queries") {
    val names = modules.flatMap(_._1).map(_.name)
    assert(names.size == 152 && names.distinct.size == 152)
    assert(SparkEntry.queries.keySet == names.toSet)
    modules.foreach { case (catalog, queries) =>
      assert(queries.keySet == catalog.map(_.name).toSet)
    }
  }

  test("exactly q43_knn_ivf and q51_sentiment_pipeline are rows-only; every oracle names a query") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q43_knn_ivf", "q51_sentiment_pipeline"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.size == 150)
  }
}
