package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL surface: register the TESTDATA tables as temp views so users can
  * address the engine with `spark.sql(...)` — every DataFrame operator
  * in the catalog has an equivalent SQL spelling over these views. */
object GraftSql {

  def registerTables(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    Seq(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(query)
  }
}
