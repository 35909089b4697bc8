package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-salting for skew — the manual fallback when AQE's runtime skew
  * split isn't available (non-equi join shapes, non-algebraic
  * aggregates) or when one key is hot enough to dominate a stage.
  *
  * Salted join: the skewed (large) side gets a content-derived salt in
  * [0, salts); the small side is replicated `salts` times; the join key
  * becomes (key, salt) — one hot key now spreads over `salts` tasks.
  * Cost: small side × salts, which is why the small side must be small.
  */
object Salting {

  /** Equi-join `large ⋈ small` on `key`, with the large side's hot keys
    * spread across `salts` partitions. The salt is derived from ROW
    * CONTENT (hash of all columns), not `rand(seed)`: rand is only
    * stable for a fixed partition layout, so a repartition upstream
    * would silently change per-row salts — content hashing is
    * deterministic under any layout. A hot key spreads because its rows
    * differ in non-key columns; fully identical duplicate rows share a
    * salt (spread those upstream with a row id if it matters). */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 salts: Int = 16): DataFrame = {
    // hash() rejects map-typed columns at analysis — exclude them from
    // the salt input (the salt only needs SOME deterministic per-row
    // variation, not every column)
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val hashable = large.schema.fields
      .filterNot(f => hasMap(f.dataType))
      .map(f => col(f.name)).toSeq
    val saltedLarge = large.withColumn("__salt",
      pmod(hash(hashable: _*), lit(salts)))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(replicatedSmall, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Two-stage salted aggregation: partial aggregate on (key, salt),
    * final on key. For algebraic aggregates Catalyst's partial
    * aggregation already does this; the explicit form matters for
    * aggregates without partial pushdown (exact distinct per hot key). */
  def saltedDistinctCount(df: DataFrame, key: String, valueCol: String,
                          salts: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(hash(col(valueCol)), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(countDistinct(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as("distinct_count"))
  // correctness relies on salting by hash(value): equal values always
  // land in the same salt bucket, so partial distinct counts are
  // disjoint and sum exactly
}
