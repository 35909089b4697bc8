package graft

import org.apache.spark.sql.functions._

/** Pins the round-14 scale-tooling contracts: the replicated-lineitem
  * synthesis the crossover duel feeds to the q64/q72 cardinality
  * sketches (ScaleBench.synthesizeLineitem), the other replicated
  * tables (documents, embeddings, events, the zipf ladder), and the
  * per-query session
  * clone the streaming parity entries run on
  * (StreamStage.streamSession). */
class ScaleSynthSpec extends SparkSpec {

  test("synthesizeLineitem scales rows AND the distinct-key population") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-synth-li").toString
    ScaleBench.synthesizeLineitem(spark, sf, 3, s"$out/lineitem.parquet")
    val base = Tables(spark, sf).lineitem
    val syn = spark.read.parquet(s"$out/lineitem.parquet")
    val (bn, bo, bp) = (base.count(),
      base.select("l_orderkey").distinct().count(),
      base.select("l_partkey").distinct().count())
    // row count, distinct orderkeys AND distinct partkeys all scale by
    // the factor — replication without the key offsets would grow rows
    // while freezing every distinct-count answer at the base corpus's,
    // so the q64/q72 crossover rows would measure only scan cost
    assert(syn.count() == 3 * bn)
    assert(syn.select("l_orderkey").distinct().count() == 3 * bo)
    assert(syn.select("l_partkey").distinct().count() == 3 * bp)
    // copy 0 is the base verbatim (offsets are multiples of i)
    assert(syn.filter(col("l_orderkey") < 100000000L).count() == bn)
    // measures ride along untouched: total quantity scales exactly
    val bq = base.agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    val sq = syn.agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    assert(math.abs(sq - 3 * bq) < 1e-6)
  }

  test("synthesizeLineitem refuses base keys that exceed the per-copy offsets") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-synth-li-bad").toString
    import spark.implicits._
    Seq((100000000L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
        new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalArgumentException] {
      ScaleBench.synthesizeLineitem(spark, dir, 2, s"$dir/out.parquet")
    }
    assert(e.getMessage.contains("per-copy offsets"))
  }

  test("documents, embeddings, events and the zipf ladder replicate at factor 3") {
    val out = java.nio.file.Files.createTempDirectory("graft-synth").toString
    val t = Tables(spark, sf)
    // (table, synthesizer, base, offset id columns, copy 0's id bound)
    Seq(
      ("documents", ScaleBench.synthesize _, t.documents, Seq("doc_id"), 10000000L),
      ("embeddings", ScaleBench.synthesizeEmb _, t.embeddings, Seq("vec_id"), 10000000L),
      ("events", ScaleBench.synthesizeEvents _, t.events, Seq("event_id", "user_id"),
        100000000L)
    ).foreach { case (name, synth, base, ids, copy0Bound) =>
      synth(spark, sf, 3, s"$out/$name.parquet")
      val syn = spark.read.parquet(s"$out/$name.parquet")
      assert(syn.count() == 3 * base.count(), name)
      ids.foreach { id =>
        assert(syn.select(id).distinct().count() ==
          3 * base.select(id).distinct().count(), s"$name.$id")
      }
      // the base columns the synthesis copies (Tables.events adds ts_ns)
      val baseCols = base.select(syn.columns.map(col).toSeq: _*)
      val copy0 = syn.filter(col(ids.head) < copy0Bound)
      assert(copy0.exceptAll(baseCols).isEmpty && baseCols.exceptAll(copy0).isEmpty,
        s"$name: copy 0 is not the base table")
    }
    ScaleBench.synthesizeZipf(spark, sf, 3, s"$out/zipf.parquet")
    val zipf = spark.read.parquet(s"$out/zipf.parquet")
    val docs = t.documents
    assert(zipf.count() == 3 * docs.count())
    assert(zipf.select("doc_id").distinct().count() ==
      3 * docs.select("doc_id").distinct().count())
    // every copy's n_chars is its base doc's plus the 26-char ladder
    val deltas = zipf
      .join(docs.select(col("doc_id").as("base_id"), col("n_chars").as("base_n")),
        col("doc_id") % 10000000L === col("base_id"))
      .groupBy((col("n_chars") - col("base_n")).as("delta")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(deltas == Seq(26L -> zipf.count()), deltas)
    assert(zipf.filter(array_contains(split(col("text"), " "), "zzz_hot")).count() ==
      zipf.count())
  }

  test("ensure refuses a table it does not replicate, before touching any cache") {
    val e = intercept[IllegalArgumentException] {
      ScaleBench.ensure(spark, sf, 3, "orders")
    }
    assert(e.getMessage.contains("orders"))
  }

  test("streamSession: isolated shuffle-partition override, shared context, caller untouched") {
    val ss = graft.streaming.StreamStage.streamSession(spark)
    assert(ss ne spark)
    assert(ss.sparkContext eq spark.sparkContext)
    assert(ss.conf.get("spark.sql.shuffle.partitions") ==
      graft.streaming.StreamStage.StreamShufflePartitions.toString)
    // the caller's session keeps its own setting (SparkSpec pins 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("streamSession: the clone keeps the caller's runtime SQL settings") {
    withSQLConf("spark.sql.session.timeZone" -> "Pacific/Chatham",
        "spark.sql.streaming.checkpointLocation" -> "s3a://bucket/ckpt") {
      val ss = graft.streaming.StreamStage.streamSession(spark)
      assert(ss.conf.get("spark.sql.session.timeZone") == "Pacific/Chatham")
      assert(ss.conf.get("spark.sql.streaming.checkpointLocation") == "s3a://bucket/ckpt")
      // an s3a checkpoint root keeps Spark's default file manager
      assert(ss.conf.getOption("spark.sql.streaming.checkpointFileManagerClass").isEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    }
  }

  test("streamSession: only a local checkpoint root switches the checkpoint file manager") {
    import graft.streaming.StreamStage.localCheckpoints
    assert(graft.streaming.StreamStage.streamSession(spark).conf
      .get("spark.sql.streaming.checkpointFileManagerClass") ==
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    assert(spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass").isEmpty)
    val local = new org.apache.hadoop.conf.Configuration(false)
    val hdfs = new org.apache.hadoop.conf.Configuration(false)
    hdfs.set("fs.defaultFS", "hdfs://namenode:8020")
    // no root: a temporary checkpoint under java.io.tmpdir, on fs.defaultFS
    assert(localCheckpoints(None, local))
    assert(!localCheckpoints(None, hdfs))
    assert(localCheckpoints(Some("/data/ckpt"), local))
    assert(!localCheckpoints(Some("/data/ckpt"), hdfs))
    assert(localCheckpoints(Some("file:/data/ckpt"), hdfs))
    assert(!localCheckpoints(Some("s3a://bucket/ckpt"), local))
  }
}
