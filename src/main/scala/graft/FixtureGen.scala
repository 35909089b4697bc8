package graft

import java.nio.file.{Files, Path, Paths}
import graft.ml.GraftPipelines
import graft.sources.CorpusReader
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Regenerates the committed regression fixtures under fixtures/:
  * a deterministic mini-corpus (FIXTURES.md §A1 shape), the golden
  * predictions of every seeded scripted pipeline over it, and their
  * neg-fraction pins on the synthetic corpus. GoldenSpec asserts the
  * live pipelines still reproduce the committed goldens — the
  * cross-round drift guard the reference's classifications_*.txt
  * files couldn't be (theirs were unseeded; ours are pinned).
  *
  * Run: sbt "runMain graft.FixtureGen"
  */
object FixtureGen {

  val CorpusDir = "fixtures/corpus"

  /** Committed per-pipeline neg-fraction pins on the seeded synthetic
    * corpus (DistributionSpec's ±2pp drift tripwire). Regenerated by
    * [[main]] alongside the goldens, so a conscious re-pin after a
    * Spark upgrade or pipeline edit is ONE command — the same
    * regeneration contract the golden TSVs carry. */
  val NegFracFile = "fixtures/neg_frac_pins.tsv"

  /** Neg-label fraction (and scored-row count) of a scored frame — the
    * single computation DistributionSpec asserts against and [[main]]'s
    * pin regeneration emits, so the pins can never drift from the
    * spec's own arithmetic. */
  def negFraction(scored: DataFrame): (Double, Long) = {
    val counts = scored.select(col("prediction").cast("double"))
      .groupBy("prediction").count()
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    (counts.getOrElse(0.0, 0L).toDouble / total, total)
  }

  def readNegFracPins(): Map[String, Double] = {
    val src = scala.io.Source.fromFile(NegFracFile)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, v) = l.split("\t"); n -> v.toDouble
    }.toMap
    finally src.close()
  }

  /** Every scripted pipeline with a committed golden — one TSV per
    * variant, so the "script-equivalent pipelines" claim is pinned for
    * all of them, not just script5. */
  def goldenPipelines: Map[String, () => Pipeline] = Map(
    "script1" -> (() => GraftPipelines.script1()),
    "script2" -> (() => GraftPipelines.script2()),
    "script3" -> (() => GraftPipelines.script3()),
    "script4" -> (() => GraftPipelines.script4()),
    "script5" -> (() => GraftPipelines.script5()),
    "reglogit" -> (() => GraftPipelines.reglogit()))

  def goldenFileFor(name: String): String = s"fixtures/golden_$name.tsv"

  /** Deterministic corpus content — single source of truth, also used
    * by GoldenSpec to re-derive the corpus if needed. */
  def writeCorpus(root: Path): Unit = {
    val rnd = new Random(13)
    val posT = Seq("a WONDERFUL film!<br /><br />Loved every scene...",
      "Superb acting, great plot.<br /><br />would watch AGAIN!",
      "Excellent movie, truly amazing?!")
    val negT = Seq("an AWFUL mess...<br /><br />terrible pacing!",
      "Boring, dreadful plot.<br /><br />the worst film?!",
      "Hated it. Terrible acting...")
    val pos = root.resolve("train/pos"); val neg = root.resolve("train/neg")
    val tst = root.resolve("test")
    Files.createDirectories(pos); Files.createDirectories(neg); Files.createDirectories(tst)
    (0 until 30).foreach { i =>
      Files.writeString(pos.resolve(s"${i}_${7 + i % 3}.txt"),
        posT(i % 3) + s" take $i " + Seq.fill(5)(posT(rnd.nextInt(3))).mkString(" "))
      Files.writeString(neg.resolve(s"${i}_${1 + i % 3}.txt"),
        negT(i % 3) + s" take $i " + Seq.fill(5)(negT(rnd.nextInt(3))).mkString(" "))
    }
    (0 until 10).foreach { i =>
      val src = if (i % 2 == 0) posT else negT
      Files.writeString(tst.resolve(f"$i%05d.txt"),
        Seq.fill(4)(src(rnd.nextInt(3))).mkString(" "))
    }
  }

  /** Fit one seeded scripted variant on the corpus and return the fitted
    * model with its (name, prediction) golden rows, sorted. */
  def goldenFit(spark: SparkSession, corpus: String,
                pipeline: Pipeline): (PipelineModel, Seq[(String, Double)]) = {
    val clean = (df: DataFrame) =>
      df.withColumn("review", graft.functions.TextFunctions.cleanLower(col("review")))
    val model = pipeline.fit(clean(CorpusReader.loadLabeled(spark, s"$corpus/train")))
    val scored = model.transform(clean(CorpusReader.loadUnknown(spark, s"$corpus/test")))
    model -> scored.select("name", "prediction").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
  }

  // ------------------------------------------- distribution-level corpus

  /** Seeded ~2k-doc synthetic sentiment corpus for the distribution-level
    * fidelity check. The reference's recorded predicted label splits on
    * the full 25k IMDB test set are ≈balanced (neg fraction 0.393–0.509,
    * BASELINE.md "Predicted label split"); its goldens are not
    * row-reproducible (unseeded splits, hash drift), so fidelity is
    * asserted at this level: a balanced test set must score ≈balanced.
    * Docs are mostly-neutral token mixtures with a sentiment-bearing
    * minority plus cross-class noise, so classifiers are good but
    * imperfect — like the IMDB task itself.
    * Returns (train(review,label), test(name,review)) with the test set
    * balanced by construction (even index → pos-generated). */
  def syntheticCorpus(spark: SparkSession, nTrainPerClass: Int = 800,
                      nTest: Int = 400, seed: Long = 97L): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val posW = Vector("wonderful", "superb", "great", "excellent", "amazing",
      "loved", "delightful", "masterful", "brilliant", "moving")
    val negW = Vector("awful", "terrible", "boring", "dreadful", "worst",
      "hated", "tedious", "clumsy", "lifeless", "grating")
    val neut = Vector("film", "movie", "scene", "plot", "actor", "story",
      "camera", "director", "screen", "script", "character", "dialogue",
      "music", "ending", "minute", "review", "watch", "time", "year", "cast")
    def doc(ownW: Vector[String], otherW: Vector[String]): String = {
      val n = 25 + rnd.nextInt(15)
      Seq.fill(n) {
        val r = rnd.nextDouble()
        if (r < 0.70) neut(rnd.nextInt(neut.size))
        else if (r < 0.94) ownW(rnd.nextInt(ownW.size))
        else otherW(rnd.nextInt(otherW.size)) // cross-class noise
      }.mkString(" ")
    }
    import spark.implicits._
    val train = ((0 until nTrainPerClass).map(_ => (doc(posW, negW), 1.0)) ++
      (0 until nTrainPerClass).map(_ => (doc(negW, posW), 0.0)))
      .toDF("review", "label")
    val test = (0 until nTest).map { i =>
      (f"t$i%05d", if (i % 2 == 0) doc(posW, negW) else doc(negW, posW))
    }.toDF("name", "review")
    (train, test)
  }

  def main(args: Array[String]): Unit = {
    // pinned at SparkSpec's local[4], the parallelism GoldenSpec and
    // DistributionSpec check the goldens and pins at
    val spark = Harness.session("graft-fixtures", cpus = "4")

    val root = Paths.get(CorpusDir)
    if (!Files.exists(root.resolve("train/pos"))) writeCorpus(root)
    Files.createDirectories(Paths.get("fixtures"))
    goldenPipelines.toSeq.sortBy(_._1).foreach { case (name, mk) =>
      val (_, rows) = goldenFit(spark, CorpusDir, mk())
      val tsv = rows.map { case (n, p) => s"$n\t$p" }.mkString("", "\n", "\n")
      Files.writeString(Paths.get(goldenFileFor(name)), tsv)
      println(s"wrote ${rows.size} golden rows to ${goldenFileFor(name)}")
    }
    // distribution-level pins: each pipeline's measured neg fraction on
    // the seeded ~2k-doc corpus (DistributionSpec reads this file)
    val (train, test) = syntheticCorpus(spark)
    train.cache().count()
    val pins = goldenPipelines.toSeq.sortBy(_._1).map { case (name, mk) =>
      val (frac, total) = negFraction(mk().fit(train).transform(test))
      require(total == 400L, s"$name scored $total docs, expected 400")
      println(s"measured neg fraction $name = $frac")
      s"$name\t$frac"
    }
    Files.writeString(Paths.get(NegFracFile), pins.mkString("", "\n", "\n"))
    println(s"wrote ${pins.size} neg-fraction pins to $NegFracFile")
    spark.stop()
  }
}
