package graft.tools

import graft.ml.{LexiconTagger, PosLexicon}
import org.apache.spark.sql.functions._

/** Scratch error scan for the pos_gold extension: prints the HMM
  * layer's mismatches vs gold so annotation slips surface before the
  * floors are re-pinned. */
object PosErrScan {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session("pos-errscan", cpus = "4")
    import spark.implicits._
    val gold = spark.read.option("sep", "\t").option("header", "true")
      .csv("fixtures/pos_gold.tsv").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val docDf = Seq((0L, gold.map(_._1).toSeq)).toDF("doc_id", "words")
    val tagged = LexiconTagger.tagTokensHmm(docDf, "doc_id", "words",
        PosLexicon.asDataFrame(spark))
      .orderBy("pos").select("word", "tag").as[(String, String)].collect()
    val start = args.headOption.map(_.toInt).getOrElse(0)
    tagged.zip(gold).zipWithIndex.drop(start).foreach {
      case (((w, t), (gw, gt)), i) =>
        if (t != gt) println(f"$i%5d $gw%-16s gold=$gt%-5s hmm=$t%-5s")
    }
    spark.stop()
  }
}
