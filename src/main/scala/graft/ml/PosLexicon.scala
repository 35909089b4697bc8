package graft.ml

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Most-frequent-tag lexicon for high-frequency English words — the
  * classic strong baseline a trained (perceptron) tagger is measured
  * against, and the piece the rule tagger lacks: open-class words whose
  * dominant tag the suffix rules get wrong (un-suffixed adjectives and
  * base-form verbs fall through to the NOUN default; "family" hits the
  * -ly→ADV rule, "morning" hits -ing→VERB).
  *
  * The reference wraps NLTK's pre-trained perceptron
  * (`transformers.py:67-77`); shipping its binary weights is neither
  * possible here (zero egress) nor the point — this table is the
  * deterministic, oracle-expressible equivalent: word→tag entries are
  * compile-time constants (public knowledge: common-word dominant POS),
  * emitted both as a broadcast-joinable DataFrame/parquet table and into
  * generated DuckDB CASE SQL, so lexicon-tagged queries stay
  * hash-checked.
  *
  * Entries are disjoint from [[PosTagger.Lexicon]]'s closed classes
  * (checked below): precedence between the two tables never matters.
  * Ambiguous-dominance words (work, light, open, …) are deliberately
  * absent — for those the rule fallback decides, keeping every entry
  * here one a frequency list would agree on.
  */
object PosLexicon {

  private def m(tag: String, ws: String) = ws.split(' ').map(_ -> tag)

  /** (word → dominant universal tag), lowercase keys. */
  val Entries: Seq[(String, String)] = {
    val adj = m("ADJ",
      "good bad big small new old young short high low same different " +
        "important great little large real sure free true hard easy early " +
        "late strong hot cold warm nice poor rich happy dark deep wide " +
        "clear full empty whole main public private common recent modern " +
        "simple busy quiet bright black white red blue green yellow brown " +
        "local social political economic national international several " +
        "possible available difficult serious entire single certain " +
        "similar likely huge tiny cheap expensive ancient famous tall " +
        "thin slow quick safe weak soft loud sharp sweet clean dirty dry " +
        "wet many few own other able heavy foreign fresh necessary next " +
        "last sudden")
    val verb = m("VERB",
      "run walk talk speak say tell ask call write read eat drink sleep " +
        "play live buy sell pay bring carry send find lose keep hold put " +
        "let help try use turn move stop start begin show hear listen " +
        "learn teach understand remember forget believe hope wish love " +
        "hate need mean leave stay meet join win fail follow lead grow " +
        "cut break build spend stand sit lie rise fall throw catch wear " +
        "drive ride fly swim sing dance laugh cry smile agree decide " +
        "explain describe include provide offer allow expect require " +
        "become remain happen occur exist contain involve produce reduce " +
        "increase improve continue consider suggest finish watch " +
        // irregular past/participle forms a frequency lexicon carries
        // (the -ed suffix rule never sees them)
        "bought brought caught taught told sold paid held kept met lost " +
        "spent sent built chose drove ate fell flew blew grew heard rode " +
        "ran sang sat slept spoke stood threw understood wore won wrote " +
        "began became done eaten fallen taken written spoken chosen " +
        "driven given drew")
    // function-word gaps in the closed classes and spelled-out numbers
    // (kept here, not in PosTagger.Lexicon, so the rule tagger and its
    // q50 oracle stay byte-stable)
    val adp = m("ADP",
      "across along around beyond despite except upon toward towards " +
        "inside outside beneath underneath via")
    val num = m("NUM",
      "eleven twelve thirteen fourteen fifteen sixteen seventeen " +
        "eighteen nineteen twenty thirty forty fifty sixty seventy " +
        "eighty ninety fourth fifth")
    val noun = m("NOUN",
      "time year people way day man woman child children world school " +
        "state family student group country problem hand part place case " +
        "week company system program question number night point home " +
        "water room mother father money story month book job word side " +
        "kind head house friend hour game line city name team minute idea " +
        "body face door history result morning reason research moment air " +
        "teacher force foot boy girl food energy war law car street tree " +
        "river mountain music art paper letter office phone computer " +
        "science health area market price report effect field fire wind " +
        "rain snow sun moon star sea land bird dog cat horse fish king " +
        "queen thing person life eye ear mouth nose hair arm leg heart " +
        "mind voice sound news value level rate plan project")
    val adv = m("ADV", "today tomorrow yesterday soon far")
    adj ++ verb ++ noun ++ adv ++ adp ++ num
  }.ensuring(es => es.map(_._1).distinct.size == es.size,
      "PosLexicon entries contain duplicate words")
    .ensuring(es => !es.exists { case (w, _) => PosTagger.Lexicon.contains(w) },
      "PosLexicon entries overlap PosTagger's closed-class lexicon")
    .ensuring(es => es.forall(_._1.matches("[a-z]+")),
      "PosLexicon keys must be purely alphabetic lowercase")

  /** The lexicon as a (word, tag) DataFrame — the broadcast-join side.
    * A few hundred rows; the planner broadcasts it for free. */
  def asDataFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Entries.toDF("word", "tag")
  }

  /** Persist/load the weights table as parquet — the shape a
    * perceptron-trained replacement would ship in: retrain offline,
    * overwrite the table, queries pick it up; no code change. */
  def writeParquet(spark: SparkSession, path: String): Unit =
    asDataFrame(spark).coalesce(1).write.mode("overwrite").parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)
}
