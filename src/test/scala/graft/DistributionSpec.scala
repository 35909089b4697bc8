package graft

import org.apache.spark.sql.functions._

/** Distribution-level fidelity to the reference's recorded label splits
  * (BASELINE.md "Predicted label split": neg fraction 0.393–0.509 across
  * the five committed classifications_*.txt files). The reference's
  * goldens are not row-reproducible (unseeded `randomSplit`, hash-function
  * drift — SURVEY.md §7.4), so fidelity is asserted at the level the
  * reference actually pins: every scripted pipeline, trained on a
  * balanced seeded ~2k-doc corpus and scored on a balanced test set,
  * must predict an ≈balanced label split. The tolerance band [0.30, 0.70]
  * brackets the reference's own observed range with margin for the
  * smaller corpus.
  *
  * This is deliberately looser than GoldenSpec (bit-exact on the 10-doc
  * corpus) — the two together pin both row-level determinism and
  * corpus-scale behavior.
  */
class DistributionSpec extends SparkSpec {

  // Reference-observed neg fractions on the 25k test set (BASELINE.md:15):
  // reglogit .496, script1 .438, script2 .393, script3 .509, script5 .506.
  private val LoNeg = 0.30
  private val HiNeg = 0.70

  // Round-12 drift pins: every scripted pipeline's neg fraction on the
  // committed seeded corpus, measured at HEAD and banded ±2pp — the
  // per-pipeline tripwire the broad reference band above can't provide.
  // These pin THIS repo's deterministic behavior (seeded splits, seeded
  // fits) for cross-Spark-version drift, NOT the reference's absolute
  // splits: those were observed on the 25k movie corpus and do not
  // transfer to a different corpus; the reference range is asserted as
  // the outer sanity bracket, the pins as the regression guard. The
  // pins live in fixtures/neg_frac_pins.tsv, emitted by FixtureGen
  // alongside the goldens — a legitimate behavior change (new Spark
  // version, conscious pipeline edit) re-pins with ONE command:
  //   sbt "runMain graft.FixtureGen"
  private lazy val PinnedNegFrac = FixtureGen.readNegFracPins()
  private val PinTolerance = 0.02

  private lazy val corpus = FixtureGen.syntheticCorpus(spark)

  FixtureGen.goldenPipelines.foreach { case (name, mk) =>
    test(s"$name label split on a balanced 2k-doc corpus stays within the reference band and its ±2pp pin") {
      val (train, test) = corpus
      // the SAME computation FixtureGen's pin-regeneration mode emits —
      // shared so the pins can never drift from the spec's arithmetic
      val (negFrac, total) = FixtureGen.negFraction(mk().fit(train).transform(test))
      assert(total == 400L, s"expected 400 scored docs, got $total")
      assert(negFrac >= LoNeg && negFrac <= HiNeg,
        s"$name neg fraction $negFrac outside [$LoNeg, $HiNeg] " +
          s"(reference range 0.393-0.509 on the 25k corpus)")
      val pin = PinnedNegFrac(name)
      assert(math.abs(negFrac - pin) <= PinTolerance,
        s"$name neg fraction $negFrac drifted past ±$PinTolerance from " +
          s"its committed pin $pin — if the change is conscious " +
          "(Spark upgrade, pipeline edit), re-measure and re-commit " +
          "the pin")
    }
  }
}
