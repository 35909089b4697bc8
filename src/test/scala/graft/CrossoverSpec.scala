package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Crossover's cohort filter (the SPARK_GRAFT_CROSSOVER_COHORT
  * value, parsed by `Crossover.cohortOf`): unset is the floor cohort,
  * any catalog query may be named, and an unknown name fails loudly.
  * tools/corescale.sh runs its cohort through the same filter. */
class CrossoverSpec extends AnyFunSuite {

  test("cohortOf: unset runs the full floor cohort") {
    assert(Crossover.cohortOf(None) == Crossover.Cohort)
  }

  test("cohortOf: an unknown name fails with its name in the message") {
    val e = intercept[IllegalArgumentException] {
      Crossover.cohortOf(Some("q88_inverted_index, q999_not_a_query"))
    }
    assert(e.getMessage.contains("q999_not_a_query"))
  }

  test("cohortOf: a catalog query outside the floor cohort is accepted, in the listed order") {
    assert(!Crossover.Cohort.contains("q45_dedup_canonical"))
    assert(Crossover.cohortOf(Some("q45_dedup_canonical,q88_inverted_index")) ==
      Seq("q45_dedup_canonical", "q88_inverted_index"))
  }

  test("tools/corescale.sh names ten catalog queries") {
    val script = java.nio.file.Files.readString(java.nio.file.Paths.get("tools/corescale.sh"))
    val csv = "(?m)^COHORT=(\\S+)$".r.findFirstMatchIn(script).map(_.group(1))
    assert(csv.isDefined, "no COHORT= line in tools/corescale.sh")
    assert(Crossover.cohortOf(csv).size == 10)
  }
}
