package graft

import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** Hand-computed oracles for the corpus-statistics queries (q89 PMI
  * collocations, q90 repeated-trigram boilerplate) on an injected
  * documents table — values derived on paper, independent of both the
  * Spark plan and the DuckDB twin. */
class CorpusStatsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-corpus-spec").toString
    Seq(
      (0L, "a b a b", "en", "t", 7L),
      (1L, "a c", "en", "t", 3L),
      (2L, "x x x x x", "en", "t", 9L),
      (3L, "a b a b a b a b a b", "en", "t", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q90: duplicated-trigram fractions match paper arithmetic") {
    val got = TextQueries.q90BoilerplateNgram(spark, dir)
      .select("doc_id", "n_tri", "n_dup", "dup_ratio")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc0 "a b a b": trigrams [aba, bab] all distinct → 0.0
    // doc1 "a c": < 3 tokens → 0 trigrams, ratio 0 by convention
    // doc2 "x x x x x": [xxx, xxx, xxx] → 2 of 3 duplicated → 0.6667
    // doc3: 8 trigrams alternating [aba, bab]×4 → 6 duplicated → 0.75
    assert(got == Seq(
      (0L, 2L, 0L, 0.0),
      (1L, 0L, 0L, 0.0),
      (2L, 3L, 2L, 0.6667),
      (3L, 8L, 6L, 0.75)))
  }

  test("q91: OOV ratios under a 2-token budget match paper arithmetic") {
    // Census: a=8, b=7, x=5, c=1 → top-2 vocabulary {a, b}.
    // doc0 "a b a b" → 0/4; doc1 "a c" → 1/2; doc2 "x×5" → 5/5;
    // doc3 (a b alternating ×10) → 0/10.
    val got = TextQueries.q91VocabOov(spark, dir, budget = 2)
      .select("doc_id", "n_tok", "n_oov", "oov_ratio")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 4L, 0L, 0.0),
      (1L, 2L, 1L, 0.5),
      (2L, 5L, 5L, 1.0),
      (3L, 10L, 0L, 0.0)))
  }

  test("q92: first-occurrence novelty matches paper arithmetic") {
    // Distinct bigrams: doc0 {a b, b a} (both globally first here),
    // doc1 {a c} first, doc2 {x x} first, doc3 {a b, b a} seen in doc0.
    val got = TextQueries.q92NgramNovelty(spark, dir)
      .select("doc_id", "n_bigrams", "n_novel", "novelty_ratio")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 1.0),
      (1L, 1L, 1L, 1.0),
      (2L, 1L, 1L, 1.0),
      (3L, 2L, 0L, 0.0)))
  }

  test("q89: PMI value and floor match paper arithmetic") {
    val got = TextQueries.q89BigramPmi(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    // Unigrams: a=8 (2+1+5), b=7 (2+5), c=1, x=5 → N_u = 21. Bigrams:
    // doc0 [ab, ba, ab], doc1 [ac], doc2 [xx×4], doc3 [ab×5, ba×4] →
    // N_bi = 17; c("a b") = 7, c("b a") = 5, c("x x") = 4 (below the
    // floor of 5), c("a c") = 1. Survivors: "a b" and "b a".
    // pmi(a b) = ln(((7·21)·21) / ((17·8)·7)) = ln(3087/952) ≈ 1.1765
    // pmi(b a) = ln(((5·21)·21) / ((17·7)·8)) = ln(2205/952) ≈ 0.8399
    def pmi(cab: Long, ca: Long, cb: Long): Double =
      BigDecimal(math.log(((cab.toDouble * 21) * 21) / ((17.0 * ca) * cb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      ("a b", 7L, pmi(7, 8, 7)),
      ("b a", 5L, pmi(5, 7, 8))))
  }

  // 8-token-shingle corpus for q95/q97 (ShingleDupK = 8): doc0 and doc1
  // share their first 8 tokens; doc3 is below the shingle width; doc4
  // repeats one shingle only WITHIN itself (not cross-doc duplication).
  private lazy val shingleDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-shingle-spec").toString
    Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 x1", "en", "s1", 26L),
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8", "en", "s2", 23L),
      (2L, "a b c d e f g h", "en", "s1", 15L),
      (3L, "p q r s t u v", "en", "s3", 13L),
      (4L, "r r r r r r r r r", "en", "s4", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q95: substring-dup coverage matches paper arithmetic") {
    val got = TextQueries.q95SubstringDup(spark, shingleDir)
      .select("doc_id", "n_shingles", "n_dup", "dup_ratio")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc0: shingles [w1..w8] (shared with doc1), [w2..x1] → 1/2 dup.
    // doc1: [w1..w8] → 1/1. doc2: [a..h] unique → 0/1.
    // doc3: 7 tokens → no shingles → absent from the output.
    // doc4: [r×8] twice, but only doc4 has it → within-doc repetition
    // is NOT cross-doc duplication → 0/2.
    assert(got == Seq(
      (0L, 2L, 1L, 0.5),
      (1L, 1L, 1L, 1.0),
      (2L, 1L, 0L, 0.0),
      (4L, 2L, 0L, 0.0)))
  }

  test("q98: tf-idf keyword ranks and scores match paper arithmetic") {
    // N = 4; df: a=3, b=2, c=1, x=1. score = tf · ln((N+1)/(df+1)),
    // rounded 6dp on output only.
    def s(tf: Long, df: Long): Double =
      BigDecimal(tf.toDouble * math.log(5.0 / (df + 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextQueries.q98TfidfKeywords(spark, dir)
      .select("doc_id", "rank", "token", "score")
      .as[(Long, Long, String, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, "b", s(2, 2)), (0L, 2L, "a", s(2, 3)),
      (1L, 1L, "c", s(1, 1)), (1L, 2L, "a", s(1, 3)),
      (2L, 1L, "x", s(5, 1)),
      (3L, 1L, "b", s(5, 2)), (3L, 2L, "a", s(5, 3))))
  }

  test("q100: suppression flags follow the k threshold; census is total") {
    val out = TextQueries.q100KAnonymity(spark, sf).cache()
    val total = Tables(spark, sf).documents.count()
    assert(out.agg(sum("n_docs")).first().getLong(0) == total)
    assert(out.filter(col("suppressed") =!=
      (col("n_docs") < TextQueries.KAnonK)).count() == 0)
  }

  test("q101: largest-remainder allocation exhausts the budget exactly") {
    val out = TextQueries.q101MixtureAlloc(spark, sf).cache()
    val nSources = Tables(spark, sf).documents
      .select("source").distinct().count()
    assert(out.count() == nSources)
    assert(out.agg(sum("alloc")).first().getLong(0) == TextQueries.MixBudget)
    // every source with tokens gets a positive integer weight and a
    // non-negative allocation
    assert(out.filter(col("weight") <= 0 || col("alloc") < 0).count() == 0)
    // apportionment never strays more than 1 from the real-valued quota
    val z = out.agg(sum("weight")).first().getLong(0).toDouble
    assert(out.withColumn("quota", lit(10000.0) * col("weight") / lit(z))
      .filter(abs(col("alloc") - col("quota")) >= 1.0).count() == 0)
  }

  test("q108: drift log-odds match paper arithmetic") {
    // mid = (0 + 3 + 1) DIV 2 = 2. Half A (docs 0,1): a=3, b=2, c=1,
    // Na=6. Half B (docs 2,3): a=5, b=5, x=5, Nb=15.
    // drift(t) = ln(((2a+1)(2(Nb−b)+1)) / ((2b+1)(2(Na−a)+1))):
    //   c: ln((3·31)/(1·11)) = ln(93/11)    x: ln((1·21)/(11·13)) = ln(21/143)
    //   a: ln((7·21)/(11·7)) = ln(147/77)   b: ln((5·21)/(11·9))  = ln(105/99)
    // |drift| order: c > x > a > b.
    def d(num: Long, den: Long): Double =
      BigDecimal(math.log(num.toDouble / den.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextQueries.q108TokenDrift(spark, dir, minCount = 0)
      .select("token", "cnt_a", "cnt_b", "drift")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("c", 1L, 0L, d(93, 11)),
      ("x", 0L, 5L, d(21, 143)),
      ("a", 3L, 5L, d(147, 77)),
      ("b", 2L, 5L, d(105, 99))))
  }

  test("q109: per-source rollup is consistent with q37's verdicts") {
    val bySource = TextQueries.q109QualityBySource(spark, sf).cache()
    val q37 = TextQueries.q37QualityRules(spark, sf)
    assert(bySource.agg(sum("n_docs")).first().getLong(0) ==
      Tables(spark, sf).documents.count())
    assert(bySource.agg(sum("n_keep")).first().getLong(0) ==
      q37.agg(sum("keep")).first().getLong(0))
    // a doc failing the length gate must be counted somewhere: keeps and
    // per-rule failures jointly cover every doc
    assert(bySource.filter(col("n_keep") + col("n_fail_short") +
      col("n_fail_token_len") + col("n_fail_rep") + col("n_fail_symbol") <
      col("n_docs")).count() == 0)
  }

  test("q115: the first block of positions interleaves every source once") {
    val out = TextQueries.q115CurriculumInterleave(spark, sf).cache()
    val nSources = Tables(spark, sf).documents
      .select("source").distinct().count()
    assert(out.count() == Tables(spark, sf).documents.count())
    // positions are 1..N contiguous
    assert(out.agg(max("position")).first().getLong(0) == out.count())
    assert(out.select("position").distinct().count() == out.count())
    // the first |sources| positions are all turn 1 with distinct sources
    val head = out.filter(col("position") <= nSources).cache()
    assert(head.filter(col("turn") =!= 1L).count() == 0)
    assert(head.select("source").distinct().count() == nSources)
  }

  test("q110: fused score restates the two ranks; invariants hold") {
    val got = TextQueries.q110HybridRrf(spark, sf).cache()
    assert(got.count() == 20)
    assert(got.filter(col("rrf") <= 0.0).count() == 0)
    // ranks are -1 (absent from that ranker) or ≥ 1, never 0
    assert(got.filter(col("lex_rank") === 0L || col("sem_rank") === 0L)
      .count() == 0)
    // rrf is exactly the sum of the reciprocal ranks present
    val recompute =
      when(col("lex_rank") =!= -1L,
        lit(1.0) / (lit(TextQueries.RrfK) + col("lex_rank"))).otherwise(lit(0.0)) +
      when(col("sem_rank") =!= -1L,
        lit(1.0) / (lit(TextQueries.RrfK) + col("sem_rank"))).otherwise(lit(0.0))
    assert(got.filter(abs(col("rrf") - recompute) > 1e-6).count() == 0)
  }

  test("q97: cross-source overlap matrix matches paper arithmetic") {
    val got = TextQueries.q97SourceOverlap(spark, shingleDir)
      .select("source_a", "source_b", "n_a", "n_b", "n_shared", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // Shingle sets: s1 {w1..w8, w2..x1, a..h} (3), s2 {w1..w8} (1),
    // s3 {} (doc3 too short), s4 {r×8} (1). Only s1∩s2 = {w1..w8} is
    // non-empty → one pair, jaccard 1/(3+1-1) = 0.3333.
    assert(got == Seq(("s1", "s2", 3L, 1L, 1L, 0.3333)))
  }

  // `s` sources, one doc each: 8 shared tokens then 8 unique ones, so
  // every doc owns 9 distinct 8-shingles (the shared window + 8 windows
  // crossing into its unique tail) and every source pair shares exactly
  // the ONE common shingle → C(s,2) pairs, n_a = n_b = 9, n_shared = 1,
  // jaccard 1/(9+9−1) = 0.0588 (4dp).
  private def wideSourceDir(s: Int): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft-q97-wide-$s").toString
    (0 until s).map { i =>
      val uniq = (1 to 8).map(t => s"u${i}_$t").mkString(" ")
      (i.toLong, s"c1 c2 c3 c4 c5 c6 c7 c8 $uniq", "en", f"s$i%03d", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def checkWide(s: Int): Unit = {
    val got = TextQueries.q97SourceOverlap(spark, wideSourceDir(s))
      .select("source_a", "source_b", "n_a", "n_b", "n_shared", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got.size == s * (s - 1) / 2, s"pair count at s=$s")
    assert(got == got.sortBy(r => (r._1, r._2)), s"ordering at s=$s")
    got.foreach { r =>
      assert((r._3, r._4, r._5, r._6) == ((9L, 9L, 1L, 0.0588)), s"$r")
    }
  }

  test("q97: the one-word in-plan tier (21..63 sources) matches pair arithmetic") {
    checkWide(30)
  }

  test("q97: the two-word bitmask tier (64..126 sources) matches pair arithmetic") {
    checkWide(70)
  }

  test("q97: the 63/64 single-word/two-word tier boundary is exact") {
    // s = 63: the LAST source occupies word 0's top payload bit (bit 62)
    // and the plan must carry ONE packed long; s = 64: the 64th source
    // is word 1's bit 0 and the two-word form takes over. Both sides of
    // the boundary must produce identical pair arithmetic.
    checkWide(63)
    checkWide(64)
  }

  test("q97 tier structure: ONE packed word below 64 sources, two above (plan pin)") {
    // pins what `git show 88ba917:PAIRING_r13.json` certified — a
    // regression back to carrying the constantly-zero second word
    // through the corpus exchange turns
    // this red instead of waiting for the next pairing (the same device
    // as GlobalRankSpec's zero-WindowExec pins). The public query
    // finishes driver-side, so the pin reads the exposed census stage.
    def censusPlan(s: Int): String = {
      val names = (0 until s).map(i => f"s$i%03d").toArray
      TextQueries.q97MaskCensus(spark, wideSourceDir(s), names)
        .queryExecution.executedPlan.toString
    }
    val one = censusPlan(30)
    assert(!one.contains("mask1"),
      s"single-word tier plans the second packed word:\n${one.take(1200)}")
    assert(one.contains("mask0"), "census lost its bitmask entirely?")
    val two = censusPlan(70)
    assert(two.contains("mask1"), "two-word tier lost its second word")
  }

  test("q97: the 126/127 bitmask/set-explode tier boundary is exact") {
    // s = 126 fills word 1's top payload bit; s = 127 exceeds the two
    // packed longs and q97SourceOverlap must hand off to the per-hash
    // sorted-set fallback (q97SetExplode) with identical arithmetic.
    checkWide(126)
    checkWide(127)
  }

  test("q97 dispatch probe is bounded: 127 names max reach the driver") {
    // r17 verdict item 2: the old dispatcher collected ALL distinct
    // source names before checking the > 126 handoff — on a corpus with
    // millions of provenance labels the driver would OOM before
    // reaching the tier built for exactly that case. The probe must cap
    // the fetch at 127 rows (enough to decide the tier, and the full
    // list when ≤ 126) and its plan must carry the limit.
    val dir = wideSourceDir(200)
    val probe = TextQueries.q97TierProbe(spark, dir)
    assert(probe.length == 127, s"probe returned ${probe.length} of 200")
    // plan pin: the cap is a GlobalLimit in the plan, not a driver-side
    // truncation of an unbounded collect
    val plan = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct()
      .limit(127).queryExecution.executedPlan.toString
    assert(plan.contains("Limit") || plan.contains("TakeOrderedAndProject"),
      s"probe plan lost its limit:\n${plan.take(800)}")
    // and a > 126-source corpus still answers correctly end-to-end via
    // the set-explode tier (dispatch + arithmetic in one)
    val got = TextQueries.q97SourceOverlap(spark, dir)
      .select("n_a", "n_b", "n_shared").distinct()
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((9L, 9L, 1L)), s"set-explode tier arithmetic: $got")
  }

  test("q97: randomized corpora match a driver-side brute force across all four tiers") {
    // independent of the constructed-corpus arithmetic above: seeded
    // random corpora with genuine cross-source window sharing, expected
    // answer recomputed in plain Scala from distinct 8-token windows
    // (distinct windows ⇔ distinct 60-bit hashes — md5 collisions at
    // this scale are ~1e-12 and the seed is fixed). One trial per tier:
    // s = 4 (driver popcount), 25 (one-word in-plan), 70 (two-word
    // in-plan), 130 (set-explode fallback) — plus s = 127, the FIRST
    // set-explode width, so this property and the exact 126/127
    // boundary spec overlap at the handoff itself.
    val rnd = new scala.util.Random(1313L)
    for (s <- Seq(4, 25, 70, 127, 130)) {
      val shared = (1 to 12).map(i => s"w$i")
      val rows = (0 until s).flatMap { src =>
        (0 until 1 + rnd.nextInt(3)).map { d =>
          val len = 8 + rnd.nextInt(10)
          val t = Seq.fill(len)(
            if (rnd.nextDouble() < 0.8) shared(rnd.nextInt(shared.size))
            else s"u${src}_${rnd.nextInt(5)}")
          ((src * 100 + d).toLong, t.mkString(" "), "en", f"s$src%03d", 40L)
        }
      }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-q97-rand-$s").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val bySource: Map[String, Set[String]] = rows.groupBy(_._4).map {
        case (src, rs) => src -> rs.flatMap(r =>
          r._2.split(" ").toSeq.sliding(8).filter(_.size == 8)
            .map(_.mkString("\u0000"))).toSet
      }
      val names = bySource.keys.toSeq.sorted
      val expected = for {
        i <- names.indices; j <- (i + 1) until names.size
        a = names(i); b = names(j)
        sh = (bySource(a) & bySource(b)).size if sh > 0
      } yield {
        val (na, nb) = (bySource(a).size.toLong, bySource(b).size.toLong)
        // Spark round() = scala BigDecimal(double) HALF_UP — same code path
        val jac = BigDecimal(sh.toDouble / (na + nb - sh))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (a, b, na, nb, sh.toLong, jac)
      }
      val got = TextQueries.q97SourceOverlap(spark, dir)
        .as[(String, String, Long, Long, Long, Double)].collect().toSeq
      assert(got == expected, s"tier s=$s: got ${got.size} pairs, " +
        s"expected ${expected.size}; first diff: " +
        got.zipAll(expected, null, null).find(p => p._1 != p._2))
    }
  }
}
