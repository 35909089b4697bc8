package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-similarity self-join — all document pairs whose token-set
  * Jaccard similarity reaches a threshold — via prefix filtering
  * (the PPJoin family: Chaudhuri, Ganti & Kaushik 2006 "A primitive
  * operator for similarity joins"; Xiao, Wang, Lin & Yu 2008 "Efficient
  * similarity joins for near duplicate detection" — public literature).
  *
  * The naive form is an all-pairs cross join with a per-pair set
  * intersection. Prefix filtering turns candidate generation into an
  * equi-join: order every record's tokens by ascending global frequency
  * (rarest first, ties by token text — a total order both engines can
  * reproduce), and emit only each record's first
  * `|s| - ceil(t·|s|) + 1` tokens as blocking keys. If two sets with
  * Jaccard ≥ t had disjoint prefixes, the required overlap of
  * ceil(t·max(|A|,|B|)) tokens would have to fit entirely in the two
  * suffixes of length ceil(t·|s|) - 1 — impossible by pigeonhole — so
  * the prefix join misses no qualifying pair, and rare-token ordering
  * makes the blocking keys selective exactly where frequency skew would
  * otherwise explode the candidate count. Three pre-verification
  * filters prune the candidate space: the length filter
  * (t·|A| ≤ |B| ≤ |A|/t), and PPJoin's POSITIONAL filter — a shared
  * prefix token at 1-based ordered positions (i, j) bounds the overlap
  * by 1 + min(|A|−i, |B|−j), which must reach the required
  * t/(1+t)·(|A|+|B|) — the filter that keeps low-entropy corpora
  * (small vocabularies, shared boilerplate) from flooding verification
  * through hot prefix tokens.
  *
  * Scale shape (100 TB): the frequency table is one groupBy over the
  * exploded tokens (map-side combined); prefix emission multiplies rows
  * by the prefix length only (≤ (1-t)·|s| + 1 per record, NOT |s|);
  * candidates shuffle on single tokens like any equi-join; only
  * candidate pairs pay the exact O(|A|+|B|) verification. The
  * stop-word-like head of the frequency distribution never becomes a
  * blocking key unless a record consists almost entirely of stop words,
  * which is precisely the record for which no better blocking exists.
  *
  * All threshold comparisons are integer arithmetic on a
  * parts-per-million scaling of t (no float ceil, no float compare), so
  * the DuckDB oracle can reproduce the predicate bit-for-bit.
  */
object SetSimJoin {

  /** Candidate pairs (id_a < id_b) surviving prefix + length +
    * positional filtering, BEFORE exact verification — the set whose
    * size measures how much the blocking actually prunes
    * (SetSimJoinSpec pins it within a small factor of the output;
    * jaccardSelfJoin verifies exactly these pairs). */
  private[graft] def candidates(df: DataFrame, idCol: String,
                                tokensCol: String, threshold: Double): DataFrame =
    candidateFrames(df, idCol, tokensCol, threshold)._1

  /** (candidate pairs, per-record code frame). The code frame carries
    * `id, n, codes` — the record's tokens as SORTED dense long codes
    * (rank under the (freq asc, tok asc) total order; bijective with
    * the tokens, so set arithmetic over codes equals set arithmetic
    * over tokens). Cached: the candidate join posexplodes it on both
    * sides and the verification join reads the full code arrays. */
  private[graft] def candidateFrames(df: DataFrame, idCol: String,
      tokensCol: String, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t6 = math.round(threshold * 1000000L) // t in ppm, exact for 6-dp t
    val base = df.select(col(idCol).as("id"), col(tokensCol).as("toks"))

    // global token frequencies: the ordering signal for prefix selection
    val freq = base.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tok_freq"))
    // r19: token → dense long CODE, the rank under the (freq asc, tok
    // asc) total order, via the scale-safe distributed rank (no
    // single-partition window). Code order ≡ ordering order, so every
    // downstream step — the per-record sort, the prefix slice, the
    // candidate equi-join keys — operates on 8-byte longs instead of
    // struct<long,string> / string tokens: the per-record ordering
    // becomes a primitive-array sort (was an interpreted struct
    // comparator — the measured 4.7× cold-JIT stage), and the candidate
    // join shuffles narrow fixed-width keys (guide §2.3). Candidates
    // are IDENTICAL (the order is the same total order, codes are
    // bijective with tokens), so the output is bit-identical.
    val coded = GlobalRank.withRowNumber(freq,
        Seq(col("tok_freq").asc, col("tok").asc), "code")
      .select(col("tok"), col("code"))

    // per record: tokens ordered rarest-first (freq asc, token asc),
    // then the first (n - ceil(t*n) + 1) become blocking keys, each
    // carrying its 0-based position in the FULL ordered token list
    // (prefix positions == ordered positions, the prefix being a
    // prefix) — the positional filter below needs it
    val ordered = base
      .select(col("id"), size(col("toks")).as("n"), explode(col("toks")).as("tok"))
      .join(coded, "tok")
      // corpus-side fan-out: the rank output is few-partition (vocab is
      // small next to the corpus), and when the planner broadcasts the
      // other join side, the join output inherits that near-single
      // partitioning — which trivially satisfies the groupBy's
      // clustering and would serialize the per-record aggregation (and
      // the cached frame, and everything reading it) onto one task. At
      // scale EnsureRequirements inserts this exact exchange anyway
      // (tok-partitioned ≠ id-clustered); HashPartitioning(id) satisfies
      // ClusteredDistribution(id, n), so the groupBy adds no second one.
      .repartition(col("id"))
      .groupBy("id", "n")
      .agg(array_sort(collect_list(col("code"))).as("codes"))
      .withColumn("prefix_len",
        expr(s"cast(n - ((cast(n as bigint) * $t6 + 999999) DIV 1000000) + 1 as int)"))
      .select(col("id"), col("n"), col("codes"),
        expr("slice(codes, 1, prefix_len)").as("prefix"))
      .cache() // candidate join reads it twice, verification twice more

    val a = ordered.select(col("id").as("id_a"), col("n").as("n_a"),
      posexplode(col("prefix")).as(Seq("p_a", "tok_a")))
    val b = ordered.select(col("id").as("id_b"), col("n").as("n_b"),
      posexplode(col("prefix")).as(Seq("p_b", "tok_b")))
    // Required overlap for Jaccard ≥ t: |∩| ≥ α = t/(1+t)·(|A|+|B|)
    // (substitute |∪| = |A|+|B|−|∩|), kept in exact ppm arithmetic.
    // POSITIONAL filter, aggregated form (PPJoin, Xiao et al. 2008):
    // per pair, let o = number of shared BOTH-prefix tokens and
    // (i*, j*) the 1-based ordered positions of the LAST one. The
    // token ordering is one global total order, so every shared token
    // that globally precedes the last both-prefix shared token is
    // itself in both prefixes (its positions are smaller, and prefixes
    // are position-downward-closed) and is therefore counted in o,
    // while every shared token after it occupies positions > i* in A
    // and > j* in B — at most min(|A|−i*, |B|−j*) of them. Hence
    // overlap ≤ o + min(|A|−i*, |B|−j*), and pairs whose bound misses
    // α are pruned BEFORE the token-array verification join. The
    // groupBy replaces the old `.distinct()` — same shuffle, and o /
    // max-position fall out of the same aggregation. (A per-token
    // pre-filter inside the join would be UNSOUND here: dropping rows
    // undercounts o for the survivors.) Measured at sf0.1 on the
    // small-vocab docs corpus: 253k length-filtered candidates → 2.3k
    // verified, where the single-token bound pruned only ~6%.
    val cand = a.join(b,
        col("tok_a") === col("tok_b") && col("id_a") < col("id_b") &&
          // length filter: Jaccard >= t forces t*|A| <= |B| and t*|B| <= |A|
          col("n_b") * t6 <= col("n_a") * 1000000L &&
          col("n_a") * t6 <= col("n_b") * 1000000L)
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("o"),
        max(col("p_a")).as("lp_a"), max(col("p_b")).as("lp_b"))
      .filter((col("o") +
          least(col("n_a") - col("lp_a") - 1L, col("n_b") - col("lp_b") - 1L)) *
          (1000000L + t6) >= (col("n_a") + col("n_b")) * t6)
      .select("id_a", "id_b")
    (cand, ordered.select(col("id"), col("codes")))
  }

  /** All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) ≥
    * `threshold`. `tokensCol` must be a deduplicated array<string>
    * (apply `array_distinct` upstream). Output: `id_a, id_b, jaccard`
    * where jaccard = |∩| / |∪| — one integer division, exact in IEEE
    * double, hence hash-stable across engines. Exact result set —
    * the filtered candidates are a superset of the qualifying pairs
    * and the verification filter applies the true predicate. */
  def jaccardSelfJoin(df: DataFrame, idCol: String, tokensCol: String,
                      threshold: Double): DataFrame = {
    val t6 = math.round(threshold * 1000000L)
    // r19: verification intersects the LONG CODE arrays, not the token
    // strings. Codes are bijective with tokens, so |∩| and |A|/|B| (and
    // hence the jaccard double, one exact integer division) are the
    // SAME integers — but array_intersect over long arrays is real
    // whole-stage codegen, where the string form compiles to a call
    // into the interpreted ArrayIntersect.nullSafeEval (collation-aware
    // string sets): thread dumps of the slow in-sweep q82 runs showed
    // exactly that interpreted path as the hot frame. The join also
    // re-reads the already-cached code frame instead of re-scanning and
    // re-tokenizing the input relation twice (two fewer corpus passes),
    // and ships fixed-width longs, not token strings (guide §2.3).
    val (cand, codes) = candidateFrames(df, idCol, tokensCol, threshold)
    cand
      .join(codes.select(col("id").as("id_a"), col("codes").as("codes_a")), "id_a")
      .join(codes.select(col("id").as("id_b"), col("codes").as("codes_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("codes_a"), col("codes_b"))).cast("long"))
      // |∪| arithmetically from the (deduplicated) sizes — halves the
      // per-candidate verification vs a second array traversal. The
      // t-test is stated WITHOUT `uni` so the predicate Catalyst pushes
      // into the join condition contains ONE array_intersect, not two:
      // inter·1e6 ≥ (|A|+|B|−inter)·t6  ⟺  inter·(1e6+t6) ≥ (|A|+|B|)·t6
      // (same integers — the verification kernel runs once per failing
      // candidate instead of twice).
      .filter(col("inter") * (1000000L + t6) >=
        (size(col("codes_a")).cast("long") + size(col("codes_b"))) * t6)
      .withColumn("uni",
        size(col("codes_a")).cast("long") + size(col("codes_b")) - col("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }
}
