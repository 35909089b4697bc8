package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}

/** Similarity-search and near-dup queries over `embeddings` and
  * `documents`. q30/q31/q40/q41 are fully oracle-checked (all hashing is
  * md5-derived; all float math is double with identical fold order in
  * both engines). q42 (multi-table sign-LSH) is the approximate scale
  * path — fully oracle-checked AND self-gated on a brute-force recall
  * floor; SimilaritySpec asserts recall properties besides.
  */
object SimilarityQueries {

  // ---------------------------------------------------------------- q30
  /** Exact brute-force top-5 cosine neighbors for query vectors
    * vec_id < 20. cos_sim is emitted raw: both engines upcast float →
    * double and fold sequentially, so the doubles are bit-identical. */
  def q30KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 20), k = 5)
      .orderBy("query_id", "rank")
  }

  // The kNN oracles (q30, q42, q42b, q43b, q63, q73) are built from
  // the fragments below, the SQL twins of Similarity's staging helpers
  // and of its one ranking contract, Similarity.topK.

  /** `e`: the embeddings upcast to DOUBLE once, at the scan. */
  private val embCte: String =
    """e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings)""".stripMargin

  /** L2 norm of `emb`: list_sum is the 0.0-seeded ascending fold
    * ArrayDotProduct runs. */
  private val embNorm = "sqrt(list_sum(list_transform(emb, x -> x * x)))"

  /** `e`, then CTE `name` over it: vec_id, emb, nrm and `cols`. */
  private def normCtes(name: String, cols: String*): String =
    s"""$embCte,
       |$name AS (
       |  SELECT vec_id, emb,
       |    ${(s"$embNorm AS nrm" +: cols).mkString(",\n    ")}
       |  FROM e)""".stripMargin

  /** Cosine over precomputed norms, dot / (‖a‖·‖b‖). `a` and `b` prefix
    * the `emb` and `nrm` columns: a table alias ("q.") or an alias plus
    * column prefix ("p.q_"). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> ${a}emb[i] * ${b}emb[i]))
       |      / (${a}nrm * ${b}nrm)""".stripMargin

  /** `scored`: query rows `q` against corpus rows `c` of CTE `n`;
    * `from` is the FROM (and WHERE) text. */
  private def scoredPairs(from: String): String =
    s"""scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.", "c.")} AS cos_sim
       |  $from)""".stripMargin

  /** `scored`: the (query_id, neighbor_id) pairs of CTE `cand`, with
    * vectors read from CTE `vecs` and the corpus side aliased `c`. */
  private def scoredCand(vecs: String, c: String): String =
    s"""scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosSql("q.", s"$c.")} AS cos_sim
       |  FROM cand
       |  JOIN $vecs q ON q.vec_id = cand.query_id
       |  JOIN $vecs $c ON $c.vec_id = cand.neighbor_id)""".stripMargin

  /** The kNN output contract over CTE `scored`: rank by cos_sim DESC
    * then neighbor_id, as BIGINT, keep rank <= k. */
  private def topKSql(k: Int): String =
    s"""SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  val q30Sql: String =
    s"""WITH $embCte,
       |n AS (
       |  SELECT vec_id, emb,
       |    $embNorm AS nrm FROM e),
       |${scoredPairs("FROM n q, n c\n  WHERE q.vec_id < 20 AND c.vec_id != q.vec_id")}
       |${topKSql(5)}""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Per-vector L2 norm — the scalar kernel under every cosine. */
  def q31EmbedNorm(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      // sort-first (r18): range sampling re-executes an exchange-free
      // child; sort the bare scan so the vector math runs once, above it
      .orderBy("vec_id")
      .select(
        col("vec_id"),
        col("label").cast("long").as("label"),
        Similarity.l2Norm(Similarity.asDouble(col("embedding"))).as("l2_norm"))

  val q31Sql: String =
    """SELECT vec_id, CAST(label AS BIGINT) AS label,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q40
  /** MinHash-LSH near-duplicate detection, end to end: 3-shingles →
    * 8 minhashes → 4 bands × 2 rows → banded candidate join → exact
    * Jaccard verification ≥ 0.8. Fully oracle-checked — both engines
    * compute the identical md5-slice hashes. */
  def q40LshNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables(spark, dir).documents,
        numHashes = 8, bands = 4, threshold = 0.8, shingleK = 3)
      .orderBy("id_a", "id_b")

  /** Shared oracle CTE prefix (3-shingles → base hashes → minhash →
    * banded signatures) — ONE definition for the pair (q40) and
    * canonicalize (q45) oracles, mirroring Dedup.bandedSignatures being
    * the one Scala-side definition. Generated from the SAME
    * MinhashParams constants the Scala side uses. */
  private val bandedCtePrefix: String = {
    val mhExprs = MinhashParams.take(8).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $MinhashPrime))"
    }.mkString("[", ",\n      ", "]")
    s"""sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      |  WHERE len(l) >= 3),
      |mh AS (
      |  SELECT doc_id, $mhExprs AS mhs
      |  FROM (SELECT doc_id, list_transform(sh,
      |          t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 4294967296) AS hs
      |        FROM sh)),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    CAST(mhs[2*b + 1] AS VARCHAR) || '_' || CAST(mhs[2*b + 2] AS VARCHAR) AS sig
      |  FROM mh, range(0, 4) r(b))""".stripMargin
  }

  val q40Sql: String = {
    // the gated CTE mirrors minhashNearDups' maxBucketSize guard (default
    // 1000): buckets larger than the gate emit no pairs in EITHER engine,
    // so a degenerate boilerplate signature can't silently diverge the
    // oracle from the gated Spark result
    // verification runs over the DISTINCT HASH SETS, mirroring the
    // operator exactly (the pair join ships 8-byte hashes, not shingle
    // strings): Jaccard over hash sets == Jaccard over string sets
    // whenever the pair's union has no 32-bit collision, and when one
    // occurs both engines agree on the collided answer
    s"""WITH $bandedCtePrefix,
      |hsd AS (
      |  SELECT doc_id, list_distinct(list_transform(sh,
      |    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 4294967296))
      |    AS hs
      |  FROM sh),
      |gated AS (
      |  SELECT doc_id, band, sig FROM (
      |    SELECT doc_id, band, sig,
      |      count(*) OVER (PARTITION BY band, sig) AS bn
      |    FROM banded)
      |  WHERE bn <= 1000),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM gated a JOIN gated b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
      |    len(list_distinct(list_concat(x.hs, y.hs))) AS jaccard
      |FROM pairs
      |JOIN hsd x ON x.doc_id = id_a
      |JOIN hsd y ON y.doc_id = id_b
      |WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
      |    len(list_distinct(list_concat(x.hs, y.hs))) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q41
  /** SimHash clusters over distinct tokens (radius-0 near-dup buckets). */
  def q41Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashClusters(Tables(spark, dir).documents)
      .orderBy("simhash")

  val q41Sql: String = {
    // 32 generated bit terms: bit b set iff sum over distinct-token
    // hashes of ±1 votes is positive (exactly TextFunctions.simhash32)
    val bitTerms = (0 until 32).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs,
         |    h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(${1L << b} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""SELECT simhash, count(*) AS cluster_size, min(doc_id) AS canonical_id
       |FROM (
       |  SELECT doc_id, $bitTerms AS simhash
       |  FROM (
       |    SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
       |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
       |    FROM documents))
       |GROUP BY simhash ORDER BY simhash""".stripMargin
  }

  // ---------------------------------------------------------------- q42
  /** Approximate ANN via MULTI-TABLE sign-LSH bucketing (the
    * OR-construction, 8 tables × 4 bits) — the 100 TB scale path.
    * Round-10: the old single-table 4-bit form retrieved essentially
    * nothing on the synthetic corpus (recall@5 ledger row 0.00), a
    * baseline certifying no capability; the 8-table config reaches
    * ~0.7 while still pruning ~99% of candidate pairs, and the query
    * GATES itself on a 0.2 recall floor against brute force (q43's
    * device) so the correctness artifact certifies retrieval, not just
    * execution. Fully oracle-checked: the hyperplanes are
    * deterministic md5 math emitted into the SQL as exact `k/10000.0`
    * rationals, so both engines compute bit-identical signatures AND
    * cosines. */
  val Q42RecallFloor = 0.2

  /** Query-set size of the in-query ANN recall gates (q42/q43). Cost
    * envelope of the brute-force yardstick those gates run: ONE
    * broadcast pass over the corpus computing AnnGateQueries·|corpus|
    * dot products plus a per-query top-k partial aggregate — LINEAR in
    * the corpus with a PINNED constant factor, the same order as the
    * retrieval it certifies. 100× the corpus costs 100× the gate,
    * exactly like the query itself; the quadratic regime would need
    * |Q| to grow with the corpus, which this constant forbids (it is a
    * fixed id sample, never a corpus fraction). SimilaritySpec pins the
    * gate's exact side to a pushed `vec_id < AnnGateQueries` scan
    * filter. */
  val AnnGateQueries = 20

  /** Hot-bucket candidate cap FLOOR for q42 (r15,
    * [[Similarity.signLshKnn]] `bucketCap`): each (table, 4-bit
    * bucket) keeps its cap lowest-vec_id corpus rows, where cap =
    * max(2048, |distinct embeddings| / 4) — r16, closing the thin-
    * headroom gap the r15 advice flagged: the sf0.1 census max bucket
    * is 215 of 2000 DISTINCT vectors (~11% share), so a pinned 2048
    * would start firing on HONEST (non-duplicate) growth one SF step
    * up and the in-query recall-floor raise_error could trip on clean
    * data. Scaling by the distinct count gives every honest corpus
    * ~2.3× headroom over that share forever, while EXACT duplicates —
    * the skew the cap exists to bound — leave the distinct count
    * unchanged, so the replicated-corpus duel keeps the fixed 2048
    * bound (the r14 crossover measured the uncapped join going
    * quadratic there: 2.07× DuckDB at 100×). At the test SFs
    * distinct/4 = 500 < 2048, so the effective cap — and every hash —
    * is unchanged. Keep-lowest-id means the retained duplicates are
    * the ones the brute-force gate ranks first (its cosine tie-break
    * is neighbor_id ASC), so the recall floor survives replication
    * until the cap is crossed k copies deep. The distinct count is one
    * aggregation per run (a deployment computes it once per corpus
    * epoch, with the index build). Mirrored exactly in [[q42Sql]]
    * (same GREATEST over count(DISTINCT embedding), same `rn <= cap`
    * window), so the oracle checks the capped semantics, not a
    * lookalike. */
  val Q42BucketCap = 2048

  def q42KnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < AnnGateQueries)
    // The distinct count runs EAGERLY at query construction — i.e.
    // inside every bench/crossover timed region, deliberately: the
    // DuckDB oracle pays the identical count(DISTINCT embedding)
    // scalar subquery per run, so the duel stays symmetric. (A
    // memoized cap would shave ~0.1 s off the Spark side only and
    // bias exactly the ratios the pairing exists to measure; in a
    // deployment the cap is computed once per corpus epoch with the
    // index build.)
    val distinctVecs = e.select("embedding").distinct().count()
    val cap = math.max(Q42BucketCap.toLong, distinctVecs / 4).toInt
    recallGated("q42", Similarity.signLshKnn(e, q, k = 5, bits = 4, tables = 8,
      bucketCap = Some(cap)), e, q, Q42RecallFloor)
  }

  /** The in-query recall gate of q42 and q43: the approximate top-5
    * `approx` of queries `q` over `e` passes through unchanged while its
    * mean recall@5 against brute force reaches `floor`, and otherwise
    * the query RAISES — so a result in the correctness artifact
    * certifies the floor held, not merely that the query ran. */
  private def recallGated(name: String, approx: DataFrame, e: DataFrame,
      q: DataFrame, floor: Double): DataFrame = {
    val exact = Similarity.bruteForceKnn(e, q, 5)
      .select(col("query_id"), col("neighbor_id"))
    val gate = exact.join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(avg(coalesce(col("hit"), lit(0))).as("mean_recall"))
    approx.crossJoin(broadcast(gate))
      .filter(when(col("mean_recall") >= floor, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$name recall floor $floor violated: "),
          col("mean_recall").cast("string")))))
      .drop("mean_recall")
      .orderBy("query_id", "rank")
  }

  /** Sign-LSH signature as DuckDB SQL over a column `emb` (list of
    * doubles): bit p set iff the dot product with hyperplane p is
    * positive. Components are generated from the SAME
    * Similarity.planeComponentScaled constants the Spark plan embeds as
    * literals, emitted as `k/10000.0` — the identical IEEE division —
    * so the sign comparisons agree on every vector. */
  private def lshSigSql(bits: Int, dim: Int = 64): String =
    (0 until bits).map { p =>
      // UNROLLED arithmetic, not list lambdas: DuckDB evaluates a
      // list_transform-over-literal-list projection at ~0.4 ms per
      // (row, plane) — 26 s for 32 planes × 2000 vectors at sf0.1 —
      // while the same left-to-right sum written as plain +/* terms
      // runs 25× faster with bit-identical results (same IEEE
      // sequence, verified max(sig)-equal)
      val dot = (0 until dim)
        .map(d =>
          s"emb[${d + 1}]*(${Similarity.planeComponentScaled(p, d)}.0/10000.0)")
        .mkString(" + ")
      s"CASE WHEN $dot > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("\n    + ")

  /** Shared oracle CTE: per-vector double embedding, L2 norm, and
    * `bits`-bit sign-LSH signature — the SQL twin of signLshKnn's
    * corpus/query preparation. */
  private def lshScoredCte(bits: Int): String =
    normCtes("n", s"${lshSigSql(bits)} AS sig")

  val q42Sql: String = {
    // the OR-construction, candidate-capped: per (table, bucket) only
    // the Q42BucketCap lowest-vec_id corpus rows are probeable — the
    // exact twin of signLshKnn's bucketCap window (same partition
    // keys, same vec_id ASC order), so both engines bound hot buckets
    // identically. The slice/rank CTEs are skinny (ids only);
    // embeddings are joined back per DISTINCT candidate pair.
    s"""WITH ${lshScoredCte(32)},
       |ct AS (
       |  SELECT vec_id, t, (sig >> (t * 4)) & 15 AS s,
       |    row_number() OVER (PARTITION BY t, (sig >> (t * 4)) & 15
       |      ORDER BY vec_id) AS rn
       |  FROM n, range(8) r(t)),
       |qt AS (
       |  SELECT vec_id AS query_id, t, (sig >> (t * 4)) & 15 AS s
       |  FROM n, range(8) r(t) WHERE vec_id < $AnnGateQueries),
       |cand AS (
       |  SELECT DISTINCT qt.query_id, c.vec_id AS neighbor_id
       |  FROM qt JOIN ct c USING (t, s)
       |  WHERE c.rn <= GREATEST($Q42BucketCap,
       |      (SELECT count(DISTINCT embedding) // 4 FROM embeddings))
       |    AND c.vec_id != qt.query_id),
       |${scoredCand("n", "c")}
       |${topKSql(5)}""".stripMargin
  }

  // --------------------------------------------------------------- q42b
  /** Multi-probe sign-LSH ANN: each query also probes every bucket at
    * Hamming distance 1 from its own signature (bits+1 probes) — the
    * recall lift that costs query-side fanout instead of a second
    * corpus pass. Deterministic probe set ⇒ fully oracle-checked: the
    * DuckDB twin joins on `xor(sig_q, sig_c) ∈ {0} ∪ {2^b}`.
    * SimilaritySpec asserts recall ≥ single-probe, a 0.5 recall@5
    * floor on this catalog entry, and the pushed vec_id cost
    * envelope (the same [[AnnGateQueries]] pin q42/q43 carry). */
  def q42bKnnLshMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.signLshKnn(e, e.filter(col("vec_id") < AnnGateQueries),
        k = 5, bits = 4, multiProbe = true)
      .orderBy("query_id", "rank")
  }

  val q42bSql: String = {
    val probeSet = (0L +: (0 until 4).map(b => 1L << b)).mkString("(", ", ", ")")
    val from = s"""FROM n q JOIN n c
       |    ON xor(q.sig, c.sig) IN $probeSet AND c.vec_id != q.vec_id
       |  WHERE q.vec_id < 20""".stripMargin
    s"""WITH ${lshScoredCte(4)},
       |${scoredPairs(from)}
       |${topKSql(5)}""".stripMargin
  }

  // ---------------------------------------------------------------- q43
  /** IVF ANN (KMeans coarse quantizer, nprobe=2 of 8 cells, 5 KMeans
    * iterations) — the second approximate scale path. Rows-only for the
    * DuckDB compare (the KMeans fit is not SQL-expressible), but NOT
    * quality-unchecked: the query computes its own mean recall@5
    * against the exact brute-force neighbors and RAISES if it falls
    * below the spec floor (0.2, same as SimilaritySpec) — so a
    * rows-present result in the correctness artifact certifies the
    * floor held, not merely that the query ran. Exact-equivalence at
    * nprobe=numCells is additionally asserted in SimilaritySpec. */
  val Q43RecallFloor = 0.2

  def q43KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < AnnGateQueries) // gate cost envelope: see AnnGateQueries
    recallGated("q43", Similarity.ivfKnn(e, q, k = 5, numCells = 8, nprobe = 2,
      maxIter = 5), e, q, Q43RecallFloor)
  }

  // --------------------------------------------------------------- q43b
  /** IVF ANN with the DETERMINISTIC md5 codebook (8 cells, nprobe=2) —
    * the IVF probe structure of q43 without the KMeans fit, so the whole
    * query is oracle-expressible: centroids are emitted into the SQL as
    * exact `k/10000.0` rationals and both engines compute bit-identical
    * distances, argmin cells, probe rankings, and cosines. */
  def q43bKnnIvfDet(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.ivfKnnDeterministic(e, e.filter(col("vec_id") < 20), k = 5,
        numCells = 8, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** The 8 cell scores of `emb` in the SAME form the Spark plan
    * computes: (e·c)/‖c‖, with the centroid emitted as exact rationals
    * (the q42 trick) and ‖c‖ emitted as a DOUBLE-typed E-notation
    * literal of the exact value the plan embeds (a plain decimal
    * literal would parse as DECIMAL and double-round — see sqlDouble).
    * Shared by q43b, q73 and q96. */
  private val cellScoreList: String =
    (0 until 8).map { c =>
      val cen = (0 until 64)
        .map(d => s"${Similarity.cellComponentScaled(c, d)}.0/10000.0")
        .mkString("[", ",", "]")
      val cnorm = sqlDouble(Similarity.cellNorm(c, 64))
      s"list_sum(list_transform(range(1, 65), i -> emb[i] * ($cen)[i])) / $cnorm"
    }.mkString("[", ",\n    ", "]")

  /** Argmax of `scores`, first index on ties: the cell assignment. */
  private val argmaxCellSql = "CAST(list_position(scores, list_max(scores)) - 1 AS INT)"

  val q43bSql: String =
    s"""WITH ${normCtes("n", s"$cellScoreList AS scores")},
       |a AS (
       |  SELECT vec_id, emb, nrm, scores,
       |    $argmaxCellSql AS cell
       |  FROM n),
       |probes AS (
       |  SELECT query_id, q_emb, q_nrm, cell FROM (
       |    SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, c AS cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY scores[c + 1] DESC, c ASC) AS pr
       |    FROM a, range(0, 8) r(c)
       |    WHERE vec_id < 20)
       |  WHERE pr <= 2),
       |scored AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("p.q_", "c.")} AS cos_sim
       |  FROM probes p JOIN a c ON c.cell = p.cell AND c.vec_id != p.query_id)
       |${topKSql(5)}""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Embedding-cosine near-duplicate pairs (LSH-bucketed). The synthetic
    * embeddings are near-orthogonal (max pairwise cosine ≈ 0.48), so the
    * "near-dup" bar here is 0.35 — high enough to be selective (271 of
    * ~125k pairs at sf0.01), low enough that the query demonstrably
    * returns rows. Fully oracle-checked via the same generated-
    * hyperplane SQL as q42 (plus SimilaritySpec property checks). */
  def q44EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(Tables(spark, dir).embeddings,
        threshold = 0.35, bits = 3, k = 10)
      .orderBy("id_a", "id_b")

  val q44Sql: String =
    s"""WITH ${lshScoredCte(3)},
       |${scoredPairs("FROM n q JOIN n c ON q.sig = c.sig AND c.vec_id != q.vec_id")},
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT least(query_id, neighbor_id) AS id_a,
       |  greatest(query_id, neighbor_id) AS id_b,
       |  max(cos_sim) AS cos_sim
       |FROM ranked WHERE rank <= 10 AND cos_sim >= 0.35
       |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Near-dup canonicalization labels (2 propagation rounds), fully
    * oracle-checked: DuckDB unrolls the same two label-propagation
    * rounds over the identical md5-derived LSH buckets. */
  def q45DedupCanonical(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCanonicalize(Tables(spark, dir).documents,
        numHashes = 8, bands = 4, shingleK = 3, iterations = 2)
      .orderBy("doc_id")

  /** Shared CTE chain for q45/q99: two unrolled label-propagation rounds
    * over the banded minhash buckets, ending in per-doc canonical labels
    * (CTE `labels`). */
  private val canonLabelCtes: String =
    s"""$bandedCtePrefix,
      |l0 AS (SELECT DISTINCT doc_id, doc_id AS canonical_id FROM banded),
      |b1 AS (SELECT band, sig, min(canonical_id) AS bucket_min
      |       FROM banded JOIN l0 USING (doc_id) GROUP BY band, sig),
      |l1 AS (SELECT doc_id, min(bucket_min) AS canonical_id
      |       FROM banded JOIN b1 USING (band, sig) GROUP BY doc_id),
      |b2 AS (SELECT band, sig, min(canonical_id) AS bucket_min
      |       FROM banded JOIN l1 USING (doc_id) GROUP BY band, sig),
      |l2 AS (SELECT doc_id, min(bucket_min) AS canonical_id
      |       FROM banded JOIN b2 USING (band, sig) GROUP BY doc_id),
      |labels AS (
      |  SELECT d.doc_id, coalesce(l2.canonical_id, d.doc_id) AS canonical_id
      |  FROM documents d LEFT JOIN l2 ON d.doc_id = l2.doc_id)""".stripMargin

  val q45Sql: String =
    s"""WITH $canonLabelCtes
      |SELECT doc_id, canonical_id FROM labels
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q62
  /** PQ encoding of the corpus: 8 subspace codes (4 bits each) + squared
    * reconstruction error per vector — the compression pass that turns a
    * 256-byte embedding into 8 bytes for scan-cheap ANN (Similarity
    * scaladoc). Fully oracle-checked: the normalized md5 codebook is
    * emitted into the SQL as a nested list literal of the verbatim
    * Double.toString values the plan embeds, and both engines fold
    * distances in identical order. */
  def q62PqEncode(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(Tables(spark, dir).embeddings
        .orderBy("vec_id")) // sort-first (r18): see q31EmbedNorm
      .select(col("vec_id") +:
        (0 until Similarity.PqSubspaces)
          .map(s => element_at(col("codes"), s + 1).as(s"code_$s")) :+
        col("recon_err"): _*)

  /** A double emitted as a SQL literal DuckDB types as DOUBLE. A plain
    * decimal literal ("-0.07921218128118823") parses as DECIMAL(38,x)
    * and reaches double through a SECOND rounding — measured 1-ulp off
    * on ~14% of the PQ codebook. E-notation literals parse directly as
    * DOUBLE; 18 significant digits always round-trip. */
  private def sqlDouble(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.17e", Double.box(v))

  /** Codebook as one nested SQL list literal cb[sub][code][d] — the
    * SAME normalized doubles the Spark plan embeds, in DOUBLE-typed
    * E-notation. */
  private val pqCodebookSql: String =
    (0 until Similarity.PqSubspaces).map { s =>
      (0 until Similarity.PqCodes).map { k =>
        (0 until Similarity.PqSubDim)
          .map(d => sqlDouble(Similarity.pqComponent(s, k, d)))
          .mkString("[", ",", "]")
      }.mkString("[", ",\n    ", "]")
    }.mkString("[\n   ", ",\n   ", "]")

  /** Shared oracle CTE: normalized embeddings and the 8 per-subspace
    * distance arrays — the SQL twin of Similarity.pqStage's dot form
    * `(x·x − 2·x·c) + ‖c‖²`. list_sum is a 0.0-seeded ascending fold,
    * matching ArrayDotProduct's loop; ‖c‖² is the same verbatim double
    * literal the plan embeds (sqlDouble). */
  private val pqStagedCte: String = {
    val xsCols = (0 until Similarity.PqSubspaces).map { s =>
      val off = s * Similarity.PqSubDim
      s"ne[${off + 1}:${off + Similarity.PqSubDim}] AS xs$s"
    }.mkString(",\n  ")
    val xn2Cols = (0 until Similarity.PqSubspaces)
      .map(s => s"list_sum(list_transform(xs$s, x -> x * x)) AS xn2_$s")
      .mkString(",\n  ")
    val dCols = (0 until Similarity.PqSubspaces).map { s =>
      val dists = (0 until Similarity.PqCodes).map { k =>
        val cn2 = sqlDouble(Similarity.pqCodewordNorm2(s, k))
        s"""xn2_$s - 2.0e0 * list_sum(list_transform(
           |      range(1, ${Similarity.PqSubDim + 1}),
           |      i -> xs$s[i] * cb[${s + 1}][${k + 1}][i])) + $cn2""".stripMargin
      }.mkString("[", ",\n    ", "]")
      s"$dists AS d$s"
    }.mkString(",\n  ")
    s"""cb AS (SELECT $pqCodebookSql AS cb),
       |${normCtes("pn")},
       |ne AS (
       |  SELECT vec_id, list_transform(emb, x -> x / nrm) AS ne FROM pn),
       |xs AS (
       |  SELECT vec_id,
       |  $xsCols
       |  FROM ne),
       |x2 AS (
       |  SELECT *,
       |  $xn2Cols
       |  FROM xs),
       |d AS (
       |  SELECT vec_id,
       |  $dCols
       |  FROM x2, cb)""".stripMargin
  }

  val q62Sql: String = {
    val codeCols = (0 until Similarity.PqSubspaces)
      .map(s => s"CAST(list_position(d$s, list_min(d$s)) - 1 AS BIGINT) AS code_$s")
      .mkString(",\n  ")
    val err = (0 until Similarity.PqSubspaces)
      .map(s => s"list_min(d$s)").mkString("0.0 + ", " + ", "")
    s"""WITH $pqStagedCte
       |SELECT vec_id,
       |  $codeCols,
       |  $err AS recon_err
       |FROM d ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q63
  /** PQ-ADC two-stage top-5 for queries vec_id < 20: stage 1 ranks the
    * code-only corpus by ADC lookups and keeps 50 candidates per query;
    * stage 2 exact-cosine re-ranks only those pairs. The oracle reuses
    * the staged CTE — a query row's distance arrays ARE its ADC lookup
    * tables. PqSpec asserts recall vs brute force.
    *
    * ROLE (declared): this is the deliberately UNGATED baseline — the
    * ADC stage scans EVERY corpus code row, which is exactly what the
    * catalog's production shape q73 (IVF cell gate, ~nprobe/numCells of
    * the scan, measured well under 1× DuckDB) exists to avoid. q63 is
    * kept full-scan so the q63→q73 delta is a measured fact rather
    * than an argument; the pairing protocol excludes it from the >2×
    * ledger by name (tools/duck_bench.py BASELINE_QUERIES). */
  def q63PqAdcKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.pqAdcKnn(e, e.filter(col("vec_id") < 20), k = 5, rerank = 50)
      .orderBy("query_id", "rank")
  }

  /** Each corpus row's PQ codes as 1-based positions into a query
    * row's distance arrays (`pos`), and the ADC distance of query row
    * `q` to code row `c`: the SQL twin of Similarity.adcRanked. */
  private val pqPosCols: String = (0 until Similarity.PqSubspaces)
    .map(s => s"CAST(list_position(d$s, list_min(d$s)) AS INT)")
    .mkString("[", ", ", "]")
  private val adcSql: String = (0 until Similarity.PqSubspaces)
    .map(s => s"q.d$s[c.pos[${s + 1}]]").mkString("0.0 + ", " + ", "")

  /** After CTE `adc`: `cand` keeps each query's `rerank` lowest ADC
    * distances (ties by neighbor_id), `scored` re-scores them by exact
    * cosine over `pn`, and the top-5 tail ranks them — the SQL twin of
    * Similarity.exactRerank. */
  private def adcRerankSql(rerank: Int): String =
    s"""cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist ASC, neighbor_id) AS pr
       |    FROM adc)
       |  WHERE pr <= $rerank),
       |${scoredCand("pn", "c2")}
       |${topKSql(5)}""".stripMargin

  val q63Sql: String =
    s"""WITH $pqStagedCte,
       |c AS (SELECT vec_id, $pqPosCols AS pos FROM d),
       |adc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $adcSql AS adc_dist
       |  FROM d q JOIN c ON c.vec_id != q.vec_id
       |  WHERE q.vec_id < 20),
       |${adcRerankSql(50)}""".stripMargin

  // ---------------------------------------------------------------- q73
  /** IVF+PQ two-stage ANN (FAISS-style IVFADC): coarse deterministic
    * cells gate the scan (nprobe=2 of 8 → ~1/4 of the corpus), the
    * gated quarter is scored by 8-byte-code ADC lookups, and 30
    * candidates per query get the exact cosine re-rank. The oracle
    * composes q43b's literal-centroid cell CTEs with q63's staged PQ
    * CTEs — every stage bit-reproducible in DuckDB. */
  def q73IvfPqKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.ivfPqKnn(e, e.filter(col("vec_id") < 20), k = 5,
        numCells = 8, nprobe = 2, rerank = 30)
      .orderBy("query_id", "rank")
  }

  // the cell scores read the RAW emb of CTE `e`, as the plan does, not
  // the normalized `ne` the PQ stage encodes
  val q73Sql: String =
    s"""WITH $pqStagedCte,
       |sc AS (SELECT vec_id, $cellScoreList AS scores FROM e),
       |cellassign AS (
       |  SELECT vec_id,
       |    $argmaxCellSql AS cell
       |  FROM sc),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT s.vec_id AS query_id, r.c AS cell,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY s.scores[r.c + 1] DESC, r.c ASC) AS pr
       |    FROM sc s, range(0, 8) r(c)
       |    WHERE s.vec_id < 20)
       |  WHERE pr <= 2),
       |c AS (
       |  SELECT d.vec_id, $pqPosCols AS pos, cellassign.cell
       |  FROM d JOIN cellassign USING (vec_id)),
       |adc AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, $adcSql AS adc_dist
       |  FROM probes p
       |  JOIN d q ON q.vec_id = p.query_id
       |  JOIN c ON c.cell = p.cell AND c.vec_id != p.query_id),
       |${adcRerankSql(30)}""".stripMargin

  // --------------------------------------------------------------- q142
  /** Persisted-index lifecycle, end to end: BUILD the IVF+PQ index once
    * (Similarity.ivfPqIndexWrite — one narrow corpus pass → a parquet
    * artifact partitioned by coarse cell), READ it back as a plain
    * scan, and answer q73's exact query from the artifact
    * (ivfPqKnnIndexed, probed cells pushed down as a partition
    * filter). The output hash-matches q73's oracle — persistence is
    * semantically invisible, which is the property that lets a 100 TB
    * deployment encode once and query many times: the per-batch query
    * cost is a pruned scan of ~nprobe/numCells of a 28 B/row artifact
    * plus the |queries|·rerank exact re-rank, independent of the
    * encode. ScaleBench's pq_query_fixed_index row measures that
    * independence. */
  def q142IvfPqIndexPersist(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val path = graft.sources.TempDirs
      .create("graft-ivfpq-index").toString + "/index"
    Similarity.ivfPqIndexWrite(e, path, numCells = 8)
    val idx = Similarity.ivfPqIndexRead(spark, path)
    Similarity.ivfPqKnnIndexed(idx, e, e.filter(col("vec_id") < 20), k = 5,
        numCells = 8, nprobe = 2, rerank = 30)
      .orderBy("query_id", "rank")
  }

  /** Persistence is identity: the oracle IS q73's. */
  val q142Sql: String = q73Sql

  // ---------------------------------------------------------------- q99
  /** Duplicate-cluster size histogram: how many near-dup clusters of
    * each size the corpus holds — the corpus-health summary a dedup
    * pipeline reports before deciding its keep policy (a heavy tail of
    * large clusters = template spam; all-singletons = dedup is a no-op).
    * Two map-side-combined aggregates on top of q45's canonical labels;
    * the histogram's size is bounded by the largest cluster, not the
    * corpus. */
  def q99DupClusterHistogram(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCanonicalize(Tables(spark, dir).documents,
        numHashes = 8, bands = 4, shingleK = 3, iterations = 2)
      .groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  val q99Sql: String =
    s"""WITH $canonLabelCtes,
      |cl AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
      |       FROM labels GROUP BY 1)
      |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      |FROM cl GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // --------------------------------------------------------------- q114
  /** Hard-negative mining (contrastive-training data prep): for each
    * query vector (vec_id < 50), the single most-similar corpus vector
    * carrying a DIFFERENT label — the "hardest negative" a contrastive
    * loss wants in the batch. The label-inequality join broadcasts the
    * tiny query relation over the corpus scan (one pass, no corpus
    * shuffle); at corpus scale the same post-label-filter applies on
    * the LSH-bucketed candidate stream (q42's path) instead of the
    * full scan. Cosines are the q30 recipe — bit-identical doubles in
    * both engines. */
  def q114HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", Similarity.l2Norm(col("emb")))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neg_id").asc)
    e.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cos_sim",
        Similarity.dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        col("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("query_id", "q_label", "neg_id", "neg_label", "cos_sim")
      .orderBy("query_id")
  }

  val q114Sql: String =
    s"""WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, emb,
      |    $embNorm AS nrm FROM e),
      |scored AS (
      |  SELECT q.vec_id AS query_id, q.label AS q_label,
      |    c.vec_id AS neg_id, c.label AS neg_label,
      |    ${cosSql("q.", "c.")} AS cos_sim
      |  FROM n q JOIN n c ON c.label <> q.label
      |  WHERE q.vec_id < 20)
      |SELECT query_id, q_label, neg_id, neg_label, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neg_id) AS rn
      |  FROM scored)
      |WHERE rn = 1 ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q113
  /** Quality-aware canonical selection: within each near-dup cluster
    * (q45's minhash canonical labels), KEEP the document with the most
    * distinct tokens (type richness — an integer quality proxy, so no
    * float tie hazards), doc_id ascending as the tiebreak — the "keep
    * best, not first" dedup policy real curation pipelines apply where
    * q45 keeps min-id. One extra rank window over the labeled relation
    * (partitioned by cluster — never global); all other shuffles are
    * q45's. */
  def q113KeepBest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val labels = Dedup.minhashCanonicalize(d,
      numHashes = 8, bands = 4, shingleK = 3, iterations = 2)
    val score = d.select(col("doc_id"),
      size(array_distinct(graft.functions.TextFunctions
        .whitespaceTokens(col("text")))).cast("long").as("n_distinct"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_id")
      .orderBy(col("n_distinct").desc, col("doc_id").asc)
    labels.join(score, "doc_id")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("canonical_id"), col("n_distinct"),
        (col("rk") === 1).as("kept"))
      .orderBy("doc_id")
  }

  val q113Sql: String =
    s"""WITH $canonLabelCtes,
      |sc AS (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS n_distinct
      |  FROM documents)
      |SELECT doc_id, canonical_id, n_distinct,
      |  row_number() OVER (PARTITION BY canonical_id
      |    ORDER BY n_distinct DESC, doc_id) = 1 AS kept
      |FROM labels JOIN sc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q96
  /** SemDeDup keep-list (Abbas et al. 2023): semantic near-duplicate
    * pruning — deterministic md5-codebook cells, within-cell pairwise
    * cosine, drop a vector iff a lower-id cell-mate scores ≥ tau
    * (dup_of = the smallest such id; -1 sentinel when kept). tau=0.30
    * against this corpus's near-orthogonal embeddings (max pairwise
    * cosine ≈ 0.51) keeps the decision selective while returning a
    * non-trivial dropped set. Fully oracle-checked: the DuckDB twin
    * rebuilds the identical literal-centroid argmax cells and the same
    * sequential-fold cosines bit-for-bit. */
  val Q96Tau = 0.30

  def q96SemDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables(spark, dir).embeddings, tau = Q96Tau,
      numCells = 8)

  val q96Sql: String =
    s"""WITH ${normCtes("n", s"$cellScoreList AS scores")},
       |a AS (
       |  SELECT vec_id, emb, nrm,
       |    $argmaxCellSql AS cell
       |  FROM n),
       |d AS (
       |  SELECT hi.vec_id AS vec_id, min(lo.vec_id) AS dup_of
       |  FROM a hi JOIN a lo ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
       |  WHERE ${cosSql("lo.", "hi.")} >= ${sqlDouble(Q96Tau)}
       |  GROUP BY 1)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  d.dup_of IS NULL AS kept,
       |  coalesce(d.dup_of, -1) AS dup_of
       |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // --------------------------------------------------------------- q130
  /** Per-label centroid cosine matrix — the class-separation /
    * source-drift diagnostic over the embedding space (are two labels'
    * populations collapsing onto each other?). Scale shape: ONE
    * posexplode pass with a map-side-combined (label, dim) long-sum —
    * the 100 TB cost is a single shuffle of |labels|·|dims| partial
    * sums — then all pair arithmetic happens on the |labels|-row
    * centroid relation via a broadcast pair join. Determinism: per-dim
    * sums are EXACT BIGINTs of round(v·10^7); the centroid division and
    * the dim-ordered dot/norm folds are the pinned-order double
    * expressions both engines repeat (list_sum mirrors the sequential
    * `aggregate` fold, q30's device), rounded to 6dp. */
  def q130CentroidSim(spark: SparkSession, dir: String): DataFrame = {
    val comp = Tables(spark, dir).embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum(round(col("v") * lit(1.0e7)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("c",
        (col("s").cast("double") / col("n")) / lit(1.0e7))
    val vecs = comp.groupBy("label")
      .agg(sort_array(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .withColumn("vec", expr("transform(dc, x -> x.c)"))
      .select(col("label"), col("vec"))
    val a = vecs.select(col("label").as("label_a"), col("vec").as("va"))
    val b = vecs.select(col("label").as("label_b"), col("vec").as("vb"))
    a.crossJoin(broadcast(b))
      .filter(col("label_a") < col("label_b"))
      .withColumn("dot", expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, p) -> acc + p)"))
      .withColumn("na", expr(
        "aggregate(transform(va, x -> x * x), 0D, (acc, p) -> acc + p)"))
      .withColumn("nb", expr(
        "aggregate(transform(vb, x -> x * x), 0D, (acc, p) -> acc + p)"))
      .select(col("label_a"), col("label_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6)
          .as("cos_sim"))
      .orderBy("label_a", "label_b")
  }

  val q130Sql: String =
    """WITH x AS (
      |  SELECT label, u.d AS dim, u.v AS v FROM (
      |    SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
      |      i -> struct_pack(d := i, v := embedding[i]))) AS u
      |    FROM embeddings)),
      |comp AS (
      |  SELECT label, dim,
      |    (CAST(sum(CAST(round(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT))
      |        AS DOUBLE) / count(*)) / 10000000.0 AS c
      |  FROM x GROUP BY 1, 2),
      |vecs AS (SELECT label, list(c ORDER BY dim) AS vec
      |         FROM comp GROUP BY 1)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  round(
      |    list_sum(list_transform(range(1, len(a.vec) + 1),
      |      i -> a.vec[i] * b.vec[i]))
      |    / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
      |       * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6)
      |    AS cos_sim
      |FROM vecs a, vecs b WHERE a.label < b.label
      |ORDER BY label_a, label_b""".stripMargin

  // --------------------------------------------------------------- q151
  /** Per-vector int8 affine quantization — the embedding-storage op
    * behind every "4× smaller vector index" deployment (asymmetric
    * min/max affine, the ONNX/FAISS SQ8 recipe, public): code_i =
    * floor((x_i − mn)/scale + 0.5) with scale = (mx − mn)/255, plus the
    * reconstruction-quality audit (per-vector MSE of mn + code·scale).
    * Cross-engine determinism: `floor(… + 0.5)` instead of round()
    * (Spark rounds HALF_UP, DuckDB half-even — floor is IEEE-exact in
    * both), all arithmetic on exactly-widened doubles in one shared
    * association order, the code checksum an exact integer fold, and
    * the MSE a pinned ascending fold. Degenerate constant vectors
    * (scale = 0) quantize to code 0 with zero error by definition.
    * Scale shape: one narrow projection — no shuffle at all before the
    * output sort; at 100 TB this runs at scan speed and the codes
    * column (64 B/vector vs 256 B float32) is what a deployment
    * persists. */
  def q151Int8Quant(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .orderBy("vec_id") // sort-first (r18): see q31EmbedNorm
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("x"))
      .withColumn("mn", array_min(col("x")))
      .withColumn("sc", (array_max(col("x")) - col("mn")) / lit(255.0))
      .withColumn("codes", expr(
        "transform(x, v -> IF(sc = 0D, 0L, " +
          "CAST(floor((v - mn) / sc + 0.5D) AS BIGINT)))"))
      .select(col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("code_sum"),
        round(expr(
          "aggregate(zip_with(x, codes, " +
            "(v, c) -> (v - (mn + c * sc)) * (v - (mn + c * sc))), " +
            "0D, (a, d) -> a + d)") / size(col("codes")), 8).as("mse"))

  val q151Sql: String =
    """WITH p AS (
      |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, x, list_min(x) AS mn,
      |    (list_max(x) - list_min(x)) / 255.0 AS sc
      |  FROM p),
      |c AS (
      |  SELECT vec_id, x, mn, sc,
      |    list_transform(x, v -> CASE WHEN sc = 0 THEN 0
      |      ELSE CAST(floor((v - mn) / sc + 0.5) AS BIGINT) END) AS codes
      |  FROM m)
      |SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
      |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |  round(list_sum(list_transform(range(1, len(codes) + 1),
      |    i -> (x[i] - (mn + codes[i] * sc)) * (x[i] - (mn + codes[i] * sc))))
      |    / len(codes), 8) AS mse
      |FROM c ORDER BY vec_id""".stripMargin

  /** Every query of this module: name, Spark builder, DuckDB oracle. */
  val catalog: Seq[CatalogEntry] = Seq(
    CatalogEntry("q151_int8_quant", q151Int8Quant _, q151Sql),
    CatalogEntry("q130_centroid_sim", q130CentroidSim _, q130Sql),
    CatalogEntry("q96_semdedup", q96SemDedup _, q96Sql),
    CatalogEntry("q99_dup_cluster_hist", q99DupClusterHistogram _, q99Sql),
    CatalogEntry("q113_keep_best", q113KeepBest _, q113Sql),
    CatalogEntry("q114_hard_negatives", q114HardNegatives _, q114Sql),
    CatalogEntry("q44_embed_neardup", q44EmbedNearDup _, q44Sql),
    CatalogEntry("q45_dedup_canonical", q45DedupCanonical _, q45Sql),
    CatalogEntry("q30_knn_brute", q30KnnBrute _, q30Sql),
    CatalogEntry("q31_embed_norm", q31EmbedNorm _, q31Sql),
    CatalogEntry("q40_lsh_neardup", q40LshNearDups _, q40Sql),
    CatalogEntry("q41_simhash", q41Simhash _, q41Sql),
    CatalogEntry("q42_knn_lsh", q42KnnLsh _, q42Sql),
    CatalogEntry("q42b_knn_lsh_multiprobe", q42bKnnLshMultiProbe _, q42bSql),
    // rows-only: the KMeans fit has no SQL twin
    CatalogEntry.rowsOnly("q43_knn_ivf", q43KnnIvf _),
    CatalogEntry("q43b_knn_ivf_det", q43bKnnIvfDet _, q43bSql),
    CatalogEntry("q62_pq_encode", q62PqEncode _, q62Sql),
    CatalogEntry("q63_pq_adc_knn", q63PqAdcKnn _, q63Sql),
    CatalogEntry("q73_ivfpq_knn", q73IvfPqKnn _, q73Sql),
    CatalogEntry("q142_ivfpq_index_persist", q142IvfPqIndexPersist _, q142Sql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogEntry.builders(catalog)
}
