package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `embedding: array<float>` column.
  *
  * Seven nearest-neighbour entry points, one exact and the rest
  * approximate:
  *  - [[bruteForceKnn]]: exact top-k over a broadcast query side; the
  *    corpus is scanned once, never shuffled. The ground truth.
  *  - [[ivfKnn]]: a KMeans coarse quantizer; queries probe `nprobe`
  *    cells.
  *  - [[ivfKnnDeterministic]]: the same probe structure over an
  *    md5-derived codebook, so it is oracle-expressible.
  *  - [[pqAdcKnn]]: product-quantized codes scored by ADC table
  *    lookups, optionally re-ranked by exact cosine.
  *  - [[ivfPqKnn]] and [[ivfPqKnnIndexed]]: IVF cells gate the ADC scan
  *    (built on the fly, or read from a persisted [[ivfPqIndex]]).
  *  - [[signLshKnn]]: random-hyperplane sign-LSH buckets.
  *
  * Every cosine-ranked kernel ends in [[topK]], the one output
  * contract: cos_sim = dot / (‖q‖·‖c‖) over precomputed norms, rank =
  * `row_number` by cos_sim DESC then neighbor_id ASC as a long, rows
  * with rank ≤ k, columns (query_id, rank, neighbor_id, cos_sim).
  * Self-pairs are excluded. [[pqAdcKnn]] without re-rank ranks by ADC
  * distance instead and emits adc_dist.
  *
  * All arithmetic is double (floats upcast once) and every fold is
  * sequential in array order, so scores are deterministic.
  */
object Similarity {

  /** Upcast array<float> → array<double> once, at the scan. */
  def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  /** Dot product via the codegen'd [[graft.plans.ArrayDotProduct]]
    * expression — bit-identical to the higher-order-function fold
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` (same ascending-index
    * IEEE sum; null on length mismatch or null element), but a tight
    * primitive loop inside whole-stage codegen instead of two
    * interpreted lambdas and a zipped-array allocation per row. */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Corpus side of every cosine: (vec_id, emb, nrm). */
  private def corpusVectors(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))

  /** Query side of every cosine: (`id`, q_emb, q_nrm). */
  private def queryVectors(queries: DataFrame, id: String = "query_id"): DataFrame =
    queries.select(col("vec_id").as(id), asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))

  /** The kNN output contract (see the object doc): score the candidate
    * `pairs` (query_id, q_emb, q_nrm, emb, nrm and the column
    * `neighbor` names) and keep each query's k best, cosine ties by
    * neighbor_id ASC. */
  private def topK(pairs: DataFrame, neighbor: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    pairs
      .withColumn("cos_sim",
        dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .select(col("query_id"), neighbor, col("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** Exact top-k cosine neighbors of `queries` within `corpus`. Both
    * frames carry (`vec_id`, `embedding`). The query side is broadcast
    * (BroadcastNestedLoopJoin); cost O(|corpus| · |queries| · dim). */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(corpusVectors(corpus)
        .join(broadcast(queryVectors(queries)), col("query_id") =!= col("vec_id")),
      col("vec_id").as("neighbor_id"), k)

  /** md5 of `key` mapped to an integer in [-10000, 10000). */
  private def md5Scaled(key: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.take(15), 16)
    (h % 20000L) - 10000L
  }

  /** Integer numerator of [[planeComponent]] (value × 10000) — exposed
    * so oracle SQL can emit the component as the exact rational
    * `k/10000.0` and reproduce the identical IEEE division. */
  private[graft] def planeComponentScaled(plane: Int, d: Int): Long =
    md5Scaled(s"plane$plane|$d")

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived integer mapped to [-1, 1). Computed DRIVER-SIDE once —
    * plane vectors are data-independent, so evaluating md5 per row per
    * element (the naive column formulation) wastes executor time; the
    * vectors ship as plan literals instead. No RNG, no driver state. */
  private[graft] def planeComponent(plane: Int, d: Int): Double =
    planeComponentScaled(plane, d).toDouble / 10000.0

  /** Deterministic IVF codebook component for (cell, d): the same
    * md5 → [-1, 1) mapping as [[planeComponentScaled]] but namespaced
    * "cell", so the codebook and the LSH hyperplanes are independent
    * pseudo-random draws. Scaled integer exposed so oracle SQL can emit
    * the exact rational `k/10000.0`. */
  private[graft] def cellComponentScaled(cell: Int, d: Int): Long =
    md5Scaled(s"cell$cell|$d")

  private[graft] def cellComponent(cell: Int, d: Int): Double =
    cellComponentScaled(cell, d).toDouble / 10000.0

  /** b-bit sign-LSH signature of an embedding (array<double>, exactly
    * `dim` elements). A dim mismatch FAILS LOUDLY (raise_error): with a
    * shorter array zip_with would pad with nulls, null every projection
    * and collapse all vectors into signature 0 — turning the LSH join
    * into a silent cross join; longer arrays would silently ignore
    * components. Neither degradation is acceptable at scale. */
  def lshSignature(emb: Column, bits: Int, dim: Int = 64): Column =
    // fused expression, not 32 composed dot terms: the composed form's
    // generated projection exceeded janino's 64 KB method limit at
    // bits=32 and silently fell back to INTERPRETED eval — measured as
    // 95% of q42's wall time on the 100× crossover corpus (40.5 s of
    // 41.6 s; see plans/LshSignatureExpr scaladoc). Same semantics,
    // same error text, same IEEE fold order, ~1 KB of generated code.
    graft.plans.LshSignatureExpr.signature(emb, bits, dim,
      (0 until bits).flatMap(p => (0 until dim).map(d => planeComponent(p, d))))

  /** IVF (inverted-file) ANN: a seeded KMeans coarse quantizer assigns
    * every corpus vector to a cell; each query probes only its `nprobe`
    * nearest cells. The centroid table is tiny (numCells rows) and
    * broadcast; the only large shuffle is the corpus partition by cell —
    * done once, amortized over all queries. With nprobe == numCells the
    * result is EXACTLY bruteForceKnn (asserted in SimilaritySpec), which
    * pins the plumbing correct; recall/latency trades via nprobe.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             numCells: Int = 16, nprobe: Int = 2, seed: Long = 42L,
             maxIter: Int = 20): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("fv", array_to_vector(col("emb")))
    val km = new KMeans().setK(numCells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val model = km.fit(c)
    val assigned = model.transform(c)
      .select(col("vec_id"), col("emb"), l2Norm(col("emb")).as("nrm"), col("cell"))

    // tiny centroid relation → broadcast; nprobe cells per query
    val centroids = model.clusterCenters.zipWithIndex.map {
      case (v, i) => (i, v.toArray.toSeq)
    }.toSeq
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = centroids.toDF("cell", "centroid")

    val probeW = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cell").asc)
    val probes = queryVectors(queries).crossJoin(broadcast(centDf))
      .withColumn("dist",
        aggregate(zip_with(col("q_emb"), col("centroid"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "q_emb", "q_nrm", "cell")

    topK(assigned.join(probes, "cell").filter(col("query_id") =!= col("vec_id")),
      col("vec_id").as("neighbor_id"), k)
  }

  /** Norm of the deterministic centroid of `cell` — ONE double computed
    * driver-side and emitted verbatim into both the Spark plan and the
    * oracle SQL (Double.toString round-trips exactly), so its internal
    * fold order is irrelevant to cross-engine parity. */
  private[graft] def cellNorm(cell: Int, dim: Int): Double =
    math.sqrt((0 until dim).map { d => val c = cellComponent(cell, d); c * c }.sum)

  /** Spherical quantizer scores of `emb` against the `numCells`
    * centroids: e·c/‖c‖ — direction-based assignment with the norms
    * equalized out. Plain L2 argmin against the RAW md5 codebook
    * degenerates: the random centroids' norms differ, and
    * ‖e−c‖² = ‖e‖²−2e·c+‖c‖² is then dominated by ‖c‖², so the few
    * smallest-norm centroids capture nearly everything (measured: 2 of
    * 16 cells held 95% of a 200k-vector corpus). Normalizing the metric
    * restores balanced cells AND matches the cosine metric the kNN
    * itself ranks by. The dot runs on the codegen'd ArrayDotProduct
    * kernel; ‖c‖ is a plan literal; the oracle spells the identical
    * two-op expression — bit-identical scores, hence identical argmax
    * cells and probe rankings. */
  private def cellScores(emb: Column, numCells: Int, dim: Int): Column =
    array((0 until numCells).map { cell =>
      val cen = typedlit((0 until dim).map(d => cellComponent(cell, d)))
      dot(emb, cen) / lit(cellNorm(cell, dim))
    }: _*)

  /** Index of the best score (first index on ties → lowest cell). */
  private def argmaxCell(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("int")

  /** The `nprobe` best-scoring cells of every query in `q` (which holds
    * query_id and q_emb): posexplode the score array, window rank on
    * the query relation only (small side — the corpus never sees this
    * shuffle), ties to the lower cell. Keeps `carry` plus `cell`. */
  private def probeCells(q: DataFrame, carry: Seq[Column], numCells: Int,
      nprobe: Int, dim: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cell").asc)
    q.select(carry :+
        posexplode(cellScores(col("q_emb"), numCells, dim)).as(Seq("cell", "score")): _*)
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(carry :+ col("cell"): _*)
  }

  /** Deterministic coarse-cell assignment: every corpus vector mapped to
    * its argmax spherical-score cell against the md5-derived codebook
    * (first index on score ties → lowest cell). One narrow pass — the
    * centroids are plan literals, so assignment never leaves the scan's
    * projection. Returns (vec_id, emb, nrm, cell); shared by
    * [[ivfKnnDeterministic]] and [[semDedup]]. */
  def assignCellsDeterministic(corpus: DataFrame, numCells: Int = 8,
      dim: Int = 64): DataFrame =
    corpusVectors(corpus)
      .withColumn("scores", cellScores(col("emb"), numCells, dim))
      .withColumn("cell", argmaxCell(col("scores")))
      .drop("scores")

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", public): semantic
    * near-duplicate pruning by clustering embeddings and comparing pairs
    * only WITHIN a cluster. Cells come from the deterministic md5
    * codebook ([[assignCellsDeterministic]]) so the whole decision — cell
    * argmax, pairwise cosine, threshold — is oracle-expressible. The
    * keep rule is the standard greedy one: a vector is dropped iff some
    * LOWER-id vector in its cell has cosine ≥ tau with it; `dup_of` is
    * the smallest such id (greedy, not transitive-closure: the kept
    * representative of a chain may itself point at a smaller neighbor).
    *
    * 100 TB shape: one narrow assignment pass, one shuffle on `cell`,
    * and a within-cell pair comparison whose cost is Σ|cell|²/2 — bounded
    * by making numCells PROPORTIONAL to corpus size (SemDeDup deploys
    * ~100k clusters at web scale), never all-pairs. Output is one row
    * per vector: (vec_id, cell, kept, dup_of with -1 sentinel for kept).
    */
  def semDedup(corpus: DataFrame, tau: Double, numCells: Int = 8,
      dim: Int = 64): DataFrame = {
    val a = assignCellsDeterministic(corpus, numCells, dim)
    val lo = a.select(col("cell"), col("vec_id").as("lo_id"),
      col("emb").as("lo_emb"), col("nrm").as("lo_nrm"))
    val hi = a.select(col("cell"), col("vec_id").as("hi_id"),
      col("emb").as("hi_emb"), col("nrm").as("hi_nrm"))
    val dropped = hi.join(lo, Seq("cell"))
      .filter(col("lo_id") < col("hi_id"))
      .withColumn("cos_sim",
        dot(col("lo_emb"), col("hi_emb")) / (col("lo_nrm") * col("hi_nrm")))
      .filter(col("cos_sim") >= lit(tau))
      .groupBy(col("hi_id").as("vec_id"))
      .agg(min("lo_id").as("dup_of"))
    a.select(col("vec_id"), col("cell"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dup_of").isNull.as("kept"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy("vec_id")
  }

  /** IVF ANN with a DETERMINISTIC codebook: the `numCells` coarse
    * centroids are md5-derived pseudo-random directions (plan
    * literals — no fit job, no model state, no engine-version
    * dependence), corpus vectors are assigned to their argmax
    * spherical-score cell in ONE NARROW pass (first index on score
    * ties → lowest cell), and each query probes its `nprobe`
    * best-scoring cells. Unlike [[ivfKnn]]'s KMeans quantizer this is
    * fully oracle-expressible — every score is a literal-centroid dot
    * DuckDB reproduces bit-for-bit — at the cost of data-agnostic
    * (rather than learned) cell boundaries.
    *
    * 100 TB shape: the only corpus shuffle is the join on `cell`; the
    * probe fanout (×nprobe) is query-side only and window-ranked on the
    * tiny query relation; centroid math never leaves the scan's
    * projection.
    */
  def ivfKnnDeterministic(corpus: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 8, nprobe: Int = 2, dim: Int = 64): DataFrame = {
    val c = assignCellsDeterministic(corpus, numCells, dim)
    val q = probeCells(queryVectors(queries),
      Seq(col("query_id"), col("q_emb"), col("q_nrm")), numCells, nprobe, dim)
    topK(c.join(q, Seq("cell")).filter(col("query_id") =!= col("vec_id")),
      col("vec_id").as("neighbor_id"), k)
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): compress each (L2-normalized) embedding
  // to PqSubspaces codes of log2(PqCodes) bits — 64-dim float vectors
  // (256 B) become 8 codes (8 B, 4 bits used per code). At 100 TB this
  // is what makes a second-pass ANN scan memory-bandwidth-cheap: the
  // corpus side of the scoring join carries codes only, and query↔code
  // distances resolve through a per-query lookup table (ADC — Jégou et
  // al. 2011, "Product quantization for nearest neighbor search",
  // public). The codebook is md5-derived (namespace "pq"), so encoding
  // and ADC scores are deterministic and fully oracle-expressible.
  // Vectors are normalized before encoding, which makes squared-L2 ADC
  // distance monotone in cosine (‖u−v‖² = 2−2cos) — consistent with the
  // cosine metric every other path in this module ranks by.
  // ------------------------------------------------------------------

  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodes = 16

  /** Codeword component: md5-drawn direction NORMALIZED driver-side to
    * ‖c‖ = 1/√PqSubspaces — the expected subvector norm of a unit
    * vector. Raw [-1,1) draws have norm ≈ √(8/3) ≈ 1.6 vs subvector
    * ≈ 0.35, and squared distance ‖x−c‖² = ‖x‖²−2x·c+‖c‖² is then
    * dominated by ‖c‖², so argmin collapses onto the few smallest-norm
    * codewords (the same degeneracy the q43b spherical quantizer fixed;
    * measured: ADC recall at chance). Components are doubles computed
    * once driver-side and emitted VERBATIM (Double.toString round-trips
    * exactly) into both the Spark plan and the oracle SQL, so parity
    * does not depend on the normalization's fold order. */
  private[graft] val pqCodebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    IndexedSeq.tabulate(PqSubspaces, PqCodes) { (s, k) =>
      val raw = (0 until PqSubDim).map(d => md5Scaled(s"pq$s|$k|$d").toDouble / 10000.0)
      val scale = 1.0 / (math.sqrt(raw.map(x => x * x).sum) *
        math.sqrt(PqSubspaces.toDouble))
      raw.map(_ * scale)
    }.map(_.toIndexedSeq)

  private[graft] def pqComponent(sub: Int, code: Int, d: Int): Double =
    pqCodebook(sub)(code)(d)

  /** Squared L2 norm of codeword (s,k) — a driver-side constant emitted
    * verbatim (Double.toString round-trips) into both the plan and the
    * oracle SQL, so its fold order is irrelevant to parity. */
  private[graft] def pqCodewordNorm2(s: Int, k: Int): Double =
    pqCodebook(s)(k).foldLeft(0.0)((a, x) => a + x * x)

  /** 16 squared-L2 distances of staged subvector `xs` (slice s of the
    * normalized embedding) to subspace s's codewords, via
    * ‖x−c‖² = (x·x − 2·x·c) + ‖c‖² with both dot products running
    * through the codegen'd ArrayDotProduct LOOP and ‖c‖² a literal.
    * The earlier per-term unroll (16 codes × 8 dims of (x_d−c_d)², ×8
    * subspaces in one projection) overflowed janino's 64 KB method
    * limit, dropping the whole stage out of codegen (11 compile
    * failures per sweep, the stage interpreted). `xn2` is the staged
    * x·x column — referenced by all 16 codes, computed once. */
  private def pqDistArray(xs: Column, xn2: Column, s: Int): Column =
    array((0 until PqCodes).map { k =>
      val cw = array(pqCodebook(s)(k).map(lit): _*)
      xn2 - lit(2.0) * dot(xs, cw) + lit(pqCodewordNorm2(s, k))
    }: _*)

  /** Query-side ADC table: `vec_id, qtab` where qtab is the flat
    * `PqSubspaces·PqCodes` distance table (index s·16+k) the ADC probe
    * `element_at(qtab, s·16 + code + 1)` reads. One fused codegen
    * kernel ([[graft.plans.PqDistTable]]): the composed [[pqStage]]
    * form COMPILED but its 128 unrolled literal dot products generated
    * a ~42.9 KB projection method — past HotSpot's 8 KB JIT ceiling,
    * so the table build ran bytecode-interpreted in q63/q73/q142
    * (r15 CodegenAudit's HUGE-METHOD residue). Bit-same arithmetic
    * (PqSpec pins element-exact parity with the composed form), so
    * ADC hashes are unchanged. */
  private[graft] def pqQueryTable(df: DataFrame, dim: Int = 64): DataFrame = {
    requirePqDim(dim)
    val tab = graft.plans.PqDistTable(
      asDouble(col("embedding")), pqCodebookFlat, pqNorms2Flat,
      PqSubspaces, PqCodes, PqSubDim)
    df.select(col("vec_id"), tab.as("qtab"))
  }

  private def requirePqDim(dim: Int): Unit =
    require(dim == PqSubspaces * PqSubDim,
      s"pq: dim $dim != ${PqSubspaces * PqSubDim}")

  /** Stage vec_id, normalized embedding, and the 8 per-subspace distance
    * arrays (d0..d7) in one narrow pass. Each non-cheap intermediate
    * (`ne`, the 8 slices, the 8 x·x norms) is staged in its own
    * projection and referenced many times downstream, so CollapseProject
    * keeps every one evaluated once per row.
    *
    * RETAINED AS THE COMPOSED REFERENCE ONLY: production paths build
    * the flat table via [[pqQueryTable]]'s fused kernel; PqSpec pins
    * `flatten(array(d0..d7))` of this form bit-equal to the kernel's
    * output, which is what makes the fusion hash-safe. */
  private[graft] def pqStage(df: DataFrame, dim: Int = 64): DataFrame = {
    requirePqDim(dim)
    corpusVectors(df)
      .withColumn("ne", transform(col("emb"), x => x / col("nrm")))
      .select(col("vec_id") +: col("ne") +:
        (0 until PqSubspaces).map(s =>
          slice(col("ne"), s * PqSubDim + 1, PqSubDim).as(s"xs$s")): _*)
      .select(col("vec_id") +: col("ne") +:
        (0 until PqSubspaces).flatMap(s => Seq(col(s"xs$s"),
          dot(col(s"xs$s"), col(s"xs$s")).as(s"xn2_$s"))): _*)
      .select(col("vec_id") +: col("ne") +:
        (0 until PqSubspaces).map(s =>
          pqDistArray(col(s"xs$s"), col(s"xn2_$s"), s).as(s"d$s")): _*)
  }

  /** PQ-encode a corpus: vec_id, codes (array<long>, length 8, each in
    * [0,16), argmin per subspace with lowest-code tie-break), and the
    * total squared reconstruction error. One narrow pass, no shuffle —
    * a single codegen'd kernel ([[graft.plans.PqEncode]]) rather than
    * the staged normalize/slice/dot/argmin chain, which ran on the HOF
    * interpreter at ~135 µs/row and dominated the ADC scan (bit-same
    * arithmetic, so q62/q63 hashes are unchanged). */
  def pqEncode(corpus: DataFrame, dim: Int = 64): DataFrame = {
    requirePqDim(dim)
    corpus.select(col("vec_id"), pqEncodeExpr(asDouble(col("embedding"))).as("__pq_enc"))
      .select(col("vec_id"), col("__pq_enc.codes").as("codes"),
        col("__pq_enc.recon_err").as("recon_err"))
  }

  /** Flattened [subspace][code][dim] / [subspace][code] codebook views
    * for the codegen kernel — same driver-side doubles as
    * [[pqCodebook]], emitted once as reference objects. */
  private[graft] lazy val pqCodebookFlat: Array[Double] =
    (for { s <- 0 until PqSubspaces; k <- 0 until PqCodes; d <- 0 until PqSubDim }
      yield pqCodebook(s)(k)(d)).toArray
  private[graft] lazy val pqNorms2Flat: Array[Double] =
    (for { s <- 0 until PqSubspaces; k <- 0 until PqCodes }
      yield pqCodewordNorm2(s, k)).toArray

  /** The [[graft.plans.PqEncode]] kernel over `emb`: struct(codes, recon_err). */
  private def pqEncodeExpr(emb: Column): Column =
    graft.plans.PqEncode(emb, pqCodebookFlat, pqNorms2Flat,
      PqSubspaces, PqCodes, PqSubDim)

  /** Approximate top-k via PQ asymmetric distance computation (ADC):
    * the corpus is its 8-byte codes; each query ships its 8×16 distance
    * table (broadcast — the corpus is never shuffled); the per-pair
    * score is 8 table lookups + 8 adds. Rank ascending ADC distance
    * (monotone in descending cosine on normalized vectors), ties by
    * neighbor_id. Deterministic end to end → oracle-checkable.
    *
    * With `rerank` > 0 this becomes the production two-stage shape:
    * ADC selects `rerank` candidates per query from the code-only scan,
    * then ONLY those |queries|·rerank pairs are scored with exact
    * cosines against the full vectors (output columns switch to
    * cos_sim). A 4-bit random codebook is a coarse quantizer — its
    * top-k alone has modest recall on near-orthogonal synthetic
    * vectors — but as a candidate filter + exact re-rank it keeps the
    * 100 TB scan memory-cheap while recovering most of brute-force's
    * answer (recall floor pinned in PqSpec). */
  def pqAdcKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               dim: Int = 64, rerank: Int = 0): DataFrame = {
    // The Exchange on the codes side is load-bearing: without it,
    // Catalyst fuses the whole encode chain (normalize HOF, 8 slices,
    // 24 dot products, 8 argmins) into the nested-loop join pipeline,
    // where it is re-evaluated per (corpus row × query) PAIR instead of
    // once per corpus row — measured 401 s vs 9 s on a 200k×100 scan.
    // The shuffle payload is vec_id + 8 codes (~24 B/row), i.e. the
    // compressed representation PQ exists to produce; a deployment
    // would persist pqEncode's output once and scan it here.
    val c = pqEncode(corpus, dim).select(col("vec_id"), col("codes"))
      .repartition(col("vec_id"))
    // Query side ships ONE flat 128-double table per query (subspace s,
    // code k at index s·16+k): a flat primitive-array lookup halves the
    // probe cost vs nested array<array<double>> element_at (measured
    // 8.6 s → 4.4 s on the same scan), and the fused kernel keeps the
    // table build inside JIT-compiled code (the composed form's 42.9 KB
    // method ran interpreted — r15 audit).
    val q = queryTables(queries, dim)
    val ranked = adcRanked(c.join(broadcast(q), col("query_id") =!= col("vec_id")))
    if (rerank <= 0)
      ranked.filter(col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    else exactRerank(ranked, rerank, corpus, queries, k)
  }

  /** (query_id, qtab): the per-query ADC lookup tables of [[pqQueryTable]]. */
  private def queryTables(queries: DataFrame, dim: Int): DataFrame =
    pqQueryTable(queries, dim).select(col("vec_id").as("query_id"), col("qtab"))

  /** ADC stage over (query_id, qtab) × (vec_id, codes) `pairs`: the
    * distance is 8 flat-table lookups + 8 adds, ranked ascending per
    * query with ties by neighbor_id. Emits (query_id, neighbor_id,
    * adc_dist, rank). */
  private def adcRanked(pairs: DataFrame): DataFrame = {
    val adc = (lit(0.0) +: (0 until PqSubspaces).map { s =>
      element_at(col("qtab"),
        lit(s * PqCodes) + element_at(col("codes"), s + 1).cast("int") + 1)
    }).reduce(_ + _)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    pairs
      .withColumn("adc_dist", adc)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_dist"))
      .withColumn("rank", row_number().over(wAdc).cast("long"))
  }

  /** Second stage of the PQ kernels: the `rerank` best ADC candidates
    * of each query, scored by exact cosine against the full vectors and
    * cut to k by [[topK]]. */
  private def exactRerank(adcRanked: DataFrame, rerank: Int, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val cand = adcRanked.filter(col("rank") <= rerank)
      .select("query_id", "neighbor_id")
    val cEmb = corpusVectors(corpus)
    // |queries|·rerank candidate ids are the small side by
    // construction — broadcast them so the full-vector corpus is
    // probed in place instead of shuffled into a sort-merge join
    topK(broadcast(cand)
        .join(cEmb, cand("neighbor_id") === cEmb("vec_id"))
        .join(broadcast(queryVectors(queries, "qid")), col("query_id") === col("qid")),
      col("neighbor_id"), k)
  }

  /** IVF+PQ: the production ANN index shape (FAISS-style IVFADC — Jégou
    * et al. 2011 §IV, public) composed from this module's two
    * deterministic pieces. The corpus pays ONE narrow pass computing
    * its coarse cell (argmax spherical score, [[ivfKnnDeterministic]]'s
    * quantizer) AND its 8-byte PQ codes ([[pqEncode]]'s codegen
    * kernel), then ships only (vec_id, cell, codes) — ~28 B/row.
    * Queries probe their `nprobe` best cells; the ADC scan joins
    * code-rows to queries ON THE CELL KEY, so it touches ~nprobe/
    * numCells of the corpus instead of all of it (q63's gain was
    * compressing the scan; this also SHRINKS it); exact cosine re-rank
    * then runs on |queries|·rerank pairs only. At 100 TB: a deployment
    * persists the (cell, codes) index once, the per-query cost is a
    * broadcast probe of the matching cell partitions — corpus is never
    * shuffled per query batch. Deterministic end to end (literal
    * centroids + md5 codebook) → fully oracle-expressible, unlike a
    * trained IVFPQ. With nprobe = numCells the gate passes everything
    * and the result equals [[pqAdcKnn]] at the same rerank — the
    * exactness law PqSpec pins. */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               numCells: Int = 8, nprobe: Int = 2, rerank: Int = 30,
               dim: Int = 64): DataFrame = {
    // cell + codes in ONE pass; the repartition is the same load-bearing
    // exchange as pqAdcKnn's (without it the encode chain fuses into the
    // join and re-evaluates per pair)
    val c = ivfPqIndex(corpus, numCells, dim).repartition(col("vec_id"))
    ivfPqKnnIndexed(c, corpus, queries, k, numCells, nprobe, rerank, dim,
      pruneCells = false)
  }

  /** The IVF+PQ index ARTIFACT: one `(vec_id, cell, codes)` row per
    * corpus vector — the coarse cell (argmax spherical score) and the
    * 8-byte PQ codes computed in ONE narrow pass, ~28 B/row. This is
    * the build-once half of the build-once/query-many split every
    * ivfPqKnn scaladoc promises: a deployment materializes THIS frame,
    * not the raw vectors, and every query batch scans it instead of
    * re-encoding the corpus. */
  def ivfPqIndex(corpus: DataFrame, numCells: Int = 8, dim: Int = 64): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("scores", cellScores(col("emb"), numCells, dim))
      .select(col("vec_id"), argmaxCell(col("scores")).as("cell"),
        pqEncodeExpr(col("emb")).as("__pq_enc"))
      .select(col("vec_id"), col("cell"), col("__pq_enc.codes").as("codes"))

  /** Persist the IVF+PQ index, PARTITIONED BY CELL: each coarse cell is
    * its own parquet partition directory, so an indexed query that
    * probes `nprobe` of `numCells` cells reads exactly that fraction of
    * the index files (partition pruning at the scan — the physical
    * reason an IVF index exists). Codes are encoded once, here; queries
    * never touch the raw vectors except for the final exact re-rank. */
  def ivfPqIndexWrite(corpus: DataFrame, path: String,
                      numCells: Int = 8, dim: Int = 64): Unit =
    ivfPqIndex(corpus, numCells, dim)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Read a persisted [[ivfPqIndexWrite]] artifact. Plain
    * `spark.read.parquet`, not `Tables.parquet`: the `cell=` directories
    * need Spark's partition discovery. */
  def ivfPqIndexRead(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("codes"))

  /** IVF+PQ kNN over a PRE-BUILT `(vec_id, cell, codes)` index — the
    * query-many half: identical results to [[ivfPqKnn]] (PqSpec pins
    * the law), but the corpus-encode pass is gone; the scan cost is a
    * function of the INDEX, not of how it was built. `corpus` supplies
    * raw vectors only for the |queries|·rerank exact re-rank pairs.
    * With `pruneCells` (the persisted-index path) the ≤ numCells probed
    * cell ids — a bounded artifact, the CMS/bloom collect discipline —
    * become a literal IN-filter on the index scan, so a partitionBy-
    * cell parquet index prunes unprobed partitions at the file level. */
  def ivfPqKnnIndexed(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                      k: Int, numCells: Int = 8, nprobe: Int = 2,
                      rerank: Int = 30, dim: Int = 64,
                      pruneCells: Boolean = true): DataFrame = {
    val probes = probeCells(
      queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb")),
      Seq(col("query_id")), numCells, nprobe, dim)
    val q = probes.join(queryTables(queries, dim), "query_id") // both tiny: |queries|·nprobe rows
    val c =
      if (!pruneCells) index
      else {
        // ≤ numCells ints: the bounded-artifact collect that turns the
        // probe set into a static partition filter on the index scan.
        // Cast defensively: a hand-read index parquet may carry cell as
        // long/short, which would otherwise CCE at getInt
        val probed = probes.select(col("cell").cast("int")).distinct()
          .collect().map(_.getInt(0)).toSeq
        index.filter(col("cell").isin(probed: _*))
      }
    exactRerank(
      adcRanked(c.join(broadcast(q), Seq("cell")).filter(col("query_id") =!= col("vec_id"))),
      rerank, corpus, queries, k)
  }

  /** The two-stage bucket cap: keep the `cap` lowest `vec_id` rows of
    * every (t, s) bucket with Spark's `WindowGroupLimit`, which the
    * planner splits into a `Partial` pass within each INPUT partition
    * (a partition-local sort, then the per-group limit) below the
    * exchange and a `Final` pass above it. Partial output per
    * partition per bucket is ≤ cap, so no task after the exchange
    * receives more than numPartitions·cap rows of a bucket even when
    * one hot bucket holds the whole corpus. Each globally cap-lowest
    * id is its own partition's lowest, so the Partial pass keeps a
    * superset of the survivors and the result is bit-identical to the
    * window alone. */
  private[graft] def partialBucketCap(cAll: DataFrame, cap: Int): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.windowGroupLimit(
      cAll, Seq("t", "s"), "vec_id", cap)

  /** Approximate top-k: bucket corpus and queries by sign-LSH signature,
    * rank only within the shared bucket. One shuffle on the signature —
    * the scale path when |queries| is large. Recall < 1 by construction;
    * callers wanting guarantees multi-probe (union over several `bits`
    * prefixes) or fall back to [[bruteForceKnn]].
    *
    * @param multiProbe when true, each query also probes every bucket
    *   at Hamming distance 1 from its own signature (bits+1 probes per
    *   table) — the standard recall lift that costs query-side fanout
    *   instead of a second corpus pass. The corpus is still bucketed
    *   ONCE per table.
    * @param tables number of independent hash tables (the LSH
    *   OR-construction): one `tables·bits`-plane signature is computed
    *   per vector and sliced into `tables` disjoint `bits`-bit keys; a
    *   candidate matches if ANY table's key matches. Recall rises like
    *   1−(1−p^bits)^tables at the cost of shuffling the corpus `tables`
    *   times — the classic L-tables trade (Indyk–Motwani; measured on
    *   the synthetic corpus: 1×4 bits ⇒ 12/100 true top-5 pairs
    *   reachable at sf0.1, 8×4 bits ⇒ 68/100).
    * @param dim embedding dimensionality; a mismatch fails loudly (see
    *   [[lshSignature]]) instead of silently degrading.
    * @param bucketCap when set, each (table, bucket) keeps only its
    *   `cap` lowest-`vec_id` corpus rows before the probe join — the
    *   skew backstop. Without it a duplicate-heavy corpus (the
    *   realistic pre-dedup crawl shape: identical vectors share every
    *   signature slice) piles its copies into ONE bucket, the per-query
    *   candidate set grows linearly with the hot bucket, and the join
    *   output goes quadratic — measured in the r14 crossover as the
    *   family's only adverse row (q42 at 100x: 2.07x DuckDB). The cap
    *   bounds candidates at |Q|·tables·cap rows regardless of skew.
    *   Keep-lowest-`vec_id` (not a hash order) is deliberate: every
    *   exact ranker here breaks cosine ties by `neighbor_id` ASC, so
    *   under exact duplication the capped bucket retains precisely the
    *   copies brute force would rank first and recall is unharmed
    *   until the cap is crossed `k` copies deep. The ranking costs one
    *   sort per bucket (O(B log B)) on the exchange the probe join
    *   already needs; at real scale the primary knob is still `bits`
    *   (smaller buckets), the cap is the guarantee. */
  def signLshKnn(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
                 multiProbe: Boolean = false, dim: Int = 64,
                 tables: Int = 1, bucketCap: Option[Int] = None): DataFrame = {
    require(tables >= 1 && tables * bits <= 63,
      s"signLshKnn: tables*bits must fit a long, got $tables x $bits")
    require(bucketCap.forall(_ >= 1),
      s"signLshKnn: bucketCap must be >= 1, got $bucketCap")
    val slice = (sig: Column, t: Int) =>
      if (tables == 1) sig
      else shiftright(sig, t * bits).mod(lit(1L << bits))
    val c0 = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("sigAll", lshSignature(col("emb"), tables * bits, dim))
      .withColumn("nrm", l2Norm(col("emb")))
    val cAll = c0
      .withColumn("ts", explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), slice(col("sigAll"), t).as("s"))): _*)))
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("ts.t").as("t"), col("ts.s").as("s"))
    val c = bucketCap match {
      case None => cAll
      case Some(cap) =>
        // rank within (t, s) and keep the cap lowest vec_ids. The
        // window shuffles the exploded corpus once (the uncapped path
        // never shuffles — its probe side broadcasts); ranking on the
        // wide rows, not a skinny id projection, is deliberate: a
        // skinny branch would reference the signature subtree twice,
        // and the tables·bits-plane signature is a ~dim·tables·bits-
        // term codegen'd expression whose second compile+compute
        // dominated the measured A/B (23.9 s vs 3.4 s cold at sf0.01).
        // row_number, not rank: vec_id is unique, no ties.
        //
        // TWO-STAGE (r16): the window alone routes an ENTIRE hot
        // bucket through one task before discarding — under an
        // adversarial all-duplicate corpus that task's input grows
        // linearly with the corpus. partialBucketCap first keeps each
        // partition's cap lowest vec_ids per (t, s) BEFORE the
        // window's exchange (the map-side-combine shape of partial
        // aggregation), so no window task receives more than
        // numPartitions·cap rows for any bucket. Bit-identical: every
        // globally cap-lowest id is among its own partition's cap
        // lowest, so the window sees a superset of the survivors and
        // keeps exactly the same set (SimilaritySpec pins both).
        val wB = Window.partitionBy("t", "s").orderBy(col("vec_id").asc)
        partialBucketCap(cAll, cap)
          .withColumn("bn", row_number().over(wB))
          .filter(col("bn") <= cap).drop("bn")
    }
    val qBase = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("sigAll", lshSignature(col("q_emb"), tables * bits, dim))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
    val q = qBase
      .withColumn("ts", explode(array((for {
        t <- 0 until tables
        probe <- if (!multiProbe) Seq(slice(col("sigAll"), t))
          else slice(col("sigAll"), t) +: (0 until bits).map(b =>
            slice(col("sigAll"), t).bitwiseXOR(lit(1L << b)))
      } yield struct(lit(t).as("t"), probe.as("s"))): _*)))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("ts.t").as("t"), col("ts.s").as("s"))
    val joined = c.join(q, Seq("t", "s"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), col("emb"), col("nrm"))
    // single-table: no dedup needed — each corpus vector has exactly
    // ONE key and the probe values {s} ∪ {s^2^b} are pairwise
    // distinct, so a (query, neighbor) pair matches at most one probe
    // row; a dropDuplicates would be a pure no-op shuffle on the ANN
    // hot path. Multi-table: a pair CAN match in several tables and
    // must rank once — the deduped rows are identical in every column
    // (both sides derived from the ids), so which one survives is
    // immaterial.
    val once =
      if (tables == 1) joined
      else joined.dropDuplicates("query_id", "neighbor_id")
    topK(once, col("neighbor_id"), k)
  }
}
