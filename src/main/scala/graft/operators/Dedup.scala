package graft.operators

import graft.Checkpoints._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication operators — the distributed forms a 100 TB
  * training-data pipeline needs. All hashing is md5-derived and
  * engine-portable, so candidate generation is reproducible (and, for
  * the md5 variants, oracle-checkable in DuckDB).
  *
  * Scale shape of [[minhashNearDups]]: signatures are one narrow pass
  * over documents (no shuffle); banding explodes to `bands` rows/doc and
  * groups by (band, signature) — a shuffle whose payload is ~32 bytes ×
  * bands per document, NOT the document text; candidate pairs then join
  * back to shingle sets only for the (rare) colliding ids. This is the
  * standard shuffle-light LSH join: the full-text crossJoin never
  * happens.
  */
object Dedup {

  /** Exact dedup: canonical id per identical (normalized) text. */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("copies"))

  /** (doc_id, shingles) projection used by the MinHash path. */
  def shingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), shingles(whitespaceTokens(col("text")), k).as("sh"))

  /** (doc_id, sh, hs) projection: shingles plus their 32-bit base
    * hashes. The md5-per-shingle pass is the dominant per-row cost of
    * the MinHash path, so callers materialize THIS frame (not just the
    * shingles) — every downstream consumer (banding on both sides of
    * the LSH self-join, signature queries) then shares one md5 pass. */
  def hashedShingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    shingleSets(docs, k).filter(size(col("sh")) > 0)
      .withColumn("hs", tokenHashes(col("sh")))

  /** Shared LSH banding: (doc_id, band, sig) rows from a (doc_id, hs)
    * frame with precomputed token hashes — ONE definition of the
    * banding scheme for both the pair and canonicalize paths. */
  private def bandedSignatures(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sh.withColumn("mh", minhashFromHashes(col("hs"), numHashes))
      .select(col("doc_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws("_", (0 until rows).map(r =>
              element_at(col("mh"), b * rows + r + 1)): _*).as("sig"))
        }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * PAIR OUTPUT IS QUADRATIC IN CLUSTER SIZE (a bucket of m members
    * emits m·(m-1)/2 candidates — measured 27M pairs on a 100×-
    * duplicated 5k corpus). `maxBucketSize` gates that blow-up: buckets
    * with more members are skipped entirely, because a bucket that
    * large is a degenerate signature (boilerplate shingles) whose pairs
    * are better answered by [[minhashCanonicalize]] — the linear-output
    * scale form. The default (1000) caps any single bucket at ~500k
    * candidate pairs; it cannot be disabled silently, only raised.
    *
    * @param numHashes total minhash functions (k)
    * @param bands     number of LSH bands; rows per band = k / bands
    * @param threshold exact-Jaccard verification floor applied to
    *                  candidates (set 0 to see raw candidates)
    * @param maxBucketSize skip LSH buckets with more members than this
    * Output: id_a < id_b, jaccard.
    */
  def minhashNearDups(docs: DataFrame, numHashes: Int = 8, bands: Int = 4,
                      threshold: Double = 0.8, shingleK: Int = 3,
                      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucketSize >= 2, "maxBucketSize must allow at least a pair")
    // the shingle frame is consumed four times (banding on both sides of
    // the self-join + both sides of the verification join) — materialize
    // it once via localCheckpoint rather than cache(): checkpoint blocks
    // are reference-counted by the ContextCleaner and freed when the
    // frame is GC'd, so repeated calls in a long-lived session can't
    // accumulate storage memory (cache() would leak until someone ran
    // clearCache). The checkpoint carries ONLY the distinct 32-bit
    // shingle-hash SET per doc: the md5 pass runs once, and the shingle
    // STRINGS never leave the scan — the verification join below ships
    // 8-byte hashes instead of ~30-byte shingle strings, a ~4× payload
    // cut on the quadratic pair join that dominates the 100× sweep
    // (Jaccard over the hash sets equals Jaccard over the string sets
    // whenever the 32-bit hashes don't collide within the pair's union;
    // the oracle applies the IDENTICAL hash-set form, so both engines
    // agree exactly, collisions included). At 100 TB the same shape
    // becomes a reliable checkpoint to distributed storage. Measured on
    // q40 at sf0.1 (median of 3 runs, each the min of 6): 1.42 s with
    // the checkpoint, 1.70 s without.
    val sh = hashedShingleSets(docs, shingleK)
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"))
      .localCheckpointAudited()
    // bucket-size gate: one window count over the same (band, sig)
    // shuffle the self-join needs anyway — no extra pass over documents.
    // Checkpointed because the self-join consumes it twice: the rows are
    // tiny (id, band, sig), so materializing once beats re-running the
    // minhash + window shuffle per join side (q40 at sf0.1, median of 3
    // runs, each the min of 6: 1.32 s with it, 1.43 s without).
    val banded = bandedSignatures(sh, numHashes, bands)
      .withColumn("__bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")))
      .filter(col("__bn") <= maxBucketSize)
      .drop("__bn")
      .localCheckpointAudited()

    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      // single evaluation per pair (r19, same barrier as FuzzyJoin): a
      // plain withColumn + filter gets the threshold predicate pushed
      // into the join condition with BOTH set ops substituted, so the
      // intersect+union pair ran once per candidate in the condition
      // plus again per surviving row. A filter on a generator output
      // cannot be substituted through the Generate, so the one
      // evaluation feeds both. The value and the double comparison are
      // unchanged (same expression, same rounding).
      .select(col("id_a"), col("id_b"),
        explode(array(
          size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
            size(array_union(col("hs_a"), col("hs_b"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash near-dup CANONICALIZATION — the scale form of near-dup
    * output. [[minhashNearDups]] enumerates pairs, whose count is
    * quadratic in duplicate-cluster size (measured: a 100×-duplicated
    * 5k corpus yields 27M pairs). Training-data dedup wants the linear
    * answer instead: doc_id → canonical_id. Label propagation over the
    * LSH buckets: every doc starts as its own canonical; each round,
    * buckets take the min label of their members and docs take the min
    * label of their buckets. Rounds are O(iterations) joins shuffling
    * only (id, label) pairs; exact-duplicate clusters converge in one
    * round (they share every bucket), chains need more.
    */
  def minhashCanonicalize(docs: DataFrame, numHashes: Int = 8, bands: Int = 4,
                          shingleK: Int = 3, iterations: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // One banding pass, materialized eagerly: the propagation loop
    // consumes it 2× per round, and without lineage truncation the final
    // action replays a (2×iterations)-shuffle DAG in one AQE-replanned
    // job (measured 20s at sf0.1 — round 1's worst query). Pre-
    // partitioned by doc_id so the per-round label join reuses the
    // layout instead of re-shuffling banded every round; checkpoint
    // blocks free on GC (no clearCache convention needed). Iterative
    // label propagation checkpoints each round for the same reason —
    // the standard Pregel-style discipline.
    val banded = bandedSignatures(hashedShingleSets(docs, shingleK), numHashes, bands)
      .repartition(col("doc_id"))
      .localCheckpointAudited()

    // r19: round 1 used to join an IDENTITY label frame
    // (canonical_id = doc_id, one distinct + one localCheckpoint job) —
    // a no-op join, since min(canonical_id) over identity labels is
    // min(doc_id). Fold it away: round 1's bucket minimum aggregates
    // banded directly, its convergence check is a plain
    // canonical≠doc_id filter (no join), and the identity frame is
    // never materialized. One fewer eager checkpoint job and one fewer
    // join per call (q45/q99/q113 all pay it); labels after round 1 are
    // bit-identical by construction.
    var labels: DataFrame =
      if (iterations > 0) null
      else banded.select("doc_id").distinct()
        .withColumn("canonical_id", col("doc_id"))
    var round = 0
    var converged = false
    while (round < iterations && !converged) {
      val bucketMin =
        if (round == 0) banded.groupBy("band", "sig")
          .agg(min("doc_id").as("bucket_min"))
        else banded.join(labels, "doc_id")
          .groupBy("band", "sig")
          .agg(min("canonical_id").as("bucket_min"))
      val next = banded.join(bucketMin, Seq("band", "sig"))
        .groupBy("doc_id")
        .agg(min("bucket_min").as("canonical_id"))
        // truncates each round's lineage: the 20 s replay noted above
        .localCheckpointAudited()
      // labels only ever decrease, so a round that changes nothing makes
      // every later round the identity — exact-dup clusters converge in
      // round 1 and the remaining rounds are pure waste without this.
      // The check is one narrow filter (round 1: against the identity
      // labeling) or join over two checkpointed (id, label) frames —
      // far cheaper than a wasted propagation round. After the FINAL
      // round the loop exits regardless, so the check job is skipped
      // there.
      converged = round + 1 < iterations && {
        if (round == 0)
          next.filter(col("canonical_id") =!= col("doc_id")).isEmpty
        else
          next.join(labels.withColumnRenamed("canonical_id", "prev"), "doc_id")
            .filter(col("canonical_id") =!= col("prev"))
            .isEmpty
      }
      labels = next
      round += 1
    }
    // docs too short to shingle never enter a bucket — they are their
    // own canonical, and must still appear in the complete labeling
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
  }

  /** SimHash near-dup candidates: identical 32-bit simhash over distinct
    * tokens. (Hamming-radius>0 probing would union rotations; radius 0
    * keeps the query oracle-simple.) */
  def simhashClusters(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        transform(array_distinct(whitespaceTokens(col("text"))),
          t => md5Hash60(t)).as("hs"))
      .select(col("doc_id"), simhashFromHashes(col("hs")).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("cluster_size"), min("doc_id").as("canonical_id"))

  /** Embedding-cosine near-dup pairs over LSH buckets. Pairs are
    * canonicalized (least, greatest) THEN deduplicated, so a pair found
    * from either endpoint's kNN survives — filtering one orientation
    * first would drop pairs inside dup-clusters larger than k (a
    * cluster of c identical vectors needs k >= c-1 for full recovery;
    * that bound is the caller's `k` knob, not a hardcoded constant). */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double = 0.95,
                        bits: Int = 8, k: Int = 10, dim: Int = 64): DataFrame =
    Similarity.signLshKnn(embeddings, embeddings, k = k, bits = bits, dim = dim)
      .filter(col("cos_sim") >= threshold)
      .select(
        least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"),
        col("cos_sim"))
      .groupBy("id_a", "id_b")
      .agg(max("cos_sim").as("cos_sim"))
}
