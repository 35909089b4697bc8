package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import scala.collection.mutable

/** General graph primitives. The dedup pipeline's canonicalization
  * (Dedup.minhashCanonicalize) is min-label propagation specialized to
  * LSH-bucket cliques; this is the same kernel over an ARBITRARY edge
  * list, exposed as a first-class operator for entity graphs
  * (co-purchase, co-citation, shared-identifier resolution).
  *
  * Execution substrate (round-9). Two deliberate departures from the
  * per-round DataFrame loop, each measured before it was made:
  *
  * 1. The ITERATION LOOPS run on co-partitioned pair-RDDs — the same
  *    choice Spark's own GraphX Pregel makes: a K-round DataFrame loop
  *    re-runs analysis, optimization, and whole-stage codegen K times
  *    and pays a materializing job per round to truncate lineage
  *    (~0.3-0.4 s of session constants per round at sf0.1,
  *    `git show 88ba917:PAIRING_r08.json`: pageRank 8.4× DuckDB warm
  *    with plans already exchange-minimal).
  *    The RDD loop keeps the exact distributed shape — every round is
  *    ONE co-partitioned narrow join + one map-side-combined
  *    reduceByKey shuffle on a fixed HashPartitioner — and the fixed-
  *    iteration kernels fuse ALL rounds into the single job the
  *    caller's action runs.
  *
  * 2. A SMALL-GRAPH FAST PATH, switched on the measured edge count the
  *    loop needs anyway to size its partitioner: below
  *    [[SmallGraphEdgeThreshold]] the kernel runs inside one
  *    mapPartitions task over the coalesced edge list — identical
  *    integer semantics (union-find min-labels, queue BFS, the same
  *    scaled-integer PageRank update, the same oriented wedge count),
  *    just without paying distributed-shuffle machinery for a graph
  *    that fits in one task's memory. This is the broadcast-join
  *    switch applied to iteration: measured floor for ONE tiny
  *    one-shuffle RDD job in this session is ~0.1 s, so a 9-round
  *    fixpoint on a 4k-edge graph can never beat ~1 s distributed
  *    while the in-task form finishes in milliseconds. Both paths are
  *    spec-pinned to produce EQUAL results (GraphSpec exercises the
  *    distributed path explicitly through the threshold seam).
  *
  * Node ids are LONGS, the same contract as GraphX's VertexId: callers
  * with string keys dictionary-encode first (the standard practice
  * this mirrors). Results return as DataFrames, so everything
  * downstream stays Catalyst.
  */
object Graph {

  /** Edge count at or below which a kernel runs in one task instead of
    * as a distributed round loop. The in-task kernels materialize BOXED
    * structures — Tuple2 arrays (~60-80 B/edge), adjacency hash maps,
    * and (for triangles) an oriented-edge HashSet — so the realistic
    * footprint is ~10× the raw 16 B/edge: 1M symmetric edges ≈
    * 100-200 MB in one task, a safe ceiling at any sane executor size
    * where the previous 5M default could reach 1 GB and OOM a task the
    * operator auto-selected. A DynamicVariable (not a global var) is
    * the test/bench seam: GraphSpec and ScaleBench pin the distributed
    * path via `withValue(-1L)`, scoped and thread-safe, so concurrent
    * graph queries can never observe a torn save/restore. */
  private[graft] val SmallGraphEdgeThreshold =
    new scala.util.DynamicVariable[Long](1000000L)

  private val IntegralTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** The SQL half of every kernel: the validated (src, dst) long
    * projection — fails loudly on non-integral node columns (a silent
    * cast would null-out string keys). Kept as a DataFrame (not
    * consumed straight into the RDD) so the RDD→DataFrame boundary
    * below can register it for
    * graft.CodegenAudit — without that, the result's scan leaf hides
    * the entire scan+join+filter pipeline feeding the kernel (exactly
    * the gap the r16 ADVICE predicted for ExternalRDDScanExec; live
    * in all four graph catalog queries until r17). */
  private def edgeProj(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    Seq(srcCol, dstCol).foreach { c =>
      val dt = edges.schema(c).dataType
      require(IntegralTypes.contains(dt),
        s"Graph: node column '$c' must be integral (got $dt); " +
          "dictionary-encode string keys first (GraphX VertexId contract)")
    }
    edges.select(col(srcCol).cast(LongType), col(dstCol).cast(LongType))
  }

  private def edgeRdd(proj: DataFrame): RDD[(Long, Long)] =
    proj.rdd.map(r => (r.getLong(0), r.getLong(1)))

  /** (Long, Long) kernel result → DataFrame through the AUDITED
    * boundary: same plan as `result.toDF(c1, c2)` (one scan leaf over
    * the kernel RDD), but the SQL pipelines that fed the kernel are
    * registered so the codegen round-gate covers them. */
  private def longPairDF(sources: Seq[DataFrame], result: RDD[(Long, Long)],
                         c1: String, c2: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    org.apache.spark.sql.GraftSqlBridge.createDataFrameAudited(
      sources, result.map(t => Row(t._1, t._2)),
      StructType(Seq(StructField(c1, LongType, nullable = false),
        StructField(c2, LongType, nullable = false))))
  }

  /** Round-loop partition sizing for the DISTRIBUTED path (which only
    * runs above [[SmallGraphEdgeThreshold]], or when a measurement
    * forces it): at least the source frame's planned width — at cluster
    * scale the loop inherits the cluster's parallelism — growing past
    * it at ~1M edges per partition so giant graphs keep partitions
    * bounded in size. (Graphs small enough that fewer partitions would
    * be the right call never reach this: the small-graph path takes
    * them in one task.) */
  private val EdgesPerPartition = 1000000L

  private def sizedPartitioner(edgeCount: Long, scaleHint: Int): HashPartitioner = {
    val wanted = ((edgeCount + EdgesPerPartition - 1) / EdgesPerPartition).toInt
    new HashPartitioner(math.max(math.max(1, scaleHint), wanted))
  }

  /** Symmetric, deduped adjacency RDD with its measured edge count and
    * the source's width hint. NOT yet re-partitioned: the small path
    * coalesces the distinct's own shuffle output straight into one
    * task, and the distributed path partitions on [[sizedPartitioner]]
    * — deciding after the count avoids a wasted exchange either way
    * (the counting job's shuffle files are reused by whichever
    * materialization follows). */
  private def undirected(e: RDD[(Long, Long)]): (RDD[(Long, Long)], Long, Int) = {
    val hint = math.max(1, e.getNumPartitions)
    val raw = e.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      .distinct(hint)
    (raw, raw.count(), hint)
  }

  // ------------------------------------------------- connected components

  /** Connected components of the undirected graph given as an edge
    * list: one row per node that appears in an edge, labeled with its
    * component id = the MINIMUM node id in its component (deterministic,
    * engine-independent). Isolated nodes never enter an edge list —
    * callers wanting them keep-all left-join the result and coalesce to
    * the node's own id (the same convention as canonicalize's
    * too-short-to-shingle docs).
    *
    * At scale: min-label propagation, one round = each node takes the
    * min of its own and its neighbors' labels, converging in
    * O(diameter) rounds; each round is one narrow join against the
    * cached co-partitioned adjacency plus one map-side-combined
    * reduceByKey (the round's single shuffle), materialized by a count
    * whose accumulator carries the changed-label tally. Convergence is
    * checked EVERY round and an unconverged exit fails loudly: the
    * result is only the true component labeling at the fixpoint.
    * Below the threshold: one-task union-find with min-id roots — the
    * same fixpoint, exactly. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIterations: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val proj = edgeProj(edges, srcCol, dstCol)
    val (raw, m, hint) = undirected(edgeRdd(proj))

    val result: RDD[(Long, Long)] =
      if (m <= SmallGraphEdgeThreshold.value) {
        raw.coalesce(1).mapPartitions { it =>
          // union-find with MIN-ID ROOTS: union always hangs the larger
          // root under the smaller, so each component's final root IS
          // its minimum node id — the propagation fixpoint, exactly
          val parent = mutable.HashMap.empty[Long, Long]
          def find(x0: Long): Long = {
            var x = x0
            while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
            x
          }
          it.foreach { case (s, d) =>
            if (!parent.contains(s)) parent(s) = s
            if (!parent.contains(d)) parent(d) = d
            val rs = find(s); val rd = find(d)
            if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
          }
          val nodes = parent.keys.toArray
          nodes.iterator.map(n => (n, find(n)))
        }
      } else {
        val part = sizedPartitioner(m, hint)
        val und = raw.partitionBy(part).cache()
        var labels: RDD[(Long, Long)] = und.keys.distinct(part.numPartitions)
          .map(n => (n, n)).partitionBy(part).cache()
        var round = 0
        var converged = false
        while (round < maxIterations && !converged) {
          val changed = sc.longAccumulator(s"cc_changed_$round")
          val nbrMin = und.join(labels)
            .map { case (_, (dst, comp)) => (dst, comp) }
            .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
          val next = labels.join(nbrMin) // narrow: same partitioner both sides
            .mapValues { case (own, nm) =>
              if (nm < own) { changed.add(1L); nm } else own }
            .cache()
          next.count() // materializes the round; fills the accumulator
          labels.unpersist(blocking = false)
          labels = next
          converged = changed.value == 0L
          round += 1
        }
        require(converged,
          s"connectedComponents: not converged after $maxIterations rounds " +
            "(graph diameter exceeds maxIterations)")
        labels
      }
    longPairDF(Seq(proj), result, "node", "component")
  }

  // --------------------------------------------------------- BFS levels

  /** BFS levels from a source set over the undirected graph: one row
    * per node reachable within `maxRounds` hops, labeled with its true
    * shortest-path distance (BFS discovers every node first at its
    * minimum level); unreachable-but-seeded nodes keep their level-0
    * row. The round cap bounds level ≤ maxRounds — the SAME cap the
    * recursive-SQL oracle twin states, so both engines cut the
    * frontier identically on high-diameter graphs.
    *
    * At scale: frontier expansion Pregel-style — per round one narrow
    * join against the cached co-partitioned adjacency, one reduceByKey
    * dedup of the discovered set (the round's single shuffle), and one
    * narrow subtractByKey against the co-partitioned seen set; the
    * empty-frontier exit makes post-diameter rounds free. Below the
    * threshold: one-task queue BFS over the same adjacency. */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                sources: DataFrame, maxRounds: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    val proj = edgeProj(edges, srcCol, dstCol)
    val (raw, m, hint) = undirected(edgeRdd(proj))
    val srcType = sources.schema("node").dataType
    require(IntegralTypes.contains(srcType),
      s"Graph.bfsLevels: source node column must be integral (got $srcType)")
    val srcProj = sources.select(col("node").cast(LongType))
    val srcRdd = srcProj.rdd.map(_.getLong(0))

    val result: RDD[(Long, Long)] =
      if (m <= SmallGraphEdgeThreshold.value) {
        raw.coalesce(1).zipPartitions(srcRdd.coalesce(1)) { (eIt, sIt) =>
          val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
          eIt.foreach { case (s, d) =>
            adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d }
          val level = mutable.HashMap.empty[Long, Long]
          var frontier = mutable.ArrayBuffer.empty[Long]
          sIt.foreach { s =>
            if (!level.contains(s)) { level(s) = 0L; frontier += s } }
          var round = 0L
          while (round < maxRounds && frontier.nonEmpty) {
            round += 1
            val next = mutable.ArrayBuffer.empty[Long]
            frontier.foreach { n =>
              adj.get(n).foreach(_.foreach { d =>
                if (!level.contains(d)) { level(d) = round; next += d } })
            }
            frontier = next
          }
          level.iterator
        }
      } else {
        val part = sizedPartitioner(m, hint)
        val und = raw.partitionBy(part).cache()
        val l0: RDD[(Long, Long)] = srcRdd.map(n => (n, 0L))
          .reduceByKey(part, (a, _) => a) // dedup seeds, co-partition
          .cache()
        var frames = List(l0)
        var frontier = l0
        // seen = union of the cached per-level frames; all share `part`,
        // so Spark builds a PartitionerAwareUnion and the subtract stays
        // narrow
        var seen: RDD[(Long, Long)] = l0
        var round = 0L
        var done = false
        while (round < maxRounds && !done) {
          round += 1
          val lvl = round
          val next = und.join(frontier)                    // narrow
            .map { case (_, (dst, _)) => (dst, lvl) }
            .reduceByKey(part, (a, _) => a)                // the round's shuffle
            .subtractByKey(seen, part)                     // narrow (co-partitioned)
            .cache()
          if (next.count() == 0L) done = true
          else {
            frames = frames :+ next
            seen = seen.union(next)
            frontier = next
          }
        }
        frames.reduce(_ union _)
      }
    longPairDF(Seq(proj, srcProj), result, "node", "level")
  }

  // ----------------------------------------------------------- PageRank

  /** Fixed-iteration PageRank in scaled-INTEGER arithmetic (Page et al.
    * 1999, the public PageRank paper — damping 0.85, uniform teleport).
    *
    * Ranks are longs in millionths: rank0 = 1_000_000 per node; each
    * round every node sends `rank DIV degree` to each neighbor and
    * resets to `150_000 + (85 × Σ incoming) DIV 100`. Integer division
    * sheds sub-millionth mass — a DECLARED semantic, not an
    * approximation bug: it makes every round exact and order-independent
    * (long sums commute), so a DuckDB oracle reproduces the result
    * bit-for-bit where a float PageRank would drift by fold order.
    * Ranking quality is unaffected at this scale (ulp-level mass loss).
    *
    * At scale: the degree-annotated out-edge list is staged ONCE on the
    * fixed partitioner; each round is one narrow join against it plus
    * one map-side-combined reduceByKey (the round's only shuffle) and a
    * narrow leftOuterJoin for dangling receivers. Because the loop is
    * fixed-iteration (no convergence test), NOTHING materializes per
    * round: all K rounds fuse into the single job the caller's action
    * runs — K shuffles, one job, lineage depth bounded by K. Below the
    * threshold: the same update rule over in-task hash maps. Long
    * overflow bound: 85 × Σ ranks ≤ 85 × n × 10⁶ stays inside 2⁶³ up
    * to n ≈ 10¹¹ nodes. Callers pass SYMMETRIC or already-directed
    * edges — or one-per-pair edges with `symmetrize = true`, which
    * mirrors+dedupes INSIDE the operator (fused with the sizing count,
    * so the caller sheds a whole DataFrame union+distinct exchange);
    * every node that appears as a src has degree ≥ 1 (dangling mass
    * simply evaporates, mirrored exactly in the oracle). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, symmetrize: Boolean = false): DataFrame = {
    val proj = edgeProj(edges, srcCol, dstCol)
    val raw = edgeRdd(proj)
    val eC = (if (symmetrize)
        raw.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
          .distinct(math.max(1, raw.getNumPartitions))
      else raw).cache()
    val m = eC.count()

    val result: RDD[(Long, Long)] =
      if (m <= SmallGraphEdgeThreshold.value) {
        eC.coalesce(1).mapPartitions { it =>
          val es = it.toArray
          val deg = mutable.HashMap.empty[Long, Long]
          es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
          var ranks = mutable.HashMap.empty[Long, Long]
          deg.keysIterator.foreach(n => ranks(n) = 1000000L)
          var i = 0
          while (i < iterations) {
            val mass = mutable.HashMap.empty[Long, Long]
            es.foreach { case (s, d) =>
              val c = ranks(s) / deg(s)
              mass(d) = mass.getOrElse(d, 0L) + c
            }
            val nr = mutable.HashMap.empty[Long, Long]
            deg.keysIterator.foreach { n =>
              nr(n) = 150000L + 85L * mass.getOrElse(n, 0L) / 100L }
            ranks = nr
            i += 1
          }
          ranks.iterator
        }
      } else {
        val part = sizedPartitioner(m, math.max(1, eC.getNumPartitions))
        val outE = eC.partitionBy(part).cache()
        val deg = outE.mapValues(_ => 1L).reduceByKey(part, _ + _).cache() // narrow
        val outED = outE.join(deg).cache() // (src, (dst, deg)) — narrow
        var ranks: RDD[(Long, Long)] = deg.mapValues(_ => 1000000L)
        for (_ <- 1 to iterations) {
          val mass = outED.join(ranks)                       // narrow
            .map { case (_, ((dst, d), pr)) => (dst, pr / d) } // pr ≥ 0: / = DIV
            .reduceByKey(part, _ + _)                        // the round's shuffle
          ranks = deg.leftOuterJoin(mass)                    // narrow
            .mapValues { case (_, mm) => 150000L + 85L * mm.getOrElse(0L) / 100L }
        }
        ranks
      }
    longPairDF(Seq(proj), result, "node", "pr")
  }

  // ------------------------------------------------------ triangle counts

  /** Triangle counting by degree orientation (the compact-forward /
    * Chiba–Nishizeki kernel, public literature): orient each undirected
    * edge from its lower-(degree, id) endpoint to the higher one, then a
    * triangle (a≺b≺c) is exactly one pair of oriented wedges a→b, a→c
    * with the closing oriented edge b→c. Each triangle is counted ONCE,
    * and the wedge fanout per node is bounded by its ORIENTED out-degree
    * ≤ O(√m) on any graph — the hub-explosion guard that plain id
    * orientation lacks.
    *
    * At scale: the oriented list is staged once on the fixed
    * partitioner; wedge generation is a narrow per-key expansion over
    * it (groupByKey on its own partitioning — no shuffle, fanout
    * bounded by the orientation), so the only exchanges are the
    * orientation's dst-degree lookup and the closing join on the
    * (b, c) pair key — at 100 TB the big shuffle, its skew capped by
    * the orientation. The whole kernel is ONE job. Below the
    * threshold: the same orientation and wedge probe over in-task hash
    * structures.
    *
    * Input: symmetric or one-per-pair edge list; self-loops dropped.
    * Output: one row per node appearing in ≥1 triangle, with its
    * triangle count. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val proj = edgeProj(edges, srcCol, dstCol)
    val e = edgeRdd(proj).filter { case (s, d) => s != d }
    val (raw, m, hint) = undirected(e)

    val result: RDD[(Long, Long)] =
      if (m <= SmallGraphEdgeThreshold.value) {
        raw.coalesce(1).mapPartitions { it =>
          val es = it.toArray // symmetric, deduped
          val deg = mutable.HashMap.empty[Long, Long]
          es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
          def prec(a: Long, b: Long): Boolean = {
            val da = deg(a); val db = deg(b)
            da < db || (da == db && a < b)
          }
          val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
          val oset = mutable.HashSet.empty[(Long, Long)]
          es.foreach { case (s, d) =>
            if (prec(s, d)) {
              adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d
              oset += ((s, d))
            }
          }
          val cnt = mutable.HashMap.empty[Long, Long]
          def bump(n: Long): Unit = cnt(n) = cnt.getOrElse(n, 0L) + 1L
          adj.foreach { case (a, nbrs) =>
            var i = 0
            while (i < nbrs.length) {
              var j = i + 1
              while (j < nbrs.length) {
                val b = nbrs(i); val c = nbrs(j)
                // exactly one of b→c / c→b can be oriented
                if (oset.contains((b, c)) || oset.contains((c, b))) {
                  bump(a); bump(b); bump(c)
                }
                j += 1
              }
              i += 1
            }
          }
          cnt.iterator
        }
      } else {
        val part = sizedPartitioner(m, hint)
        val und = raw.partitionBy(part).cache()
        val deg = und.mapValues(_ => 1L).reduceByKey(part, _ + _).cache() // narrow
        // total order ≺ = (deg, id); orient src→dst iff src ≺ dst
        val oriented = und.join(deg)                        // narrow: src degree
          .map { case (s, (d, sd)) => (d, (s, sd)) }
          .join(deg)                                        // shuffle: dst degree
          .flatMap { case (d, ((s, sd), dd)) =>
            if (sd < dd || (sd == dd && s < d)) Iterator((s, d)) else Iterator.empty }
          .partitionBy(part)
          .cache()
        // A triangle {a,b,c} has a unique ≺-minimum vertex `a` carrying
        // both oriented wedge edges a→b and a→c, and exactly ONE of
        // b→c / c→b is oriented — so probing ordered wedge pairs against
        // the oriented edge list counts each triangle exactly once.
        val wedges = oriented.groupByKey()                  // narrow: own partitioning
          .flatMap { case (a, nbrs) =>
            val v = nbrs.toArray
            for (b <- v.iterator; c <- v if b != c) yield ((b, c), a) }
        val closing = oriented.map { case (b, c) => ((b, c), ()) }
        wedges.join(closing)                                // shuffle on the pair key
          .flatMap { case ((b, c), (a, _)) => Iterator((a, 1L), (b, 1L), (c, 1L)) }
          .reduceByKey(part, _ + _)
      }
    longPairDF(Seq(proj), result, "node", "triangles")
  }
}
