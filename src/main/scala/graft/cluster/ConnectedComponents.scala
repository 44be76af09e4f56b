package graft.cluster

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Connected components over an undirected edge frame: every node maps to
  * the minimum id of its component. Two paths, chosen on the normalized
  * edge count (see `AutoChainEdges`):
  *
  *   - small graphs: union-find in ONE task over the normalized edges
  *     (`coalesce(1)` + `mapPartitions`). Below the threshold the
  *     distributed rounds are almost all job and exchange latency, not
  *     rows, so a single task is several times faster.
  *   - large graphs (or an explicit `roundsPerJob`): the iterative
  *     DataFrame large-star / small-star algorithm (Kiveris et al.,
  *     "Connected Components in MapReduce and Beyond", SoCC'14), which
  *     BASELINE.json's north_rule names explicitly. Each round is two
  *     shuffles on the node id, edges monotonically point toward each
  *     component's minimum id, and convergence is O(log n) rounds.
  *
  * Scale notes for the rounds: per-round `persist` + `count` materializes
  * the iteration and truncates the lineage chain (on a real cluster this
  * would be a checkpoint/table write per round — see graft.state.TableIO);
  * the neighborhood minimum uses a window `min` rather than `collect_list`,
  * so a degenerate high-degree node (the skew block's star root) never
  * materializes its adjacency list in one task.
  */
object ConnectedComponents {

  /** @param edges DataFrame with two columns (any orderable type) naming an
    *              undirected edge; self-loops and duplicates are fine.
    * @return DataFrame (id, cluster_id): every node of `edges` mapped to the
    *         minimum id of its component (including isolated endpoints).
    */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame =
    runWithStats(edges, maxIter)._1

  /** Normalized edge frame (src > dst, no self-loops, distinct) — lazy. */
  private def normalize(edges: DataFrame): DataFrame = {
    val Seq(c1, c2) = edges.columns.take(2).toSeq
    edges
      .select(col(c1).as("src"), col(c2).as("dst"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("dst2"),
              greatest(col("src"), col("dst")).as("src2"))
      .select(col("src2").as("src"), col("dst2").as("dst")) // src > dst
      .distinct()
  }

  /** Normalized edge count below which the auto mode (`roundsPerJob` = 0)
    * runs union-find in ONE task instead of the distributed rounds. Each
    * round costs about four Spark jobs whatever the graph's size, so below
    * this size CC is job and exchange latency, not rows. Measured on a
    * 4-core box, local[4], -Xmx2g, warm, forests of random 8-node trees
    * (identical output on both paths), single task vs rounds at 1 / 2
    * rounds per job: 2^14 edges 0.6 s vs 2.6 / 8.0 s; 2^17 1.0 s vs
    * 5.1 / 11.8 s; just under 2^20 6.3 s vs 18.1 / 36.4 s. The single task
    * holds the whole edge set in one task's heap, which this bound caps;
    * larger graphs (the 4M-image ScalingBench regime, ~2-4M edges) take
    * the rounds (see `resolveChain`). */
  val AutoChainEdges = 1L << 20

  /** run + (rounds, finalEdgeCount) for tests/metrics. The single-task path
    * runs no round: rounds = 0 and finalEdgeCount = the number of non-root
    * nodes (the star-shaped edge set the rounds converge to).
    *
    * `roundsPerJob`: large-star/small-star rounds chained per materialized
    * job. Every materialization is a full cluster barrier (checkpoint write
    * + signature action + scheduler round-trip) — at high core counts these
    * barriers are flat cost that caps scaling efficiency, and component
    * diameters shrink so fast (squared per round) that typical inputs
    * converge in 3-5 rounds: batching 2 rounds per job halves the barrier
    * count for at most one wasted round after convergence. 0 (default) =
    * adaptive: one union-find task below `AutoChainEdges` normalized edges,
    * else 2 rounds per job. Any positive value forces the rounds. */
  def runWithStats(edges: DataFrame, maxIter: Int = 50,
                   roundsPerJob: Int = 0): (DataFrame, Int, Long) =
    // tag every CC job for stage attribution (ScaleDiag, UIs)
    graft.util.JobDescription(edges.sparkSession, "graft:cc") {
      runWithStatsIn(edges, maxIter, roundsPerJob)
    }

  private def runWithStatsIn(edges: DataFrame, maxIter: Int,
                             roundsPerJob: Int): (DataFrame, Int, Long) = {
    // normalize once and materialize EAGERLY: every consumer plan scans e0
    // at least twice (allNodes' union, round()'s nbrs union), and AQE
    // races those scans into a lazily-persisted cache concurrently — each
    // recomputing the caller's full candidate DAG (measured: deferred-mode
    // LSH edges doubled q_doc_pipeline/q_dup_clusters until this barrier)
    val e0 = normalize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val nE0 = e0.count()
    if (singleTask(e0, roundsPerJob, nE0)) {
      val out = unionFind(e0, withRoots = true)
      e0.unpersist()
      (out, 0, out.where(col("id") =!= col("cluster_id")).count())
    } else {
      val allNodes = e0
        .select(col("src").as("id")).union(e0.select(col("dst").as("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      allNodes.count()
      val (fin, iter, nEdges) = converge(e0, maxIter, resolveChain(roundsPerJob))
      // components: every node that appears as src points at its root
      // (dst); roots themselves and isolated nodes map to themselves.
      val roots = fin.groupBy("src").agg(min("dst").as("cluster_id"))
      // sealed output: eager localCheckpoint materializes the mapping (one
      // pass, same cost the old persist+count paid) but lives OUTSIDE the
      // SQL cache manager — reclaimed by the ContextCleaner once
      // unreferenced, so a long-lived session composing operators never
      // accumulates CC outputs
      val out = graft.util.Seal(allNodes
        .join(roots.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id")))
      allNodes.unpersist(); fin.unpersist(); e0.unpersist()
      (out, iter, nEdges)
    }
  }

  /** Cluster mapping for NON-ROOT edge nodes only: (id, cluster_id) for
    * every node that is not its component's minimum. Roots and isolated
    * nodes are ABSENT — the pipeline's members join is a left join +
    * `coalesce(cluster_id, id)`, which maps them to themselves anyway, so
    * the `allNodes` union-distinct, its count barrier, and the final
    * node-universe join that `run` pays are pure overhead there (three of
    * the flat per-run jobs the scaling decomposition charged to CC). */
  def runMapping(edges: DataFrame, maxIter: Int = 50,
                 roundsPerJob: Int = 0): DataFrame =
    graft.util.JobDescription(edges.sparkSession, "graft:cc") {
      runMappingIn(edges, maxIter, roundsPerJob)
    }

  private def runMappingIn(edges: DataFrame, maxIter: Int,
                           roundsPerJob: Int): DataFrame = {
    // eager for the same AQE-race reason as runWithStatsIn: round() scans
    // e0 twice inside the first signature action
    val e0 = normalize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val nE0 = e0.count()
    val out =
      if (singleTask(e0, roundsPerJob, nE0)) unionFind(e0, withRoots = false)
      else {
        val (fin, _, _) = converge(e0, maxIter, resolveChain(roundsPerJob))
        val m = graft.util.Seal(fin.groupBy("src").agg(min("dst").as("cluster_id"))
          .withColumnRenamed("src", "id"))
        fin.unpersist()
        m
      }
    e0.unpersist()
    out
  }

  /** The auto mode's path choice: one union-find task for a graph below
    * `AutoChainEdges` normalized edges whose id type it orders (see
    * `idCodec`); an explicit `roundsPerJob` always takes the rounds. */
  private def singleTask(e0: DataFrame, roundsPerJob: Int, nEdges: Long): Boolean =
    roundsPerJob == 0 && nEdges < AutoChainEdges &&
      idCodec(e0.schema("src").dataType).isDefined

  /** Rounds chained per materialized job on the distributed path: the
    * caller's value, else 2. Chaining two rounds QUADRUPLES the per-batch
    * logical plan, and per-batch driver cost is super-linear in plan size,
    * so on 4 cores it loses even at 2^20 edges (see `AutoChainEdges`); it
    * was chosen for the 16-32-core 4M-image ScalingBench regime, where
    * halving the materialization barriers wins. */
  private def resolveChain(roundsPerJob: Int): Int =
    if (roundsPerJob > 0) roundsPerJob else 2

  /** Comparable key for an id value, ordered exactly as Spark orders the
    * id type (long and int ids boxed as they are; strings as `UTF8String`,
    * whose byte order is Spark's string order and differs from Java's
    * UTF-16 `compareTo`), and the inverse back to the Row value. None for
    * other id types (no caller has them): those take the distributed
    * rounds. */
  private def idCodec(t: DataType): Option[(Any => AnyRef, AnyRef => Any)] = t match {
    case LongType | IntegerType =>
      Some((_.asInstanceOf[AnyRef], identity))
    case StringType =>
      Some((v => UTF8String.fromString(v.asInstanceOf[String]), _.toString))
    case _ => None
  }

  /** Union-find over the normalized edges `e0` in ONE task: (id,
    * cluster_id = component minimum) for every non-root node, plus every
    * root mapped to itself when `withRoots`. Sealed eagerly (one job).
    * A Dataset `mapPartitions` (not an RDD round trip) so the output's size
    * estimate derives from the cached `e0`: downstream joins still
    * broadcast it, as they did the rounds' output. */
  private def unionFind(e0: DataFrame, withRoots: Boolean): DataFrame = {
    val idField = e0.schema("src")
    val idType = idField.dataType
    // the rounds' output schema: the full mapping keeps the input ids'
    // nullability, the non-root mapping comes out of window and aggregate
    // minimums, which Spark types nullable
    val nullable = idField.nullable || !withRoots
    val schema = StructType(Seq(
      StructField("id", idType, nullable), StructField("cluster_id", idType, nullable)))
    graft.util.Seal(e0.coalesce(1).mapPartitions { (rows: Iterator[Row]) =>
      val (toKey, fromKey) = idCodec(idType).get
      val src = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
      val dst = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
      rows.foreach { r => src += toKey(r.get(0)); dst += toKey(r.get(1)) }
      // the node universe sorted and distinct: index order is id order, so
      // union toward the smaller index leaves each root at its component's
      // minimum id
      val nodes = (src ++ dst).toArray
      java.util.Arrays.sort(nodes)
      var n = 0
      for (i <- nodes.indices if n == 0 || nodes(i) != nodes(n - 1)) {
        nodes(n) = nodes(i); n += 1
      }
      val parent = Array.range(0, n)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x // path compression
        while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
        r
      }
      def index(k: AnyRef): Int = java.util.Arrays.binarySearch(nodes, 0, n, k)
      for (i <- src.indices) {
        val a = find(index(src(i)))
        val b = find(index(dst(i)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
      // parent(j) <= j: in ascending order every parent is already a root
      for (j <- 0 until n) parent(j) = parent(parent(j))
      Iterator.range(0, n).collect {
        case j if withRoots || parent(j) != j =>
          Row(fromKey(nodes(j)), fromKey(nodes(parent(j))))
      }
    }(Encoders.row(schema)))
  }

  /** The alternating-rounds loop: iterate from persisted `e0` until the
    * edge set is stable; returns the persisted final frame (src > dst,
    * star-shaped), the round count, and the final edge count. Intermediate
    * frames (including `e0` once replaced) are unpersisted here. */
  private def converge(e0: DataFrame, maxIter: Int,
                       roundsPerJob: Int): (DataFrame, Int, Long) = {
    var e = e0

    // ONE alternating large-star + small-star round (lazy plan):
    //   large star: for every node u, attach all neighbors v > u to the
    //     minimum of (u ∪ neighbors) — both edge directions participate;
    //   small star: edges then satisfy src > dst; for each u attach all its
    //     smaller neighbors (and u) to the minimum neighbor.
    // The neighborhood minimum is a window `min`, never collect_list — a
    // degenerate high-degree node holds no adjacency list in one task.
    def round(cur: DataFrame): DataFrame = {
      val nbrs = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val wL = Window.partitionBy("src")
      // no distinct between the stars (round 6): duplicates in the
      // large-star output (two old sources of one node mapping to the same
      // minimum) do not change the small-star window minimum, and the final
      // distinct below dedups the round's output — the intermediate
      // distinct was a full extra exchange per round for a frame the next
      // window reshuffles anyway. The undeduped large output is ≤ |nbrs| =
      // 2|E| rows, so the small-star shuffle grows at most 2× in the worst
      // case while every round drops one exchange barrier.
      val large = nbrs
        .withColumn("m", least(min("dst").over(wL), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")) // keep src > dst
        .where(col("src") =!= col("dst"))
      val wS = Window.partitionBy("src")
      val withMin = large.withColumn("m", min("dst").over(wS))
      withMin
        .select(col("src"), col("m").as("dst"))
        .union(withMin.where(col("dst") =!= col("m"))
          .select(col("dst").as("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    var iter = 0
    var converged = false
    var prevSig: (Long, Any) = (-1L, null)
    while (!converged && iter < maxIter) {
      var cur = e
      var r = 0
      while (r < roundsPerJob && iter + r < maxIter) { cur = round(cur); r += 1 }
      // lazy seal: materializes the chained rounds AND truncates the
      // logical plan (a persist alone leaves the tree growing exponentially
      // across iterations); the signature aggregation below is the action
      // that materializes it — ONE job per batch. With
      // spark.graft.checkpoint.dir set this is a RELIABLE checkpoint
      // (executor-loss-safe on a real cluster); the local default stays
      // zero-copy.
      val next = graft.util.Seal(cur, eager = false)
      // convergence: edge set stable (count + order-independent xor-hash —
      // xor, not sum: ANSI mode makes long-sum overflow an error)
      val sig = next.agg(
        count(lit(1)),
        call_function("bit_xor", xxhash64(col("src"), col("dst")))).first()
      val newSig = (sig.getLong(0), sig.get(1))
      e.unpersist()
      e = next
      converged = newSig == prevSig
      prevSig = newSig
      iter += r
    }
    (e, iter, prevSig._1)
  }
}
