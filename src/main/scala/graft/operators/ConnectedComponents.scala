package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Connected components over an edge DataFrame via alternating
 * large-star / small-star (Kiveris et al., "Connected Components in
 * MapReduce and Beyond") — the Spark-native replacement for the
 * reference's O(N²)-greedy `scaffold` clustering
 * (`/root/reference/src/index/sbt.rs:344-455`). We match cluster
 * assignments, not tree shape (SURVEY.md §2.4 Q7).
 *
 * Scale design:
 *  - the first job (the one that runs the caller's upstream plan) writes
 *    the canonical `distinct` edge set. When that job has one partition,
 *    a union-find over it gives the min-id labels directly and no round
 *    runs. The path is chosen by the partition count Spark's planning
 *    gave the edge set, not by a size threshold;
 *  - otherwise large-star / small-star rounds run, provably convergent in
 *    O(log n) rounds on any graph (vs min-label propagation's O(diameter)
 *    — adversarial dup chains are real at web scale). A round is two
 *    windows (min over each node's neighborhood, partitioned by node id)
 *    plus a `distinct`, with AQE off: one job per round;
 *  - `localCheckpoint` per round cuts the lineage chain (on a cluster this
 *    becomes a checkpoint-table write, giving partition-exact resume).
 */
object ConnectedComponents extends org.apache.spark.internal.Logging {

  /**
   * In-loop shuffle width. The loop runs with AQE off (see below), so the
   * width must be picked explicitly — data-adaptively, not clamped:
   *
   *  - `explicit > 0` (caller override) always wins;
   *  - otherwise scale with the edge count (`ceil(edges/edgesPerPartition)`)
   *    so a 100-TB edge set runs as wide as the session allows, bounded by
   *    the session's `spark.sql.shuffle.partitions` as the ceiling (a
   *    caller that raised it gets the raise honored);
   *  - floor of `min(8, ceiling)`: tiny edge sets keep the small fixed
   *    width that makes each round one pipelined job locally (the round-2
   *    serial-term fix) without ever exceeding the session value.
   *
   * Pure function — unit-tested in CcSpec.
   */
  def chooseLoopWidth(edgeCount: Long, explicit: Int, sessionParts: Int,
      edgesPerPartition: Long): Int = {
    if (explicit > 0) explicit
    else {
      val ceilingParts = math.max(1, sessionParts)
      val byData = math.ceil(edgeCount.toDouble / math.max(1L, edgesPerPartition)).toLong
      val floorParts = math.min(8, ceilingParts)
      math.max(floorParts.toLong, math.min(ceilingParts.toLong, byData)).toInt
    }
  }

  /**
   * @param edges two Long columns `src`, `dst` (undirected, dups ok).
   * @param loopShufflePartitions explicit in-loop shuffle width (0 = size
   *        from the edge count via [[chooseLoopWidth]]).
   * @param edgesPerPartition target edges per reducer when auto-sizing.
   * @return DataFrame (id: Long, component: Long) — component = min node
   *         id reachable; covers only nodes appearing in `edges`.
   */
  def run(edges: DataFrame, maxIter: Int = 25,
      loopShufflePartitions: Int = 0,
      edgesPerPartition: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // The initial checkpoint drags the caller's WHOLE upstream plan with
    // it (sketching, banding, confirm at corpus scale) — it must run
    // under the session's own parallelism and AQE settings. The edge
    // count rides on the SAME job as an observed metric (no separate
    // count action), and is only requested when auto-sizing needs it.
    val obs0 = org.apache.spark.sql.Observation()
    var e = edges.select($"src", $"dst").where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
      .distinct()
      .observe(obs0, count(lit(1)).as("edges"))
      .localCheckpoint(true)

    // One partition means one task holds every edge: a union-find over
    // it labels every node with its component's min id, the answer the
    // loop converges to. It runs lazily and narrow over that same
    // checkpointed partition, so it costs no job of its own.
    if (e.queryExecution.toRdd.getNumPartitions <= 1) {
      logInfo("[cc] one partition: union-find, no loop round")
      return e.as[(Long, Long)].mapPartitions(components).toDF("id", "component")
    }

    // From here on, per-round data (the edge set) is orders of magnitude
    // smaller than the corpus, but each round is a chain of tiny shuffles:
    // under AQE every query stage materializes as its own job, so a round
    // costs 4-6 driver scheduling barriers — a pure serial term that
    // dominates the pipeline's scaling efficiency. Run the loop with AQE
    // off and an explicit width from chooseLoopWidth (one pipelined job
    // per round locally; edge-count-proportional on a big graph); restore
    // the session confs after. Session conf values are parsed defensively
    // BEFORE anything is mutated (a non-numeric value, e.g. a managed
    // platform's "auto", must not leave AQE disabled for the session).
    val conf = spark.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = conf.get("spark.sql.shuffle.partitions", "200")
    val sessionParts = scala.util.Try(partsBefore.trim.toInt).getOrElse(200)
    // explicit override short-circuits: the edge count is irrelevant then,
    // so don't even read the observed metric (ADVICE r3). Otherwise it
    // came for free with the checkpoint job above.
    val loopWidth = if (loopShufflePartitions > 0) loopShufflePartitions
      else chooseLoopWidth(obs0.get("edges").asInstanceOf[Long], 0,
        sessionParts, edgesPerPartition)
    logInfo(s"[cc] loop shuffle width=$loopWidth (session=$partsBefore)")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", loopWidth.toString)
    try {

    var iter = 0
    var converged = false
    var lastSig: (Long, Long) = (-1L, -1L)
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy($"src")
    while (!converged && iter < maxIter) {
      // ---- large-star: for every node u, connect its larger neighbors to
      //      m = min(Γ(u) ∪ {u}). The per-neighborhood minimum is a WINDOW
      //      over the same src-partitioning the rows need anyway — one
      //      shuffle instead of the groupBy+join-back formulation's two.
      val bidir = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      val ls = bidir
        .withColumn("m", least($"src", min($"dst").over(wSrc)))
        .where($"dst" > $"src")
        .select($"dst".as("src"), $"m".as("dst"))
        .where($"src" =!= $"dst")

      // ---- small-star: orient u > v; connect all smaller neighbors and u
      //      to m = min neighbor (same window trick; the (src, m) rows are
      //      emitted per-row with duplicates — the terminal distinct dedups)
      val dir = ls.select(greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
        .withColumn("m", min($"dst").over(wSrc))
      // the order-independent edge-set signature (bit_xor avoids ANSI
      // overflow) is an OBSERVED metric of the checkpoint job itself —
      // one driver barrier per round, not two (checkpoint + separate agg
      // was half the loop's serial term)
      val obs = org.apache.spark.sql.Observation()
      val ss = dir.select($"dst".as("src"), $"m".as("dst"))
        .union(dir.select($"src", $"m".as("dst")))
        .where($"src" =!= $"dst")
        .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))
        .distinct()
        .observe(obs, count(lit(1)).as("edges"),
          coalesce(bit_xor(xxhash64($"src", $"dst")), lit(0L)).as("sig"))
        .localCheckpoint(true)

      val m = obs.get
      val sig = (m("edges").asInstanceOf[Long], m("sig").asInstanceOf[Long])
      converged = sig == lastSig
      lastSig = sig
      e = ss
      iter += 1
      logInfo(s"[cc] round $iter edges=${sig._1} sig=${sig._2} converged=$converged")
    }
    // no maxIter=0 escape hatch: skipping the loop would return
    // min-direct-neighbor labels, which are NOT components — an error
    // beats a silently non-transitive labeling
    require(converged, s"connected components did not converge in $maxIter rounds")

    // After convergence the edge set is a star stored canonically as
    // (src = component min, dst = member). Returned LAZY: the agg reads
    // the checkpointed star edges, so consumers run it under the restored
    // session confs (AQE on) — and the loop pays no extra barrier for it
    // (round-3's eager checkpoint here was one more driver action buying
    // nothing: the plan below is two narrow scans of cached blocks).
    e.select($"dst".as("id"), $"src".as("component"))
      .union(e.select($"src".as("id"), $"src".as("component")))
      .groupBy($"id").agg(min($"component").as("component"))

    } finally {
      conf.set("spark.sql.adaptive.enabled", aqeBefore)
      conf.set("spark.sql.shuffle.partitions", partsBefore)
    }
  }

  /**
   * Union-find over one partition's edges: `(node, min id of its
   * component)` for every node in them.
   */
  private def components(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val uf = new UnionFind
    edges.foreach { case (a, b) => uf.union(uf.index(a), uf.index(b)) }
    uf.labels
  }

  /**
   * Label every node in `nodes` (single Long column `id`, caller
   * guarantees distinct): nodes absent from any edge become singleton
   * components (component = own id). The label side is a materialized
   * edge-endpoint set — much smaller than `nodes` — so the join is left
   * to AQE, which broadcasts it from runtime statistics (static
   * auto-broadcast stays off: sizes derived from UDF plans are garbage).
   */
  def labelAll(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val lbl = run(edges, maxIter)
    nodes.select($"id")
      .join(lbl, Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("component"))
  }
}

/**
 * Union-find over Long node ids with the min id as every root. Nodes get
 * dense indices through a primitive open-addressing table, so memory is
 * linear in the distinct nodes and nothing is boxed.
 */
private final class UnionFind {
  private var ids = new Array[Long](64) // index -> node id
  private var parent = new Array[Int](64) // index -> parent index
  private var slots = new Array[Int](128) // hash slot -> index + 1, 0 = empty
  private var n = 0

  private def slot(id: Long, mask: Int): Int =
    java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L) & mask

  /** Dense index of `id`, added as its own root on first sight. */
  def index(id: Long): Int = {
    val mask = slots.length - 1
    var h = slot(id, mask)
    while (slots(h) != 0) {
      if (ids(slots(h) - 1) == id) return slots(h) - 1
      h = (h + 1) & mask
    }
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, 2 * n)
      parent = java.util.Arrays.copyOf(parent, 2 * n)
    }
    ids(n) = id
    parent(n) = n
    slots(h) = n + 1
    n += 1
    if (2 * n > slots.length) grow()
    n - 1
  }

  private def grow(): Unit = {
    slots = new Array[Int](2 * slots.length)
    val mask = slots.length - 1
    var i = 0
    while (i < n) {
      var h = slot(ids(i), mask)
      while (slots(h) != 0) h = (h + 1) & mask
      slots(h) = i + 1
      i += 1
    }
  }

  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
    r
  }

  def union(a: Int, b: Int): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ids(ra) < ids(rb)) parent(rb) = ra else if (ra != rb) parent(ra) = rb
  }

  /** `(node id, root id)` for every node. */
  def labels: Iterator[(Long, Long)] =
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
}
