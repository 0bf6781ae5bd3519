package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analyses over an edge DataFrame (src, dst [, kind, weight]) —
  * the Spark form of the reference's call/type-graph consumers
  * (callers/callees/trace/impact/dead/related, SURVEY §2.12).
  *
  * BFS is ONE iterative frontier join (`walk`, the reference's capped
  * BFS at src/impact/bfs.rs:49-110; `trace`, bfs.rs:304-380, is the
  * same walk with a path carried along). Each
  * level is the frontier ⋈ edges join plus one aggregation that drops
  * every node already visited, so levels are disjoint and a cycle
  * never re-expands. The public entries (`bfs`, `bfsReverse`,
  * `bfsLabeled`, `bfsPaths`) only choose the carried columns. The loop
  * has two modes:
  *  - shallow (maxDepth <= 3, no cap): one lazy plan, no cuts, no
  *    counts — the lineage is only maxDepth joins deep, and every eager
  *    action would be a Spark job whose scheduling dominates;
  *  - deep or capped: the seed level and each later level are
  *    lineage-cut AND counted in one job each (`stableCounted`), so the
  *    union plan stays linear in depth and expansion stops on an empty
  *    level, or after the level that passes the node cap (the
  *    reference caps at 10k ancestors, bfs.rs:11-14, a hub-graph DoS
  *    rail; at most one level of overshoot). When a LIMIT-bounded edge
  *    probe proves the cap unreachable, the levels are only cut.
  * The edge frame is re-read once per level, so it is cut once up
  * front unless it is already a scan (`Materialize.unlessScan`).
  * Hub skew is the known hazard — at 100 TB the edge table would be
  * pre-bucketed by src and heavy keys salted; AQE skew-join handles
  * moderate skew here.
  */
object GraphOps {

  val DefaultMaxNodes = 10000L

  /** Most edge rows the cap probe scans. */
  private val ProbeLimit = 100000000L

  /** Multi-source BFS. Returns (node, depth) with depth = minimum hop
    * distance from any seed (seeds at depth 0). Expansion stops at
    * maxDepth or after the level where the visited set exceeds maxNodes.
    *
    * @param edges directed edges; pass a symmetrized frame for
    *              undirected semantics (or use `bfsReverse` for ancestors).
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
          maxNodes: Long = DefaultMaxNodes): DataFrame =
    walk(edges, seeds, Nil, path = false, maxDepth, maxNodes)

  /** Reverse-direction BFS (ancestors — the `impact` direction). */
  def bfsReverse(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                 maxNodes: Long = DefaultMaxNodes): DataFrame =
    bfs(edges.select(col("dst").as("src"), col("src").as("dst")),
      seeds, maxDepth, maxNodes)

  /** BFS with shortest-path reconstruction — the `trace` operator.
    * Returns (node, depth, path): each visited node carries ONE
    * deterministic shortest path, encoded "seed->a->b" (ties pick the
    * lexicographically smallest path).
    */
  def bfsPaths(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
               maxNodes: Long = DefaultMaxNodes): DataFrame =
    walk(edges, seeds, Nil, path = true, maxDepth, maxNodes)

  /** Per-seed labeled BFS: seeds carry a `seed` label alongside the
    * start `node`, and every reached pair keeps the seed it was reached
    * FROM — the shape of "tests covering each of these functions"
    * closures where reachability must stay attributable. Returns
    * distinct (seed, node, depth) with the seeds at depth 0; the cap
    * counts (seed, node) pairs.
    */
  def bfsLabeled(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                 maxNodes: Long = DefaultMaxNodes): DataFrame =
    walk(edges, seeds, Seq("seed"), path = false, maxDepth, maxNodes)

  /** The frontier loop (modes: see the object doc). A node is visited
    * once per `labels` tuple; with `path`, each reached (labels, node)
    * keeps the MIN of its candidate "parent->node" paths, the parents'
    * paths being minimal already.
    */
  private def walk(edges: DataFrame, seeds: DataFrame, labels: Seq[String],
                   path: Boolean, maxDepth: Int, maxNodes: Long): DataFrame = {
    val key = labels :+ "node"
    val keyCols = key.map(col)
    val carried = labels.map(col)
    def ifPath(c: => Column): Seq[Column] = if (path) Seq(c) else Nil
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (maxDepth > 1) Materialize.unlessScan(e0) else e0
    var visited = seeds.select(keyCols: _*).distinct()
      .select(keyCols ++ Seq(lit(0).as("depth")) ++ ifPath(col("node").cast("string").as("path")): _*)
    val shallow = maxDepth <= 3 && maxNodes == Long.MaxValue
    var counted = !shallow
    var nodeCount = 0L
    if (!shallow) {
      val (v, n) = Materialize.stableCounted(visited)
      visited = v
      nodeCount = n
      // cap-reachability gate: each expansion adds at most L·|edges|
      // nodes in total (L = 1 unlabeled, L = |seed pairs| labeled), so
      // n + L·E <= maxNodes proves the cap unreachable and the per-level
      // counts that implement it buy nothing. The probe reads at most
      // probeCap edge rows; reading probeCap of them means the bound
      // fails (or the probe saturated), so the rail stays. The gate is
      // kept to the report depths: at depth 1 the probe costs what it
      // saves, and past 6 losing the empty-level exit costs more.
      val perEdge = if (labels.isEmpty) 1L else n
      if (maxNodes < Long.MaxValue && maxDepth > 1 && maxDepth <= 6 &&
          perEdge > 0 && n <= maxNodes) {
        val probeCap = math.min((maxNodes - n) / perEdge + 1, ProbeLimit)
        counted = e.limit(probeCap.toInt).count() == probeCap
      }
    }
    var frontier = visited
    var lastAdded = 1L
    var d = 1
    while (d <= maxDepth && nodeCount <= maxNodes && lastAdded > 0) {
      // name-based join (frontier columns renamed): in shallow mode the
      // frontier's lineage CONTAINS e, so dataset-qualified refs like
      // e("dst") would be ambiguous self-join references
      val hop = frontier
        .select(carried ++ Seq(col("node").as("__fnode")) ++ ifPath(col("path").as("__fpath")): _*)
        .join(e, col("__fnode") === col("src"))
      // this level's candidates and everything visited meet in ONE
      // aggregation per (labels, node), which both de-duplicates the
      // candidates and drops the visited ones (one shuffle where a
      // distinct plus a left_anti join take two)
      val cand = hop.select(carried ++ Seq(col("dst").as("node"), lit(false).as("__seen")) ++
        ifPath(concat(col("__fpath"), lit("->"), col("dst").cast("string")).as("path")): _*)
      val seen = visited.select(keyCols ++ Seq(lit(true).as("__seen")) ++
        ifPath(lit(null).cast("string").as("path")): _*)
      var next = cand.unionByName(seen)
        .groupBy(keyCols: _*)
        .agg(max(col("__seen")).as("__seen"), ifPath(min(col("path")).as("path")): _*)
        .filter(!col("__seen"))
        .select(keyCols ++ Seq(lit(d).as("depth")) ++ ifPath(col("path")): _*)
      if (counted) {
        // levels are disjoint, so the visited count is the running sum
        // of level counts, and the count rides on the cut's own job
        val (m, n) = Materialize.stableCounted(next)
        next = m
        lastAdded = n
        nodeCount += n
      } else if (!shallow) next = Materialize.stable(next)
      visited = visited.unionByName(next)
      frontier = next
      d += 1
    }
    visited
  }

  /** Collapse parallel edges of different kinds to the single most
    * trusted one per (src, dst), by an explicit rank map — never a
    * lexical MIN on the kind string (the reference is explicit about
    * this distinction, /root/reference/src/parser/types.rs:267-286).
    */
  def collapseByTrust(edges: DataFrame, kindRank: Map[String, Int]): DataFrame = {
    val rankCol = kindRank.foldLeft(lit(Int.MaxValue)) {
      case (acc, (kind, rank)) => when(col("kind") === kind, lit(rank)).otherwise(acc)
    }
    edges
      .withColumn("kind_rank", rankCol)
      .groupBy(col("src"), col("dst"))
      .agg(min(struct(col("kind_rank"), col("kind"))).as("best"))
      .select(col("src"), col("dst"), col("best.kind").as("kind"))
  }

  /** Co-occurrence "related" score: nodes sharing out-neighbors with the
    * seeds, weighted by the number of shared neighbors
    * (/root/reference/src/related.rs re-expressed as a self-join + agg).
    *
    * The shared-neighbor key is `dst`, which on a real call graph is
    * hub-skewed (every function calls `log`); a plain shuffle join puts
    * each hub's whole posting on one reducer. The big (full-edge) side
    * is therefore salted over the hub key and the small (seed-edge) side
    * replicated — deterministic salts, result row-identical to the
    * unsalted join (pinned in GraphOpsSpec).
    */
  def related(edges: DataFrame, seeds: DataFrame, numSalts: Int = 8): DataFrame = {
    // both join sides read `edges`: a derived frame is cut once
    val e = Materialize.unlessScan(edges)
    val a = e.join(broadcast(seeds), e("src") === seeds("node"))
      .select(col("src").as("seed"), col("dst").as("shared"))
    val b = e.select(col("src").as("other"), col("dst").as("shared"))
    Skew.saltedJoin(b, a, "shared", Seq("other", "shared"), numSalts)
      .filter(col("other") =!= col("seed"))
      .groupBy(col("seed"), col("other"))
      .agg(countDistinct(col("shared")).as("n_shared"))
  }

  /** Nodes below which the per-round rank join broadcasts the rank
    * vector (a |nodes|-row, 16-byte-row frame — 5M nodes ≈ 80 MB).
    * Above it the hint is withheld so the planner uses a shuffled
    * hash/SMJ join: an explicit broadcast() is ALWAYS honored
    * regardless of size, so an unconditional hint on a billion-node
    * graph would collect the full rank vector to the driver every
    * round and fail at the 8 GB broadcast limit — there is no
    * "graceful degradation" out of an explicit hint.
    */
  val PageRankBroadcastNodeCap = 5000000L

  /** Degree-joined edge frame (src, dst, outdeg) — the per-round join
    * input PageRank re-reads every iteration. The index build persists
    * it once (the `edges_outdeg` artifact) instead of paying the degree
    * aggregation + join per run.
    */
  def degreeJoinedEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    e.join(outdeg, "src").select(col("src"), col("dst"), col("outdeg"))
  }

  /** Damped PageRank in exact integer micro-units over a degree-joined
    * (src, dst, outdeg) frame (see degreeJoinedEdges) — the global
    * importance ranking (hotspot analysis generalized past q43's
    * in-degree counting: a caller's own importance propagates).
    *
    * Determinism across engines and partitionings: float summation is
    * order-dependent, so each edge's contribution pr(src)/outdeg(src)
    * is rounded to an INTEGER micro-unit per edge BEFORE aggregation —
    * BIGINT addition commutes — and the damping multiply+round is one
    * IEEE op per node per round. Fixed iteration count (no convergence
    * test) keeps the plan static and the oracle unrollable.
    *
    * Dangling mass: callers must pass an edge set where every ranked
    * node has outdeg ≥ 1 (a symmetric graph guarantees it); dangling
    * redistribution is deliberately out of scope and documented.
    *
    * Scale: each round is one (edges ⋈ pr) join on src + one dst
    * aggregation — the canonical distributed PageRank; pr stays
    * |nodes|-sized. `withDeg` must be cheap to rescan (a table scan or
    * a materialized frame): it is read once per round.
    */
  def pageRankFromDegreeJoined(withDeg: DataFrame, iters: Int = 3): DataFrame = {
    // cut and count the init frame in one job (the q169 LPA order):
    // otherwise the strategy count and round 1 each re-run the
    // |edges|-sized distinct. The one count up front (|nodes| rows)
    // decides the per-round join strategy; the loop never re-counts
    val (pr0, nNodes) = Materialize.stableCounted(
      withDeg.select(col("src").as("node")).distinct()
        .withColumn("pr_micro", lit(1000000L)))
    var pr = pr0
    val useBroadcast = nNodes <= PageRankBroadcastNodeCap
    (1 to iters).foreach { _ =>
      // Small graphs: broadcast the rank frame so each round is a
      // map-side hash join over the pinned edge frame (the only shuffle
      // per round is the groupBy(dst) re-aggregation). Large graphs:
      // no hint — the planner shuffles both sides (rank re-derivation
      // is per-round work either way; broadcasting it would collect to
      // the driver every round).
      val prSide = if (useBroadcast) broadcast(pr) else pr
      pr = withDeg
        .join(prSide, withDeg("src") === prSide("node"))
        .select(col("dst"),
          round(col("pr_micro").cast("double") / col("outdeg"), 0)
            .cast("long").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_micro"))
        .select(col("dst").as("node"),
          round(lit(150000.0) + lit(0.85) * col("in_micro"), 0)
            .cast("long").as("pr_micro"))
        // per-round lineage cut on the |nodes|-sized rank frame (the
        // q169 LPA pattern): without it round N's plan holds rounds
        // 1..N−1 as live subtrees and the broadcast COLLECT of the
        // rank side recomputes them all — O(iters²) round-joins, a
        // scale-killer at production iteration counts
        .transform(Materialize.stable)
    }
    pr
  }

  /** Degree-orientation of an edge set KNOWN symmetric and row-distinct
    * (both orientations present exactly once — the persisted co-purchase
    * artifact's contract), the per-run-invariant half of the triangle
    * count that the index build persists (`oriented_edges`): per-node
    * degrees, each undirected edge emitted lower→higher under the
    * (degree, node) total order as (a, b, db) with db = b's degree. The
    * undirected dedup reduces to a src < dst filter (no distinct: the
    * data is already unique). No materialization: the filter re-scans
    * cost less than a checkpoint copy when the input is a table scan.
    */
  def orientEdgesFromSymmetric(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") < col("dst"))
      .select(col("src").as("x"), col("dst").as("y"))
    val deg = und.select(col("x").as("node"))
      .unionByName(und.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // orient by (d, node): a < b iff (d_a, a) < (d_b, b)
    val withD = und
      .join(deg.select(col("node").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("d").as("dy")), Seq("y"))
    withD.select(
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("a"),
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")),
          struct(col("dy").as("d"), col("y").as("n")))
          .otherwise(struct(col("dx").as("d"), col("x").as("n")))
          .as("bkey"))
      .select(col("a"), col("bkey.n").as("b"), col("bkey.d").as("db"))
  }

  /** Per-node triangle counts via the DEGREE-ORDERED wedge join — the
    * distributed triangle algorithm (Suri & Vassilvitskii's MapReduce
    * formulation) over an already-oriented (a, b, db) edge frame (see
    * orientEdgesFromSymmetric): build wedges by self-joining oriented
    * edges on their source, and close each wedge against the oriented
    * edge set. Orientation bounds each node's out-degree by O(√m) on
    * any graph, so the wedge join never explodes on hub nodes — the
    * property that makes this the 100 TB shape where a naive
    * neighborhood-intersection melts on skew. Output: (node, n_tri) for
    * every node in ≥1 triangle; each triangle counts once at each of
    * its three corners. `oriented` is scanned three times — pass a
    * table scan or a materialized frame.
    */
  def triangleCountsFromOriented(oriented: DataFrame): DataFrame = {
    val wedges = oriented.select(col("a"), col("b"), col("db"))
      .join(oriented.select(col("a"), col("b").as("c"), col("db").as("dc")),
        Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
    val tris = wedges.join(
      oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }
}
