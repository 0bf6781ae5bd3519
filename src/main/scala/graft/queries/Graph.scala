package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, TopK}
import graft.sources.{Indexes, Tables}

/** Graph-analysis inventory (SURVEY §2.12) over the co-purchase graph:
  * directed edge (src_part → dst_part) whenever two distinct parts share
  * an order. The same operators back callers/callees (1-hop), trace /
  * impact (BFS with caps), dead (anti-join tiers) and related
  * (co-occurrence) over a call graph.
  */
object Graph {

  /** The co-purchase edge set, symmetric by construction. Distinct
    * before anything else — parallel edges from repeated (order, part)
    * pairs would double-count everywhere downstream. Served from the
    * built index when one is active (the edge table is the graph
    * family's shared index), derived from lineitem otherwise.
    */
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Indexes.coPurchaseEdges(s, dir)

  val edgesSql: String =
    """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey""".stripMargin

  /** q21 — 1-hop neighbors of seed parts with co-order multiplicity
    * (the callers/callees lookup, /root/reference/src/cli/commands/graph/callers.rs),
    * top 10 per seed.
    */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val seeds = Seq(1L, 2L, 3L)
    val a = li.filter(col("l_partkey").isin(seeds: _*))
      .select(col("l_orderkey"), col("l_partkey").as("src"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
    val nb = a.join(b, Seq("l_orderkey"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    TopK.perGroup(nb, Seq(col("src")), col("n_orders"), col("dst"), 10)
  }

  val q21Sql: String =
    """WITH nb AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
      |    CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS n_orders
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
      |  WHERE a.l_partkey IN (1, 2, 3)
      |  GROUP BY 1, 2)
      |SELECT src, dst, n_orders,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY src
      |    ORDER BY n_orders DESC, dst ASC) AS INT) AS rank
      |FROM nb
      |QUALIFY rank <= 10""".stripMargin

  /** q22 — BFS closure: min hop distance ≤ 2 from seed part 1 over the
    * co-purchase graph (the trace/gather expansion,
    * /root/reference/src/impact/bfs.rs:304-380). Spark side runs the
    * real iterative-join BFS; the oracle unrolls two levels.
    */
  def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeds = Seq(1L).toDF("node")
    // uncapped: the SQL oracle unrolls the full 2-level closure, so a
    // finite maxNodes would silently skip the level-2 expansion at any
    // scale factor where the 1-hop closure exceeds the cap. The capped
    // form (the production default) is exercised in GraphOpsSpec.
    GraphOps.bfs(coPurchaseEdges(s, dir), seeds, maxDepth = 2,
      maxNodes = Long.MaxValue)
  }

  val q22Sql: String =
    s"""WITH edges AS ($edgesSql),
       |d0(node) AS (VALUES (1)),
       |d1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d0 ON e.src = d0.node
       |       WHERE e.dst NOT IN (SELECT node FROM d0)),
       |d2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d1 ON e.src = d1.node
       |       WHERE e.dst NOT IN (SELECT node FROM d0)
       |         AND e.dst NOT IN (SELECT node FROM d1))
       |SELECT node, 0 AS depth FROM d0
       |UNION ALL SELECT node, 1 FROM d1
       |UNION ALL SELECT node, 2 FROM d2""".stripMargin

  /** q23 — related-by-co-occurrence: parts sharing the most co-purchase
    * neighbors with seed 1 (/root/reference/src/related.rs), top 20.
    */
  def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeds = Seq(1L).toDF("node")
    val rel = GraphOps.related(coPurchaseEdges(s, dir), seeds)
    TopK.perGroup(rel, Seq(col("seed")), col("n_shared"), col("other"), 20)
  }

  val q23Sql: String =
    s"""WITH edges AS ($edgesSql),
       |rel AS (
       |  SELECT a.src AS seed, b.src AS other,
       |    CAST(COUNT(DISTINCT a.dst) AS BIGINT) AS n_shared
       |  FROM edges a JOIN edges b ON a.dst = b.dst AND b.src != a.src
       |  WHERE a.src = 1
       |  GROUP BY 1, 2)
       |SELECT seed, other, n_shared,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY seed
       |    ORDER BY n_shared DESC, other ASC) AS INT) AS rank
       |FROM rel
       |QUALIFY rank <= 20""".stripMargin

  /** q24 — dead-node tiers (the dead-code confidence model,
    * /root/reference/src/parser/types.rs:192-265 re-shaped): per part,
    * `dead` = never ordered (high confidence), `isolated` = ordered but
    * never together with another part (low confidence — alive but
    * edge-less), else `live`.
    */
  def q24(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"))
    // activity window: shipments of Q1 1995 — outside it a part is
    // "dead" (never shipped) or "isolated" (shipped, never co-shipped)
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1995-04-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_partkey"))
    val ordered = li.select(col("l_partkey")).distinct()
    val a = li.select(col("l_orderkey"), col("l_partkey").as("src"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
    val connected = a.join(b, Seq("l_orderkey"))
      .filter(col("src") =!= col("dst"))
      .select(col("src").as("l_partkey")).distinct()
    p.join(ordered.withColumn("is_ordered", lit(1)),
        p("p_partkey") === ordered("l_partkey"), "left")
      .drop("l_partkey")
      .join(connected.withColumn("is_connected", lit(1)),
        p("p_partkey") === connected("l_partkey"), "left")
      .select(col("p_partkey"),
        when(col("is_ordered").isNull, "dead")
          .when(col("is_connected").isNull, "isolated")
          .otherwise("live").as("tier"))
      .groupBy(col("tier")).agg(count(lit(1)).as("n"))
  }

  val q24Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l_shipdate <  TIMESTAMP '1995-04-01'),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS src FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
      |tiers AS (
      |  SELECT p_partkey,
      |    CASE WHEN p_partkey NOT IN (SELECT l_partkey FROM li) THEN 'dead'
      |         WHEN p_partkey NOT IN (SELECT src FROM edges) THEN 'isolated'
      |         ELSE 'live' END AS tier
      |  FROM part)
      |SELECT tier, COUNT(*) AS n FROM tiers GROUP BY tier""".stripMargin

  /** q25 — impact blast radius: depth-2 closure from seed part 1, then
    * the distinct customers reached through orders containing each
    * closure node — BFS + semi-join + scoring, the full `impact` shape
    * (/root/reference/src/impact/analysis.rs). Top 20 by reach.
    */
  def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // uncapped to match the uncapped SQL oracle — see q22
    val closure = GraphOps.bfs(coPurchaseEdges(s, dir), Seq(1L).toDF("node"),
      maxDepth = 2, maxNodes = Long.MaxValue)
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val reach = closure.join(li, closure("node") === li("l_partkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("node"), col("depth"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
    TopK.global(reach, col("n_customers"), col("node"), 20)
  }

  val q25Sql: String =
    s"""WITH edges AS ($edgesSql),
       |d0(node) AS (VALUES (1)),
       |d1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d0 ON e.src = d0.node
       |       WHERE e.dst NOT IN (SELECT node FROM d0)),
       |d2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d1 ON e.src = d1.node
       |       WHERE e.dst NOT IN (SELECT node FROM d0)
       |         AND e.dst NOT IN (SELECT node FROM d1)),
       |closure AS (
       |  SELECT node, 0 AS depth FROM d0
       |  UNION ALL SELECT node, 1 FROM d1
       |  UNION ALL SELECT node, 2 FROM d2),
       |reach AS (
       |  SELECT c.node, c.depth,
       |    CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
       |  FROM closure c
       |  JOIN lineitem l ON c.node = l.l_partkey
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2)
       |SELECT node, depth, n_customers FROM reach
       |ORDER BY n_customers DESC, node ASC LIMIT 20""".stripMargin

  /** q43 — hotspot detection with a corpus-scaled threshold: nodes whose
    * in-degree clears greatest(50, node_count/100) — the reference
    * scales its caller-count thresholds by corpus size the same way
    * (/root/reference/src/limits.rs:344-394). The scalar threshold is a
    * broadcast single-row aggregate, so at scale this is one shuffle
    * (the degree groupBy) plus a map-side filter.
    */
  def q43(s: SparkSession, dir: String): DataFrame = {
    // deg feeds both the threshold scalar and the final filter — the
    // accessor returns the prebuilt degree table, or derives it and
    // materializes so the co-purchase join runs once
    val deg = Indexes.degrees(s, dir)
    val thr = deg.agg(
      greatest(lit(50L),
        floor(count(lit(1)) / 100.0).cast("long")).as("thr"))
    deg.crossJoin(broadcast(thr))
      .filter(col("in_degree") >= col("thr"))
      .select(col("node"), col("in_degree"), col("thr"))
  }

  val q43Sql: String =
    s"""WITH edges AS ($edgesSql),
       |deg AS (SELECT dst AS node, COUNT(*) AS in_degree FROM edges GROUP BY 1),
       |thr AS (SELECT greatest(50, CAST(floor(COUNT(*) / 100.0) AS BIGINT)) AS thr
       |        FROM deg)
       |SELECT d.node, d.in_degree, t.thr
       |FROM deg d CROSS JOIN thr t
       |WHERE d.in_degree >= t.thr""".stripMargin

  /** q134 — damped PageRank over the co-purchase graph, 3 exact
    * integer-micro-unit rounds (GraphOps.pageRankFromDegreeJoined),
    * top-20 by final rank — global importance where q43's hotspot
    * counting sees only in-degree: an important caller's weight
    * propagates to what it calls. The symmetric co-purchase graph
    * guarantees outdeg ≥ 1 everywhere, so no dangling mass exists by
    * construction (the operator's documented precondition).
    */
  def q134(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // degree-joined edges come from the index when built (per-run
    // degree agg + join was the round-7 perf flag); the accessor's
    // derived fallback keeps the oracle gate build-independent
    val pr = GraphOps.pageRankFromDegreeJoined(
      Indexes.edgesOutdeg(s, dir), iters = 3)
    TopK.global(pr, col("pr_micro"), col("node"), 20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pr_micro").desc, col("node").asc)).cast("long"))
      .select(col("rk"), col("node"), col("pr_micro"))
  }

  private def prRoundSql(src: String, out: String): String =
    s"""$out AS (
       |  SELECT dst AS node, CAST(ROUND(150000.0 + 0.85 *
       |      SUM(CAST(ROUND(pr::DOUBLE / outdeg, 0) AS BIGINT)), 0) AS BIGINT)
       |    AS pr
       |  FROM ed JOIN $src ON ed.src = $src.node
       |  GROUP BY dst)""".stripMargin

  lazy val q134Sql: String =
    s"""WITH edges AS ($edgesSql),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.outdeg
       |       FROM edges e JOIN deg d ON e.src = d.src),
       |p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
       |${prRoundSql("p0", "p1")},
       |${prRoundSql("p1", "p2")},
       |${prRoundSql("p2", "p3")}
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS BIGINT)
       |    AS rk,
       |  node, pr AS pr_micro
       |FROM p3 ORDER BY pr DESC, node ASC LIMIT 20""".stripMargin

  /** q153 — per-node triangle counts over the co-purchase graph, top 50:
    * the local-clustering numerator ("how interconnected is this
    * product's neighborhood"), computed with the degree-ordered wedge
    * join (GraphOps.triangleCountsFromOriented over the prebuilt
    * oriented edges — oriented out-degrees are O(√m), so hub products
    * cannot explode the join). The oracle counts the same triangles
    * orientation-free (u<v canonical edges, a 3-way join), proving the
    * oriented plan loses nothing.
    */
  def q153(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the per-node triangle-count table is a build artifact (the
    // `degrees` precedent — the O(m^1.5) wedge join is run-invariant);
    // the accessor's derived fallback keeps the oracle gate
    // build-independent
    val tc = Indexes.triangleCounts(s, dir)
    TopK.global(tc, col("n_tri"), col("node"), 50)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_tri").desc, col("node").asc)).cast("long"))
      .select(col("rk"), col("node"), col("n_tri"))
  }

  lazy val q153Sql: String =
    s"""WITH edges AS ($edgesSql),
       |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |      FROM edges),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
       |       JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
       |pn AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_tri DESC, node ASC)
       |    AS BIGINT) AS rk, node, n_tri
       |FROM pn ORDER BY n_tri DESC, node ASC LIMIT 50""".stripMargin

  /** q169 — label-propagation community detection (Raghavan et al.
    * 2007), 3 SYNCHRONIZED rounds from identity labels: each node
    * adopts its neighbors' most frequent label, ties to the smallest —
    * exact integer counts and a total tie order make every round
    * deterministic and SQL-unrollable (the q134 fixed-round
    * discipline). Output: the 20 largest communities.
    *
    * Scale: each round is one (edges ⋈ labels) shuffle + one
    * (node, label) count + one per-node argmax aggregate — nothing
    * corpus-global; labels stay |nodes|-sized. The same prebuilt edge
    * table as the rest of the graph family.
    */
  def q169(s: SparkSession, dir: String): DataFrame = {
    // read once per round: cut the derived edge set once; prebuilt
    // edges are a parquet scan, and re-checkpointing 2.4M rows per run
    // is pure cost
    val e = graft.operators.Materialize.unlessScan(Indexes.coPurchaseEdges(s, dir))
    val (labels0, nNodes) = graft.operators.Materialize.stableCounted(
      e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    var labels = labels0
    // label frame is |nodes|-sized: broadcast it (gated on the same
    // node cap as pageRank — an explicit hint is always honored) so
    // each round's join is map-side; only the count shuffle remains
    val useBroadcast = nNodes <= GraphOps.PageRankBroadcastNodeCap
    (1 to 3).foreach { _ =>
      val lab = labels.select(col("node").as("dst"), col("label"))
      val nbr = e.join(if (useBroadcast) broadcast(lab) else lab, Seq("dst"))
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // the (cnt desc, label asc) argmax as an aggregate: the min of
      // (−cnt, label) per node, no sort
      labels = nbr.groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("ncnt"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
        .transform(graft.operators.Materialize.stable)
    }
    val sizes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"))
    TopK.global(sizes, col("n_members"), col("community"), 20)
  }

  private def lpaRoundSql(src: String, out: String): String =
    s"""$out AS (
       |  SELECT node, label FROM (
       |    SELECT e.src AS node, l.label,
       |      CAST(COUNT(*) AS BIGINT) AS cnt
       |    FROM edges e JOIN $src l ON e.dst = l.node
       |    GROUP BY 1, 2)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY node
       |    ORDER BY cnt DESC, label ASC) = 1)""".stripMargin

  lazy val q169Sql: String =
    s"""WITH edges AS ($edgesSql),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |${lpaRoundSql("l0", "l1")},
       |${lpaRoundSql("l1", "l2")},
       |${lpaRoundSql("l2", "l3")}
       |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  MIN(node) AS min_node
       |FROM l3 GROUP BY 1
       |ORDER BY n_members DESC, community ASC LIMIT 20""".stripMargin

  /** q180 — k-core decomposition, 3 bounded peeling rounds (Seidman
    * 1983; the degeneracy-ordering building block of cohesive-subgraph
    * mining): round 1 keeps nodes with full degree >= k, each later
    * round recomputes degrees WITHIN the surviving set and peels again.
    * Fixed rounds + exact integer degrees make every round
    * deterministic and SQL-unrollable (the q134/q169 fixed-round
    * discipline). Output: surviving nodes with their full and
    * within-core degrees.
    *
    * Scale: each round is two semi-joins of the edge table against the
    * |active|-sized node set (broadcast under the same cap as
    * pageRank/LPA) + one count — no corpus-global state, and the edge
    * table is the prebuilt shared graph artifact. Convergence-to-
    * fixpoint would loop the same round with a stall check; fixed
    * rounds keep the oracle expressible.
    */
  def q180(s: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Materialize.unlessScan(Indexes.coPurchaseEdges(s, dir))
    val deg0 = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg_full"))
      .transform(graft.operators.Materialize.stable)
    // k tracks the graph, not the scale factor: 0.7 × mean degree + 1
    // (integer arithmetic — both engines floor the same way). Two
    // scalars cross the driver, nothing else.
    val st = deg0.agg(sum(col("deg_full")).cast("long"),
      count(lit(1))).collect()(0)
    val k = st.getLong(0) * 7L / (10L * st.getLong(1)) + 1L
    val useBroadcast = st.getLong(1) <= GraphOps.PageRankBroadcastNodeCap
    def gate(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    var active = deg0.filter(col("deg_full") >= k).select(col("node"))
      .transform(graft.operators.Materialize.stable)
    (1 to 2).foreach { _ =>
      active = e
        .join(gate(active.select(col("node").as("src"))), Seq("src"))
        .join(gate(active.select(col("node").as("dst"))), Seq("dst"))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("node"))
        .transform(graft.operators.Materialize.stable)
    }
    val coreDeg = e
      .join(gate(active.select(col("node").as("src"))), Seq("src"))
      .join(gate(active.select(col("node").as("dst"))), Seq("dst"))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    coreDeg.join(deg0, Seq("node"))
      .select(col("node"), col("deg_full"), col("core_deg"))
  }

  private def kcoreRoundSql(src: String, out: String): String =
    s"""$out AS (
       |  SELECT e.src AS node FROM edges e
       |  JOIN $src x ON e.src = x.node
       |  JOIN $src y ON e.dst = y.node
       |  GROUP BY 1 HAVING COUNT(*) >= (SELECT k FROM kv))""".stripMargin

  lazy val q180Sql: String =
    s"""WITH edges AS ($edgesSql),
       |d0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg_full
       |       FROM edges GROUP BY 1),
       |kv AS (SELECT (SUM(deg_full) * 7) // (10 * COUNT(*)) + 1 AS k FROM d0),
       |a1 AS (SELECT node FROM d0 WHERE deg_full >= (SELECT k FROM kv)),
       |${kcoreRoundSql("a1", "a2")},
       |${kcoreRoundSql("a2", "a3")},
       |core AS (
       |  SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
       |  FROM edges e
       |  JOIN a3 x ON e.src = x.node
       |  JOIN a3 y ON e.dst = y.node
       |  GROUP BY 1)
       |SELECT c.node, d.deg_full, c.core_deg
       |FROM core c JOIN d0 d ON c.node = d.node""".stripMargin

  /** q197 — PERSONALIZED PageRank from a 3-node seed set (the "related
    * to THESE products/functions" ranking — restart mass returns to
    * the seeds instead of spreading uniformly, so scores measure
    * proximity to the seed neighborhood): 3 unrolled rounds over the
    * prebuilt degree-joined edge frame, rank frames stay SPARSE (only
    * reached nodes carry rows), per-round lineage cuts, integer
    * micro-unit arithmetic (contrib = round(pr/outdeg) per edge,
    * pr' = round(0.85·in) + 150000·[seed]). Top-20 by score.
    */
  def q197(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = Seq(1L, 2L, 3L)
    val withDeg = Indexes.edgesOutdeg(s, dir)
    var pr: DataFrame = {
      import s.implicits._
      seeds.toDF("node").withColumn("pr_micro", lit(1000000L))
    }
    (1 to 3).foreach { _ =>
      pr = withDeg
        .join(broadcast(pr), withDeg("src") === pr("node"))
        .select(col("dst"),
          round(col("pr_micro").cast("double") / col("outdeg"), 0)
            .cast("long").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_micro"))
        .select(col("dst").as("node"),
          (round(lit(0.85) * col("in_micro"), 0).cast("long") +
            when(col("dst").isin(seeds: _*), 150000L).otherwise(0L))
            .as("pr_micro"))
        .transform(graft.operators.Materialize.stable)
    }
    TopK.global(pr, col("pr_micro"), col("node"), 20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pr_micro").desc, col("node").asc)).cast("long"))
      .select(col("rk"), col("node"), col("pr_micro"))
  }

  private def pprRoundSql(src: String, out: String): String =
    s"""$out AS (
       |  SELECT dst AS node,
       |    CAST(ROUND(0.85 *
       |        SUM(CAST(ROUND(pr::DOUBLE / outdeg, 0) AS BIGINT)), 0)
       |      AS BIGINT)
       |      + CASE WHEN dst IN (1, 2, 3) THEN 150000 ELSE 0 END AS pr
       |  FROM ed JOIN $src ON ed.src = $src.node
       |  GROUP BY dst)""".stripMargin

  lazy val q197Sql: String =
    s"""WITH edges AS ($edgesSql),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.outdeg
       |       FROM edges e JOIN deg d ON e.src = d.src),
       |p0 AS (SELECT unnest([1, 2, 3]) AS node, CAST(1000000 AS BIGINT) AS pr),
       |${pprRoundSql("p0", "p1")},
       |${pprRoundSql("p1", "p2")},
       |${pprRoundSql("p2", "p3")}
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS BIGINT)
       |    AS rk,
       |  node, pr AS pr_micro
       |FROM p3 ORDER BY pr DESC, node ASC LIMIT 20""".stripMargin

  /** q199 — DEGREE-DISTRIBUTION summary (the first thing a graph
    * practitioner looks at before choosing algorithms/salting: is this
    * graph heavy-tailed?): log2-binned histogram of co-purchase
    * degrees — bin = floor(log2(deg)) computed as bit-length − 1
    * (length(bin(x)) is identical integer machinery in both engines) —
    * with per-bin node counts, degree bounds, and share in ppm. One
    * degree aggregate + one |bins|-sized aggregate.
    */
  def q199(s: SparkSession, dir: String): DataFrame = {
    val deg = Indexes.coPurchaseEdges(s, dir)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("n_nodes"))
    deg.withColumn("bin", (length(expr("bin(deg)")) - 1).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_in_bin"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .crossJoin(broadcast(n))
      .select(col("bin"), col("n_in_bin"), col("min_deg"), col("max_deg"),
        round(col("n_in_bin").cast("double") * 1e6 / col("n_nodes"), 0)
          .cast("long").as("share_ppm"))
  }

  lazy val q199Sql: String =
    s"""WITH edges AS ($edgesSql),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1)
       |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_in_bin,
       |  MIN(deg) AS min_deg, MAX(deg) AS max_deg,
       |  CAST(ROUND(COUNT(*)::DOUBLE * 1e6
       |    / (SELECT COUNT(*) FROM deg), 0) AS BIGINT) AS share_ppm
       |FROM deg GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q199_degree_distribution", q199, Some(q199Sql)),
    QueryDef("q197_personalized_pagerank", q197, Some(q197Sql)),
    QueryDef("q180_graph_kcore", q180, Some(q180Sql)),
    QueryDef("q169_graph_lpa_communities", q169, Some(q169Sql)),
    QueryDef("q134_graph_pagerank", q134, Some(q134Sql)),
    QueryDef("q153_graph_triangles", q153, Some(q153Sql)),
    QueryDef("q21_graph_neighbors_topk", q21, Some(q21Sql)),
    QueryDef("q22_graph_bfs_closure", q22, Some(q22Sql)),
    QueryDef("q23_graph_related_cooccur", q23, Some(q23Sql)),
    QueryDef("q24_graph_dead_tiers", q24, Some(q24Sql)),
    QueryDef("q25_graph_impact_reach", q25, Some(q25Sql)),
    QueryDef("q43_graph_hotspots_scaled", q43, Some(q43Sql)))
}
