package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  //  1 -> 2 -> 3 -> 4,  1 -> 5,  6 isolated from 1's component
  private lazy val chain = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L))
    .toDF("src", "dst")

  test("cap-reachability gate: an under-cap closure matches the eager " +
    "rail row-for-row (bfs and bfsLabeled)") {
    // (bfsPaths runs the same loop and is pinned here too)
    // |seeds| + |edges| = 6 <= the default cap, so the gate drops the
    // per-level count jobs; forcing the eager rail with a tight (but
    // non-truncating) cap must give the identical closure
    val chain5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val s1 = Seq(1L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toSet
    val gated = rows(GraphOps.bfs(chain5, s1, maxDepth = 5))
    // bound 6 > maxNodes 5 -> eager; nodeCount only exceeds 5 after
    // the last level, so nothing is truncated
    val eager = rows(GraphOps.bfs(chain5, s1, maxDepth = 5, maxNodes = 5L))
    assert(gated == eager && gated.size == 6)
    def paths(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val pgated = paths(GraphOps.bfsPaths(chain5, s1, maxDepth = 5))
    val peager = paths(GraphOps.bfsPaths(chain5, s1, maxDepth = 5, maxNodes = 5L))
    assert(pgated == peager && pgated.size == 6)
    assert(pgated.contains((6L, 5, "1->2->3->4->5->6")))
    val seeds2 = Seq((1L, 1L), (8L, 8L)).toDF("seed", "node")
    val lchain = Seq((1L, 2L), (2L, 3L), (8L, 2L)).toDF("src", "dst")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val lgated = pairs(GraphOps.bfsLabeled(lchain, seeds2, maxDepth = 5))
    // pairCount 2 > 6/(3+1) -> eager, cap 6 = final pair count (never
    // exceeded mid-walk)
    val leager = pairs(GraphOps.bfsLabeled(lchain, seeds2, maxDepth = 5,
      maxNodes = 6L))
    assert(lgated == leager && lgated.size == 6)
  }

  test("cap-reachability probe saturates above Int range (r12 advice): " +
    "a maxNodes past Int.MaxValue neither throws nor drops the rail") {
    // (maxNodes + 1).toInt used to wrap: 2^32 gave limit(1) (probe
    // undercounts -> gate silently drops the cap), Int.MaxValue + 2
    // gave a negative limit (AnalysisException at runtime). Saturated
    // probe: tiny graph, huge cap -> uncapped gate engages and the
    // closure is complete.
    val s1 = Seq(1L).toDF("node")
    val big = GraphOps.bfs(chain, s1, maxDepth = 3,
      maxNodes = Int.MaxValue.toLong + 2L)
    assert(big.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    val pow32 = GraphOps.bfs(chain, s1, maxDepth = 3, maxNodes = 1L << 32)
    assert(pow32.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  /** Spark jobs `body` starts, with its result. Listener events arrive
    * asynchronously but in order, so a sentinel job run before and after
    * `body` brackets exactly the jobs `body` started.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val sentinel = new AtomicReference(new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") != null))
          sentinel.get.countDown()
        else started.incrementAndGet()
    }
    def sync(): Unit = {
      val seen = new CountDownLatch(1)
      sentinel.set(seen)
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener events not delivered")
    }
    sc.addSparkListener(listener)
    try {
      sync()
      started.set(0)
      val out = body
      sync()
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Per BFS mode on one small parquet graph — 1 -> {2, 5}, 2 -> 3 -> 4,
    * and 6 -> 7 -> 8 -> 9 out of reach (7 edges; seed 1's closure is 5
    * nodes, the last at depth 3) — the jobs the BFS starts while it is
    * built, and its lineage cuts (distinct checkpoint leaves of the
    * result's analyzed plan). Every mode must reach the same 5 nodes.
    */
  private def assertBfsModes(reliableCheckpoint: Boolean): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val dir = java.nio.file.Files.createTempDirectory("graft_bfs_modes").toString
    Seq((1L, 2L), (1L, 5L), (2L, 3L), (3L, 4L), (6L, 7L), (7L, 8L), (8L, 9L))
      .toDF("src", "dst").write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    val s1 = Seq(1L).toDF("node")
    def run(bfs: => DataFrame): (Int, Int) = {
      val (out, jobs) = jobsOf(bfs)
      val cuts = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
        .distinct.size
      assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
      (jobs, cuts)
    }
    val got = Map(
      "shallow" -> run(GraphOps.bfs(e, s1, maxDepth = 3, maxNodes = Long.MaxValue)),
      // a derived edge frame is cut once (the only cut in shallow mode)
      "shallow, derived edges" ->
        run(GraphOps.bfs(e.distinct(), s1, maxDepth = 3, maxNodes = Long.MaxValue)),
      // counted levels, exit on the empty level 4
      "uncapped deep" -> run(GraphOps.bfs(e, s1, maxDepth = 6, maxNodes = Long.MaxValue)),
      // 1 seed + 7 edges <= 10k: the probe passes, every level is cut
      "capped, gate passed" -> run(GraphOps.bfs(e, s1, maxDepth = 6)),
      // 1 + 7 > 7: counted levels, exit on the empty level 4
      "capped, gate failed" -> run(GraphOps.bfs(e, s1, maxDepth = 6, maxNodes = 7L)),
      "path" -> run(GraphOps.bfsPaths(e, s1, maxDepth = 4, maxNodes = Long.MaxValue)))
    // (jobs, cuts). Jobs include AQE's per-stage jobs. A reliable
    // checkpoint writes eagerly, so each counted cut (stableCounted: all
    // but the levels of a passed gate) pays a second job for its count.
    val local = Map(
      "shallow" -> (0, 0), "shallow, derived edges" -> (2, 1),
      "uncapped deep" -> (18, 5), "capped, gate passed" -> (22, 7),
      "capped, gate failed" -> (20, 5), "path" -> (19, 5))
    val want = if (!reliableCheckpoint) local
      else local ++ Map("uncapped deep" -> (23, 5), "capped, gate passed" -> (23, 7),
        "capped, gate failed" -> (25, 5), "path" -> (24, 5))
    assert(got == want)
  }

  test("one frontier loop: lineage cuts and eager jobs per BFS mode") {
    assertBfsModes(spark.sparkContext.getCheckpointDir.isDefined)
  }

  test("bfs: min hop depth, depth cap respected") {
    val out = GraphOps.bfs(chain, Seq(1L).toDF("node"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 5L -> 1, 3L -> 2))
  }

  test("bfs: cycle terminates, node keeps first (minimum) depth") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.bfs(cyc, Seq(1L).toDF("node"), maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("bfs: node cap stops expansion") {
    val star = (2L to 100L).map(i => (1L, i)).toDF("src", "dst")
    val out = GraphOps.bfs(star, Seq(1L).toDF("node"), maxDepth = 5, maxNodes = 1)
    // cap hit after the seed level is exceeded by level-1 expansion:
    // expansion stops, but the already-found frontier remains
    assert(out.count() == 100)
    assert(out.agg(max("depth")).head.getInt(0) == 1)
  }

  test("bfsLabeled: per-seed reachability, visited-set stops cycle " +
    "re-expansion, pair cap engages on a hub graph") {
    // two seeds over a shared chain with a cycle back to its head:
    // each seed's closure is attributed independently
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (9L, 2L)).toDF("src", "dst")
    val seeds = Seq((1L, 1L), (9L, 9L)).toDF("seed", "node")
    val out = GraphOps.bfsLabeled(cyc, seeds, maxDepth = 10,
        maxNodes = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // depth-10 over a 3-cycle terminates with first-depth kept: the
    // visited set is what bounds the loop, not the depth cap
    assert(out == Map((1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2,
      (9L, 9L) -> 0, (9L, 2L) -> 1, (9L, 3L) -> 2, (9L, 1L) -> 3))
    // hub graph: seed fans out to 200 nodes which all funnel into one
    // hub that fans out again — the pair cap stops expansion after the
    // level that exceeds it (the r10 verdict hub-corpus scenario)
    val hub = ((2L to 201L).map(i => (1L, i)) ++
      (2L to 201L).map(i => (i, 500L)) ++
      (502L to 600L).map(i => (500L, i))).toDF("src", "dst")
    val capped = GraphOps.bfsLabeled(hub,
      Seq((1L, 1L)).toDF("seed", "node"), maxDepth = 5, maxNodes = 10L)
    // level 1 lands 200 pairs > cap of 10: expansion stops there —
    // the hub's second fan-out (99 more) is never materialized
    assert(capped.count() == 201)
    assert(capped.agg(max("depth")).head.getInt(0) == 1)
  }

  test("pageRank: exact micro-unit values on a symmetric star, deterministic") {
    import spark.implicits._
    // symmetric star 1 <-> {2,3,4}: outdeg(1)=3, outdeg(leaf)=1
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    def pageRank(iters: Int) =
      GraphOps.pageRankFromDegreeJoined(GraphOps.degreeJoinedEdges(edges), iters)
    val pr1 = pageRank(iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // center: 150000 + 0.85 * (3 leaves x 1e6/1)       = 2,700,000
    // leaf:   150000 + 0.85 * round(1e6/3) = 433,333 (exact hand calc)
    assert(pr1(1L) == 2700000L, s"center: ${pr1(1L)}")
    assert(Seq(2L, 3L, 4L).forall(n => pr1(n) == 433333L), pr1.toString)
    // mass propagates, stays positive, and the run is reproducible
    val a = pageRank(iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = pageRank(iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    assert(a.forall(_._2 > 0L) && a.head._2 > a(1)._2,
      "hub must outrank leaves after 3 rounds")
  }

  test("pageRank: round N's plan does not contain round N-1's join (per-round lineage cut)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRankFromDegreeJoined(GraphOps.degreeJoinedEdges(edges), iters = 3)
    // the final frame's ANALYZED plan must be a bare checkpoint scan:
    // zero Join nodes (rounds 1..N-1 live behind LogicalRDDs, so the
    // broadcast collect of round N's rank side never recomputes them —
    // without the cut this plan holds 3 nested joins and round-join
    // work is O(iters^2))
    val joins = pr.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty,
      s"final rank frame re-derives ${joins.size} round-join(s) instead of scanning its checkpoint")
  }

  test("bfsReverse walks edges backwards (impact direction)") {
    val out = GraphOps.bfsReverse(chain, Seq(4L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(4L -> 0, 3L -> 1, 2L -> 2, 1L -> 3))
  }

  test("collapseByTrust picks by explicit rank, not lexical order") {
    // lexically 'aaa' < 'call' but rank says call (0) wins
    val e = Seq((1L, 2L, "aaa"), (1L, 2L, "call")).toDF("src", "dst", "kind")
    val out = GraphOps.collapseByTrust(e, Map("call" -> 0, "aaa" -> 9)).collect()
    assert(out.length == 1 && out.head.getString(2) == "call")
  }

  test("related: co-occurrence counts shared neighbors") {
    // 1 and 8 share {2,5}; 1 and 6 share nothing
    val e = Seq((1L, 2L), (1L, 5L), (8L, 2L), (8L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val out = GraphOps.related(e, Seq(1L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 8L, 2L)))
  }

  test("bfsPaths: shortest paths with deterministic lexicographic tie-break") {
    // 1 -> {2, 3} -> 4: two shortest paths to 4; "1->2->4" < "1->3->4"
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val out = GraphOps.bfsPaths(g, Seq(1L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1L) == (0, "1"))
    assert(out(2L) == (1, "1->2"))
    assert(out(3L) == (1, "1->3"))
    assert(out(4L) == (2, "1->2->4"))
    // depth/path agree with plain bfs closure
    val plain = GraphOps.bfs(g, Seq(1L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.view.mapValues(_._1).toMap == plain)
  }

  test("Versioned: commit appends, asOf resolves MVCC state with tombstones") {
    import graft.operators.Versioned
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("gen", lit(1L)).withColumn("is_deleted", lit(false))
    val log2 = Versioned.commit(base,
      Seq((2L, "b2")).toDF("id", "v"), Seq(Tuple1(3L)).toDF("id"), "id", 2L)
    val log3 = Versioned.commit(log2,
      Seq((3L, "c3"), (4L, "d")).toDF("id", "v"),
      Seq.empty[Tuple1[Long]].toDF("id"), "id", 3L)
    def state(g: Long) = Versioned.asOf(log3, "id", g)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(1L) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(state(2L) == Map(1L -> "a", 2L -> "b2")) // 3 tombstoned
    assert(state(3L) == Map(1L -> "a", 2L -> "b2", 3L -> "c3", 4L -> "d")) // resurrected
  }

  test("q23's physical plan carries the salted join") {
    val plan = SparkEntry.queries("q23_graph_related_cooccur")(
      spark, sf).queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), "hub-dst join should be salted")
  }

  test("related: salted join is row-identical to the plain shuffle join") {
    // hub-skewed graph: every node points at hub 99 plus a few spokes
    val e = ((1L to 40L).map(i => (i, 99L)) ++
      Seq((1L, 2L), (3L, 2L), (5L, 6L), (7L, 6L), (1L, 6L)))
      .toDF("src", "dst").distinct()
    val seeds = Seq(1L, 3L).toDF("node")
    val salted = GraphOps.related(e, seeds, numSalts = 4)
    // plain-join mirror (what related computed before salting)
    val a = e.join(broadcast(seeds), e("src") === seeds("node"))
      .select(col("src").as("seed"), col("dst").as("shared"))
    val b = e.select(col("src").as("other"), col("dst").as("shared"))
    val plain = a.join(b, Seq("shared"))
      .filter(col("other") =!= col("seed"))
      .groupBy(col("seed"), col("other"))
      .agg(countDistinct(col("shared")).as("n_shared"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.count() > 0)
  }

  test("reliable checkpoint dir: deep capped BFS routes lineage cuts through it") {
    // with a checkpoint dir configured, Materialize.stable switches
    // from executor-local blocks to reliable checkpoint files — the
    // one-knob fault-tolerance upgrade for a real cluster. Results
    // must be identical either way.
    val chain = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val local = GraphOps.bfs(chain, seeds, maxDepth = 6, maxNodes = 100L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = GraphOps.bfs(chain, seeds, maxDepth = 6, maxNodes = 100L)
      assertBfsModes(reliableCheckpoint = true)
      assert(reliable.exceptAll(local).count() == 0)
      assert(local.exceptAll(reliable).count() == 0)
      // the checkpoint dir was actually used (files written)
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    } finally {
      // SparkContext has no unset; point it at a scratch dir for the
      // remaining suites so nothing else silently switches modes
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt_rest").toString)
    }
  }

  test("triangleCounts: exact per-node counts on a known graph, orientation-proof") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3), plus a triangle
    // {10,11,12} and a dangling edge (20,21), given the way the
    // co-purchase artifact stores edges: symmetric and distinct
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.triangleCountsFromOriented(
        GraphOps.orientEdgesFromSymmetric(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }
}
