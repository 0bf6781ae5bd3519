package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends SparkTestBase {

  test("exact dedup groups identical content and counts copies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "something else"), (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 3L).get
    assert(dup.getAs[Long]("canonical_id") == 1L)
  }

  test("minhash LSH output equals exhaustive jaccard pairs at threshold 0.5") {
    val docs = Tables.documents(spark, sf)
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
        numHashes = 64, numBands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exhaustive ground truth: single-block scan (no blocking key)
    val exhaustive = Dedup.ngramJaccardPairs(
        docs.withColumn("blk", lit(1)), "doc_id", "text", Seq("blk"), 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exhaustive.nonEmpty, "corpus should contain near-dup pairs")
    assert(lsh.toSeq == exhaustive.toSeq)
  }

  test("minhash signature is deterministic and length numHashes") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    def sig() = Dedup.minhashSignatureAgg(
        df.withColumn("sh", Dedup.shingles(col("text"))), "id", "sh", 32)
      .head.getSeq[Long](1)
    val (sig1, sig2) = (sig(), sig())
    assert(sig1.length == 32 && sig1 == sig2)
    assert(sig1.forall(v => v >= 0 && v < 2147483647L))
  }

  test("simhash16 matches an independent row-at-a-time computation") {
    import spark.implicits._
    val docs = Seq((1L, "Alpha beta gamma alpha"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val got = Dedup.simhash16(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def ref(text: String): Long = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.length >= 2)
      val tf = toks.groupBy(identity).view.mapValues(_.length)
      val votes = new Array[Long](16)
      tf.foreach { case (t, n) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        for (k <- 0 until 16)
          if (hex.charAt(k) >= '8') votes(k) += n else votes(k) -= n
      }
      (0 until 16).map(k => if (votes(k) > 0) 1L << k else 0L).sum
    }
    assert(got(1L) == ref("Alpha beta gamma alpha"))
    assert(got(2L) == ref("delta epsilon"))
  }

  test("canonicalize resolves transitive chains to the component minimum") {
    import spark.implicits._
    // components: {1,2,3,4} as a chain, {10,11} as a pair
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (3L, 4L, 0.9), (10L, 11L, 0.9))
      .toDF("id_a", "id_b", "jaccard_r")
    val out = Dedup.canonicalize(pairs, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: fixpoint equals union-find on chains, cliques, and a random graph") {
    import spark.implicits._
    // a 40-node chain — the case q45's bounded 3-round propagation
    // cannot resolve but the star alternation must
    val chain = (0L until 39L).map(i => (i, i + 1))
    // a clique, a triangle sharing no nodes, isolated pair, plus a
    // seeded random graph over nodes 100-139
    val clique = for (i <- 50L to 54L; j <- (i + 1) to 54L) yield (i, j)
    val rnd = new scala.util.Random(7)
    val random = (1 to 60).map(_ => (100L + rnd.nextInt(40), 100L + rnd.nextInt(40)))
      .filter { case (a, b) => a != b }
    val edges = chain ++ clique ++ Seq((70L, 71L), (61L, 60L)) ++ random
    val out = graft.operators.Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val want = nodes.map(n => n -> find(n)).toMap
    assert(out == want)
  }

  test("pair generation never plans a cartesian product") {
    val docs = Tables.documents(spark, sf)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.5)
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", 64, 16, 0.5)
    Seq("jaccard" -> jac, "lsh" -> lsh).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product:\n$plan")
    }
  }

  test("text-pipeline plan shapes: partitioned windows, no cartesian") {
    // q117's dedup window partitions by the SPAN, q118's cumulative
    // sum by the SHARD (lang) — neither may degrade to a corpus-global
    // unpartitioned window; q120's model joins must not go cartesian
    // (the 1-row vocab frame rides a broadcast)
    val p117 = graft.queries.TextQ.q117(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p117.contains("windowspecdefinition(span"),
      s"q117 window not partitioned by span:\n$p117")
    val p118 = graft.queries.TextQ.q118(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p118.contains("windowspecdefinition(lang"),
      s"q118 window not partitioned per shard:\n$p118")
    val p120 = graft.queries.TextQ.q120(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p120.contains("CartesianProduct"),
      s"q120 planned a cartesian product:\n$p120")
  }

  test("semDedup: complete partition, prune refs are the min earlier within-cluster near-dup") {
    val emb = Tables.embeddings(spark, sf)
    val out = Dedup.semDedup(emb, "vec_id", "embedding",
      col("vec_id") < 10, 0.35)
    val rows = out.collect()
    assert(rows.length == emb.count(), "one verdict row per vector")
    assert(rows.forall(r => r.getBoolean(2) == (r.getLong(3) == -1L)),
      "keep flag and pruned_by sentinel must agree")
    // ground truth: the within-cluster near-dup pairs over the SAME
    // learned clusters; pruned set must be exactly {id_b} with the
    // smallest id_a as the recorded canonical
    val m = emb.join(out.select(col("vec_id"), col("cluster")), Seq("vec_id"))
    val pairs = Dedup.embeddingNearDup(m, "vec_id", "embedding", "cluster", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = rows.filter(!_.getBoolean(2))
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val want = pairs.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    assert(got == want)
    assert(got.nonEmpty, "corpus should contain semantic near-dups")
    assert(got.forall { case (b, a) => a < b })
  }

  test("q121-q123 plan shapes: per-id/per-shard windows, no cartesian, broadcast model") {
    // q121's assignment argmax windows partition per vector id and its
    // pair join is cluster-keyed; q122's 4096-row model joins the gram
    // stream as a broadcast hash join; q123's layout windows partition
    // per shard — none may plan a corpus-global window or cartesian
    val p121 = graft.queries.DedupQ.q121(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p121.contains("windowspecdefinition(vec_id"),
      s"q121 assignment window not partitioned per vector:\n$p121")
    assert(!p121.contains("CartesianProduct"),
      s"q121 planned a cartesian product:\n$p121")
    val p122 = graft.queries.TextQ.q122(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p122.contains("CartesianProduct"),
      s"q122 planned a cartesian product:\n$p122")
    assert(p122.contains("BroadcastHashJoin"),
      s"q122 model join must broadcast:\n$p122")
    val p123 = graft.queries.TextQ.q123(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p123.contains("windowspecdefinition(shard"),
      s"q123 window not partitioned per shard:\n$p123")
  }

  test("q125-q128 plan shapes: broadcast-bounded joins, partitioned windows") {
    // q125's merge application joins a 1-row broadcast (never a
    // shuffled join); q126's cap window partitions by source and
    // q128's first-doc window by the gram (no corpus-global window);
    // q127's vocab join rides a broadcast; q128 plans no join at all
    val p125 = graft.queries.TextQ.q125(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p125.contains("SortMergeJoin") && !p125.contains("CartesianProduct"),
      s"q125 merge application must stay broadcast-shaped:\n$p125")
    val p126 = graft.queries.TextQ.q126(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p126.contains("windowspecdefinition(source"),
      s"q126 cap window not partitioned by source:\n$p126")
    val p127 = graft.queries.TextQ.q127(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p127.contains("BroadcastHashJoin") && !p127.contains("CartesianProduct"),
      s"q127 vocab join must broadcast:\n$p127")
    val p128 = graft.queries.TextQ.q128(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p128.contains("windowspecdefinition(gram"),
      s"q128 first-doc window not partitioned by gram:\n$p128")
    assert(!p128.contains("Join"), s"q128 must plan no join:\n$p128")
  }

  test("q125 BPE semantics: merged symbol, monotone counts, greedy replace") {
    val rows = graft.queries.TextQ.q125(spark, sf)
      .orderBy("merge_rank").collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getString(2) == r.getString(1).replace(" ", "")),
      "merged symbol must be the pair without its separator")
    // after applying the argmax merge, no later pair can beat it:
    // untouched pairs kept their counts (<= max), and every pair the
    // merge creates occurs at most once per merged site
    val counts = rows.map(_.getLong(3))
    assert(counts.sliding(2).forall(a => a(0) >= a(1)),
      s"pair counts must be non-increasing across rounds: ${counts.toSeq}")
    assert(counts.forall(_ > 0))
  }

  test("q126-q128 semantics: cap arithmetic, rate bounds, first-doc novelty") {
    val caps = graft.queries.TextQ.q126(spark, sf).collect()
    assert(caps.forall(r => r.getLong(2) <= 10 &&
      r.getLong(2) + r.getLong(3) == r.getLong(1)),
      "kept <= cap and kept + dropped = total per source")
    val oov = graft.queries.TextQ.q127(spark, sf).collect()
    assert(oov.forall(r => r.getLong(2) <= r.getLong(1) &&
      r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
    val nov = graft.queries.TextQ.q128(spark, sf).collect()
    assert(nov.forall(r => r.getLong(2) <= r.getLong(1) &&
      r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
    // the earliest long-enough document can only contain first-seen
    // grams, so its novelty is exactly 1.0
    val firstDoc = nov.map(_.getLong(0)).min
    val firstRow = nov.find(_.getLong(0) == firstDoc).get
    assert(firstRow.getLong(3) == 1000000L,
      s"earliest doc must be fully novel: $firstRow")
  }

  test("q130 KMV sketch: per-source window, sane estimates, valid k") {
    val df = graft.queries.TextQ.q130(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(source"),
      s"q130 kth-min window must partition by source:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 64, "k=64 sketch needs more distinct grams than k")
      val err = r.getLong(3)
      // KMV k=64 has ~12.5% std error; ±60% is a 4.8-sigma regression trap
      assert(math.abs(err) <= 600000L,
        s"KMV estimate off by ${err} ppm for ${r.getString(0)}")
    }
  }

  test("q131 CMS never underestimates; q132 heap-selects before any global window") {
    val cms = graft.queries.TextQ.q131(spark, sf)
    val cmsPlan = cms.queryExecution.executedPlan.toString
    assert(!cmsPlan.contains("CartesianProduct"))
    val cmsRows = cms.collect()
    assert(cmsRows.length == 20)
    // the Count-Min guarantee: estimate >= truth, always
    assert(cmsRows.forall(r => r.getLong(2) >= r.getLong(1) && r.getLong(3) >= 0L),
      "CMS must never underestimate")
    val es = graft.queries.TextQ.q132(spark, sf)
    val esPlan = es.queryExecution.executedPlan.toString
    // the q60 discipline: the corpus is cut to 50 by a TopK heap; the
    // single-partition rank window runs on 50 rows only
    assert(esPlan.contains("TakeOrderedAndProject"),
      s"q132 selection must be a bounded heap:\n$esPlan")
    val esRows = es.collect()
    assert(esRows.length == 50 &&
      esRows.map(_.getLong(0)).sorted.sameElements(1L to 50L))
    assert(esRows.forall(_.getLong(2) > 0L), "zero-weight docs are excluded")
    // reproducible: a second run selects the identical sample
    val again = graft.queries.TextQ.q132(spark, sf).collect()
    assert(esRows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("incrementalDedup: all four verdicts, canonical match ids, no cartesian") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    val index = Seq(
      (1L, base + " omega"),
      (2L, "totally different content words live here again fine ok sure"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " omega"),                                  // exact dup of index 1
      (11L, "brand new words nobody wrote before today anywhere at all"),
      (12L, "brand new words nobody wrote before today anywhere at all"),
      (13L, base + " zomega"))                                 // near dup of index 1
      .toDF("doc_id", "text")
    val df = Dedup.incrementalDedup(index, batch, "doc_id", "text", 0.5)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val out = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(10L) == (("exact_dup_index", 1L)))
    assert(out(11L) == (("novel", -1L)))
    assert(out(12L) == (("exact_dup_batch", 11L)))
    assert(out(13L) == (("near_dup_index", 1L)))
  }

  test("embedding near-dup returns symmetric-free ordered pairs above threshold") {
    val out = Dedup.embeddingNearDup(Tables.embeddings(spark, sf),
      "vec_id", "embedding", "label", 0.35).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(r => r.getDouble(2) >= 0.35))
  }

  test("embeddingNearDup occupancy cap: one mega-block grid-splits to identical pairs") {
    // skew scenario: learned blocking put the WHOLE corpus in one block
    // (the unbounded O(c²) single-reducer case the cap exists for); the
    // grid-split result must be row-identical to the uncapped join
    val m = Tables.embeddings(spark, sf).withColumn("blk", lit(0))
    def run(cap: Long) =
      Dedup.embeddingNearDup(m, "vec_id", "embedding", "blk", 0.3,
          maxBlockRows = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = run(16L)
    val uncapped = run(Long.MaxValue)
    assert(capped.nonEmpty, "mega-block corpus should contain near-dups")
    assert(capped == uncapped)
    // sub-block occupancy is bounded: recompute the operator's own
    // assignment (k = ceil(c/cap), g = pmod(xxhash64(id), k)) and check
    // no sub-block holds more than a small multiple of the cap (md5-ish
    // balance, not exact equality)
    val c = m.count()
    val k = math.ceil(c.toDouble / 16.0).toLong
    val occ = m.select(pmod(xxhash64(col("vec_id").cast("string")), lit(k))
        .as("g"))
      .groupBy("g").count().collect().map(_.getLong(1))
    assert(occ.length.toLong <= k && k > 1)
    assert(occ.max <= 4 * 16, s"sub-block occupancy unbalanced: ${occ.toSeq}")
  }

  test("q135-q138 plan shapes: broadcast models/bitsets, no shuffled joins on fixed sides") {
    // q135's vocab-sized weight table and q137's bit array must ride
    // broadcast joins; q136's benchmark side is the broadcast of a
    // fixed-size suite (the ONLY nested-loop in the family — bounded by
    // the 40-row benchmark, the q17 brute-force discipline); q138's two
    // leak checks are equi-joins (never a cartesian)
    val p135 = graft.queries.TextQ.q135(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p135.contains("BroadcastHashJoin"),
      s"q135 model join must broadcast:\n$p135")
    assert(!p135.contains("SortMergeJoin") && !p135.contains("CartesianProduct"),
      s"q135 must not shuffle-join the model:\n$p135")
    val p136 = graft.queries.AnnQ.q136(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p136.contains("SortMergeJoin") && !p136.contains("CartesianProduct"),
      s"q136 corpus side must meet the benchmark row-locally:\n$p136")
    assert(!p136.contains("windowspecdefinition"),
      s"q136 argmax must be a map-side-combined agg, not a window:\n$p136")
    val p137 = graft.queries.DedupQ.q137(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p137.contains("BroadcastHashJoin"),
      s"q137 bit-array probe must broadcast:\n$p137")
    val p138 = graft.queries.DedupQ.q138(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p138.contains("CartesianProduct"),
      s"q138 leak joins must stay equi-keyed:\n$p138")
  }

  test("q135-q138 semantics: classifier separates, bloom never false-negative, leak flags consistent") {
    // the classifier must actually separate the curated slice: its
    // positive rate on curated docs exceeds the raw-slice rate
    val nb = graft.queries.TextQ.q135(spark, sf).collect()
    def rate(cur: Boolean) = {
      val s = nb.filter(_.getAs[Boolean]("curated") == cur)
      s.count(_.getAs[Boolean]("predicted_curated")).toDouble / s.length
    }
    assert(rate(true) > rate(false),
      s"NB classifier failed to separate: curated ${rate(true)} vs raw ${rate(false)}")
    val cos = graft.queries.AnnQ.q136(spark, sf).collect()
    assert(cos.forall(r => math.abs(r.getAs[Double]("max_cos_r")) <= 1.0))
    assert(cos.forall(r => r.getAs[Boolean]("contaminated") ==
      (r.getAs[Double]("max_cos_r") >= 0.35)))
    // the Bloom guarantee: an exact dup can NEVER be bloom-filtered
    val bl = graft.queries.DedupQ.q137(spark, sf).collect()
    assert(bl.nonEmpty)
    assert(bl.forall(r => !r.getAs[Boolean]("exact_dup") ||
      r.getAs[Boolean]("bloom_hit")),
      "bloom filter produced a false negative")
    assert(bl.forall { r =>
      val v = r.getAs[String]("verdict")
      if (!r.getAs[Boolean]("bloom_hit")) v == "filtered"
      else if (r.getAs[Boolean]("exact_dup")) v == "true_positive"
      else v == "false_positive"
    })
    val lk = graft.queries.DedupQ.q138(spark, sf).collect()
    assert(lk.forall(r =>
      (r.getAs[Boolean]("leak_exact") == (r.getAs[Long]("exact_partner") >= 0L)) &&
      (r.getAs[Boolean]("leak_near") == (r.getAs[Long]("near_partner") >= 0L)) &&
      (r.getAs[Boolean]("leaked") ==
        (r.getAs[Boolean]("leak_exact") || r.getAs[Boolean]("leak_near")))))
    assert(lk.exists(_.getAs[Boolean]("leaked")),
      "corpus contains near-dups, so a ~19% val split should catch a leak")
  }

  test("q139 quantile sketch: conservative upper edge, monotone quantiles, domain-bounded windows") {
    val df = graft.queries.TextQ.q139(spark, sf)
    val rows = df.orderBy("q").collect()
    assert(rows.length == 3)
    // histogram answer is a conservative UPPER bin edge: est >= exact,
    // within one bin width (8) of it, so err_ppm is non-negative
    rows.foreach { r =>
      val est = r.getAs[Long]("est_hi"); val ex = r.getAs[Long]("exact_w")
      assert(est >= ex && est - ex <= 8, s"sketch answer out of bin bounds: $r")
      assert(r.getAs[Long]("err_ppm") >= 0L)
    }
    // quantiles are monotone in q
    val ests = rows.map(_.getAs[Long]("est_hi"))
    assert(ests.sliding(2).forall(a => a(0) <= a(1)))
  }
}
