package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus deduplication — the LLM-training-pipeline operator family
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine).
  *
  * Scale design: everything here is either (a) a content-hash groupBy
  * (one shuffle, map-side combine), or (b) a *blocked* pair generation —
  * LSH band buckets / metadata blocks — so the quadratic candidate space
  * is never materialized. At 100 TB the only all-pairs step ever run is
  * within-bucket, and bucket sizes are bounded by the banding/blocking
  * parameters, not the corpus size.
  */
object Dedup {

  // --- exact --------------------------------------------------------------

  /** Exact dedup by content hash: one row per distinct content with the
    * smallest id as canonical and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  // --- MinHash + LSH ------------------------------------------------------

  /** Deterministic affine MinHash parameters over the Mersenne prime
    * field p = 2^31-1 (fixed seed — signatures must be reproducible
    * across runs). Working mod p keeps every intermediate product under
    * 2^62, so the arithmetic is exact under Spark 4's default ANSI mode
    * (raw 64-bit wrap-around would throw ARITHMETIC_OVERFLOW).
    */
  private val MinhashSeed = 2026
  private val P: Long = 2147483647L // 2^31 - 1
  private def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(MinhashSeed)
    Seq.fill(numHashes)(
      (rnd.nextInt((P - 1).toInt).toLong + 1L, rnd.nextInt(P.toInt).toLong))
  }

  /** Word-3-gram shingle set (distinct, lowercased) — codegen'd kernel,
    * pinned bit-equal to array_distinct(wordNgrams(text, 3)) in
    * TextExprSpec.
    */
  def shingles(text: Column): Column =
    graft.functions.TextExpressions.shinglesFast(text, 3)

  /** HOF reference implementation of shingles (interpreted). */
  private[graft] def shinglesHof(text: Column): Column =
    array_distinct(TextFns.wordNgrams(text, 3))

  /** MinHash signatures: for each of numHashes affine functions
    * h_i(x) = (a_i·x + b_i) mod p over x = xxhash64(shingle) mod p, the
    * minimum over the doc's shingles — computed as explode + numHashes
    * primitive min-aggregates, not per-row array lambdas. Spark's
    * higher-order functions are interpreted (CodegenFallback) and box at
    * corpus scale; the exploded groupBy is a codegen'd hash aggregate
    * with map-side combine. One shuffle on the id.
    *
    * Docs with empty shingle sets produce no exploded rows and hence no
    * signature — they are naturally absent from the output.
    * Output: (idCol, sig array<bigint>).
    */
  def minhashSignatureAgg(withShingles: DataFrame, idCol: String,
                          shingleCol: String, numHashes: Int): DataFrame = {
    val hashed = withShingles
      .select(col(idCol), explode(col(shingleCol)).as("s"))
      .withColumn("h", pmod(xxhash64(col("s")), lit(P)))
    val aggs = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"__m$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH banding: (id, band_idx, band_key) rows — ids sharing any band
    * bucket are candidate pairs. The band key is the raw signature slice
    * (array<bigint> equi-join key), not a re-hash: exact, collision-free,
    * and still a plain shuffle key for Spark.
    */
  def lshBands(df: DataFrame, sigCol: String, idCol: String,
               numBands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band_idx"),
        slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand).as("band_key"))
    }
    df.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_key"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * bucket-join candidates → verify with EXACT Jaccard ≥ threshold.
    * Output: (id_a, id_b, jaccard_r) with id_a < id_b.
    *
    * LSH only *generates* candidates; the exact verify makes the output
    * precision-1.0 (recall depends on banding parameters — tested
    * against the exhaustive pair scan in DedupSpec).
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 64, numBands: Int = 16,
                 threshold: Double = 0.02): DataFrame = {
    // integer division below would silently drop trailing signature
    // positions from banding (recall loss) — fail loudly instead
    require(numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a multiple of numBands ($numBands)")
    // shingle-only frame: the verify joins must NOT re-derive the (much
    // more expensive) signature subtree — Catalyst reuses nothing across
    // self-join branches, so keep the signature out of the hydrate side
    // no size filter here: it would force a SECOND shingle evaluation
    // per row (filter + explode both inline the expression), and the
    // agg path needs none — empty shingle arrays explode to zero rows,
    // so empty docs never reach banding at all
    val withShingles = docs.withColumn("shingles", shingles(col(textCol)))
    // one signature row per doc — materialize so the band self-join's
    // two branches don't each rerun the whole signature aggregation
    val withSig = minhashSignatureAgg(withShingles, idCol, "shingles", numHashes)
      .transform(graft.operators.Materialize.stable)
    val bands = lshBands(withSig, "sig", idCol, numBands, numHashes / numBands)
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // verify-side shingles: narrow to candidate docs FIRST (semi-join on
    // the raw table), then re-derive shingles for that tiny set — the
    // full-corpus shingle computation runs exactly once (inside the
    // signature aggregation), not three times
    val candIds = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol))).distinct()
    val sh = docs.join(candIds, Seq(idCol), "left_semi")
      .withColumn("shingles", shingles(col(textCol)))
      .select(col(idCol), col("shingles"))
    candidates
      .join(sh.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard_r", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_r") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_r"))
  }

  /** Incremental dedup: classify a NEW BATCH of documents against an
    * already-ingested index — the shape a production pipeline actually
    * runs daily, where re-deduplicating the whole corpus per increment
    * is unaffordable. Verdict priority per batch doc:
    *
    *   1. exact_dup_index — content hash already in the index
    *   2. exact_dup_batch — hash of an EARLIER batch doc (min id wins)
    *   3. near_dup_index  — exact Jaccard ≥ threshold against an index
    *      doc, candidates from the CROSS-SET band-bucket join (batch
    *      bands probe the index's band table; never batch×index pairs)
    *   4. novel
    *
    * match_id = the canonical matching doc (−1 for novel). At scale the
    * index-side signatures/bands are PERSISTED build artifacts (the
    * Indexes discipline) — each increment pays only its own signature
    * pass plus bucket-bounded probes.
    */
  def incrementalDedup(index: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ih = index.select(col(idCol).as("iid"), md5(col(textCol)).as("h"))
    val bh = batch.select(col(idCol), md5(col(textCol)).as("h"))
    val exIdx = bh.join(ih, Seq("h"))
      .groupBy(col(idCol)).agg(min(col("iid")).as("m_exact_idx"))
    val exBatch = bh
      .withColumn("mb", min(col(idCol)).over(Window.partitionBy(col("h"))))
      .filter(col("mb") < col(idCol))
      .select(col(idCol), col("mb").as("m_exact_batch"))
    val iSig = minhashSignatureAgg(
        index.withColumn("shingles", shingles(col(textCol))),
        idCol, "shingles", 64)
      .transform(Materialize.stable)
    val bSig = minhashSignatureAgg(
        batch.withColumn("shingles", shingles(col(textCol))),
        idCol, "shingles", 64)
      .transform(Materialize.stable)
    val ib = lshBands(iSig, "sig", idCol, 16, 4).withColumnRenamed(idCol, "iid")
    val bb = lshBands(bSig, "sig", idCol, 16, 4)
    val cands = bb.join(ib, Seq("band_idx", "band_key"))
      .select(col(idCol), col("iid")).distinct()
    val shB = batch
      .join(cands.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol), shingles(col(textCol)).as("sh_b"))
    val shI = index.withColumnRenamed(idCol, "iid")
      .join(cands.select(col("iid")).distinct(), Seq("iid"), "left_semi")
      .select(col("iid"), shingles(col(textCol)).as("sh_i"))
    val near = cands.join(shB, idCol).join(shI, "iid")
      .filter(jaccard(col("sh_b"), col("sh_i")) >= threshold)
      .groupBy(col(idCol)).agg(min(col("iid")).as("m_near_idx"))
    batch.select(col(idCol))
      .join(exIdx, Seq(idCol), "left")
      .join(exBatch, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("m_exact_idx").isNotNull, lit("exact_dup_index"))
          .when(col("m_exact_batch").isNotNull, lit("exact_dup_batch"))
          .when(col("m_near_idx").isNotNull, lit("near_dup_index"))
          .otherwise(lit("novel")).as("verdict"),
        coalesce(col("m_exact_idx"), col("m_exact_batch"),
          col("m_near_idx"), lit(-1L)).as("match_id"))
  }

  /** Resolve near-dup PAIRS into canonical GROUPS: iterative min-label
    * propagation over the pair graph (labels start at own id; each round
    * every node takes the min of its own and its neighbors' labels).
    * `iters` rounds — label propagation reaches across paths of that
    * length; dup clusters are tiny cliques/chains in practice, and the
    * iteration count is FIXED so the result is deterministic and
    * SQL-unrollable regardless of convergence. Output: (id,
    * canonical_id) for every id that appears in a pair.
    *
    * This is the step a training pipeline actually acts on: keep
    * canonical_id, drop the rest.
    */
  def canonicalize(pairs: DataFrame, iters: Int = 3): DataFrame = {
    // the pair set is tiny relative to its producing pipeline (an LSH
    // or posting join over the whole corpus) and is referenced in every
    // propagation round — materialize it once
    val e = pairs.select(col("id_a"), col("id_b")).transform(graft.operators.Materialize.stable)
    val sym = e.unionByName(
      e.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    var labels = sym.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id"))
    for (_ <- 1 to iters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("id_b"), col("label")), Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      labels = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
    }
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  /** Full connected components over the dup-pair graph via alternating
    * LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the published
    * trillion-edge algorithm, converging in O(log n) rounds where
    * min-label propagation ([[canonicalize]]) needs O(diameter). This
    * is the fixpoint companion q45's bounded propagation approximates:
    * on a chain longer than its iteration cap the bounded form splits
    * the cluster, this one never does.
    *
    *   large-star(u): m = min(Γ(u) ∪ u); connect every neighbor v > u
    *                  to m.
    *   small-star(u): over edges oriented to the larger endpoint,
    *                  m = min(Γ⁻(u) ∪ u); connect u and its smaller
    *                  neighbors to m.
    *
    * Each round is two groupBy-join passes over the current edge set
    * (canonical (small, large) pairs, deduped); convergence = the edge
    * set reached a fixpoint (checked with one anti-join count per
    * round — at 100 TB that check is one pass over the shrinking edge
    * frame, the standard price of a convergent distributed CC).
    * Lineage is cut per round: each round's frame otherwise embeds two
    * copies of the previous round's plan, going exponential.
    *
    * Output: (id, component_id = min node id in the component) for
    * every node that appears in a pair — at a fixpoint every node's
    * star root IS the component min.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
    // each round's edge set is cut and counted in one job; the count
    // carries into the next round's fixpoint test
    var (edges, nEdges) = Materialize.stableCounted(
      canon(pairs.select(col("id_a").as("x"), col("id_b").as("y"))))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy(col("a"))
        .agg(min(least(col("b"), col("a"))).as("m"))
      val large = canon(sym.join(mins, Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("b").as("x"), col("m").as("y")))
        .transform(graft.operators.Materialize.stable)
      // small-star input: canonical (u, v) already orients every edge
      // to its larger endpoint v; Γ⁻(v) = all u partners
      val smins = large.groupBy(col("v")).agg(min(col("u")).as("m"))
      val (next, nNext) = Materialize.stableCounted(
        canon(large.join(smins, Seq("v"))
          .select(col("u").as("x"), col("m").as("y"))
          .unionByName(large.join(smins, Seq("v"))
            .select(col("v").as("x"), col("m").as("y")))))
      converged = nNext == nEdges && next.exceptAll(edges).isEmpty
      edges = next
      nEdges = nNext
      round += 1
    }
    // Exhausting maxRounds without a fixpoint would silently SPLIT a
    // component — the exact failure mode this operator exists to rule
    // out (vs canonicalize's bounded form). O(log n) convergence means
    // 20 rounds covers ~10^6-diameter graphs; hitting the cap is a
    // sizing bug the caller must see, not a degraded answer.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxRounds rounds — " +
          "raise maxRounds (result would split components)")
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    sym.select(col("a").as("id"), least(col("a"), col("b")).as("l"))
      .groupBy(col("id"))
      .agg(min(col("l")).as("component_id"))
  }

  /** Exact Jaccard of two distinct-element arrays, rounded to 6 decimals;
    * 0.0 when the union is empty (ANSI-safe — no division by zero).
    */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0)).otherwise(
      round(size(array_intersect(a, b)).cast("double") / u, 6))
  }

  /** Exhaustive blocked n-gram Jaccard via a shingle POSTING JOIN, not a
    * blocked cross product: |A∩B| is a groupBy-count over the shingle
    * equi-join, and |A∪B| = |A| + |B| − |A∩B| exactly (shingle sets are
    * distinct), so the output is identical to the array-intersect form
    * while pairs with zero overlap never materialize at all. The shuffle
    * key is (block, shingle); per-key fan-out is bounded by how many
    * docs in a block share a given 3-gram.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], threshold: Double): DataFrame = {
    // materialize the gram ARRAYS once: CollapseProject inlines the
    // (interpreted-lambda) shingle expression into every consumer —
    // size() and explode() here, and both self-join branches below,
    // with the broadcast branch evaluating single-threaded
    val g = docs.select(col(idCol) +: shingles(col(textCol)).as("grams") +:
        blockCols.map(col): _*)
      .transform(graft.operators.Materialize.stable)
      .withColumn("sz", size(col("grams"))).filter(col("sz") > 0)
    // join on the 64-bit shingle hash, not the string: the (block, hash)
    // shuffle sorts longs instead of ~25-byte strings. A cross-shingle
    // xxhash64 collision inside one doc-pair's union (~1e3 elements vs
    // 2^64) is negligible against every other nondeterminism source.
    val posts = g.select(
        col(idCol) +: col("sz") +: explode(col("grams")).as("s") +:
          blockCols.map(col): _*)
      .withColumn("sh", xxhash64(col("s"))).drop("s")
    val a = posts.select(col(idCol).as("id_a") +: col("sz").as("sz_a") +:
      col("sh") +: blockCols.map(col): _*)
    val b = posts.select(col(idCol).as("id_b") +: col("sz").as("sz_b") +:
      col("sh").as("sh_b") +: blockCols.map(n => col(n).as(s"${n}_b")): _*)
    // size prefilter: jaccard >= t forces t <= |A|/|B| <= 1/t — integer
    // comparison pruning pairs before the count aggregation.
    val sizeOk =
      col("sz_a").cast("double") >= col("sz_b") * threshold &&
      col("sz_b").cast("double") >= col("sz_a") * threshold
    val cond = blockCols.map(n => col(n) === col(s"${n}_b"))
      .reduce(_ && _) && col("sh") === col("sh_b") &&
      col("id_a") < col("id_b") && sizeOk
    a.join(b, cond)
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard_r", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard_r") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_r"))
  }

  // --- SimHash ------------------------------------------------------------

  /** 16-bit column-native SimHash over FTS tokens: bit k of a token is
    * the high bit of hex digit k of md5(token) (digit >= '8' in binary
    * collation); bit k of the signature is the sign of the tf-weighted
    * vote. It is pure relational algebra — explode →
    * tf groupBy → 16 conditional sums — so it is oracle-checkable in
    * ANSI SQL and stays in whole-stage codegen. Docs with zero tokens
    * produce no row (mirrored by the oracle).
    */
  def simhash16(docs: DataFrame, idCol: String, textCol: String,
                carryCols: Seq[String] = Nil): DataFrame = {
    val keys = col(idCol) +: carryCols.map(col)
    val tf = docs
      .select(keys :+ explode(TextFns.ftsTokens(col(textCol))).as("token"): _*)
      .groupBy(keys :+ col("token"): _*)
      .agg(count(lit(1)).as("tf"))
    val voteAggs = (0 until 16).map { k =>
      sum(when(substring(md5(col("token")), k + 1, 1) >= "8", col("tf"))
        .otherwise(-col("tf"))).as(s"v$k")
    }
    val votes = tf.groupBy(keys: _*).agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until 16)
      .map(k => when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(keys :+ sig.as("sim16"): _*)
  }

  /** Hamming distance between two 64-bit signatures as a column op. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --- embedding near-dup -------------------------------------------------

  /** SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    * embedding space with k-means, then pruning, within each cluster
    * only, every vector that has an earlier-id cluster-mate above the
    * cosine threshold. The cluster step is what makes this the scale
    * path: the pair join is bounded by cluster occupancy (a centroid-
    * count knob), never O(n²) — the same candidate-bounding contract as
    * minhashLsh, but driven by learned structure instead of random
    * hashing.
    *
    * K-means here is one Lloyd step from deterministic seeds (the
    * caller's seedFilter picks them), computed entirely in integer
    * MICRO-UNITS (round(x·1e6) BIGINTs — the q105 centroid discipline):
    * sums are order-independent, cosine is scale-invariant so the
    * un-divided component sums serve as centroids, and the only doubles
    * are the final 6dp-rounded cosines fed to the argmax. Every window
    * is partitioned per vector id (|centroids| rows each) — nothing
    * corpus-wide.
    *
    * Output: (idCol, cluster, keep, pruned_by) — pruned_by is the
    * smallest earlier cluster-mate above threshold, -1 when kept.
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
               seedFilter: Column, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val units = vectors
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("u", round(col("x") * 1e6, 0).cast("long"))
      .transform(Materialize.stable)
    val nv = units.groupBy(col(idCol))
      .agg(sum(col("u") * col("u")).as("nv"))
    // assignment by exact-integer cosine argmax (tie -> smallest cid)
    def assign(cent: DataFrame): DataFrame = {
      val cn = cent.groupBy(col("cid"))
        .agg(sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
          .as("nc"))
      val dots = units.join(cent, Seq("pos"))
        .groupBy(col(idCol), col("cid"))
        .agg(sum(col("u") * col("c")).as("dot"))
      val cosr = dots.join(nv, Seq(idCol)).join(cn, Seq("cid"))
        .select(col(idCol), col("cid"),
          round(col("dot").cast("double") /
            (sqrt(col("nv").cast("double")) * sqrt(col("nc").cast("double"))), 6)
            .as("cos_r"))
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cos_r").desc, col("cid").asc)
      cosr.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col(idCol), col("cid"))
    }
    val seedCent = units.join(
        vectors.filter(seedFilter).select(col(idCol)), Seq(idCol))
      .select(col(idCol).as("cid"), col("pos"), col("u").as("c"))
    val a1 = assign(seedCent)
    // cent is read twice inside assign (norm agg + dot join), and its
    // lineage holds the whole round-1 assignment chain (units join +
    // argmax window) — cut it once (|centroids|·dim rows) instead of
    // recomputing that chain per consumer. a2 stays lazy: its two
    // consumers then re-run only the cheap round-2 scoring over the
    // checkpointed cent/units leaves (and its argmax window stays
    // visible to the plan-shape gate).
    val cent = units.join(a1, Seq(idCol))
      .groupBy(col("cid"), col("pos")).agg(sum(col("u")).as("c"))
      .transform(Materialize.stable)
    val a2 = assign(cent).withColumnRenamed("cid", "cluster")
    // within-cluster pair prune via the blocked pair generator
    val m = vectors.select(col(idCol), col(vecCol)).join(a2, Seq(idCol))
    val pairs = embeddingNearDup(m, idCol, vecCol, "cluster", threshold)
    val pruned = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("pb"))
    a2.join(pruned, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        col("pb").isNull.as("keep"),
        coalesce(col("pb"), lit(-1L)).as("pruned_by"))
  }

  /** Default per-sub-block row cap for [[embeddingNearDup]]'s pair
    * join. A 4096-row sub-block bounds any single join task at ~16M
    * candidate pairs regardless of input skew.
    */
  val DefaultMaxBlockRows = 4096L

  /** Within-block all-pairs cosine above threshold — the verify step
    * behind semDedup/q30. Blocks larger than `maxBlockRows` are split
    * into k = ceil(c / maxBlockRows) deterministic sub-blocks and the
    * k×k sub-block GRID is enumerated by tagging each row with every
    * partner sub-block (bounded k-fold replication): pair (a, b) joins
    * exactly once — a's copy tagged with b's sub-block meets b's copy
    * tagged with a's — so the output is row-identical to the uncapped
    * join, but no join key ever carries more than ~maxBlockRows rows
    * per side. Without the cap, one mega-cluster from a skewed
    * embedding space (learned k-means blocking can produce one) puts
    * its entire O(c²) pair set on a single reducer — the class of
    * unbounded blow-up the reference's cap discipline exists to
    * prevent (/root/reference/src/impact/bfs.rs:11).
    *
    * Cost: the grid is still O(c²) candidate WORK for a c-row block —
    * inherent to exact within-block verification — but it is spread
    * over k² bounded tasks instead of one quadratic one, and the
    * replication factor k grows only with actual occupancy.
    */
  def embeddingNearDup(vectors: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, threshold: Double,
                       maxBlockRows: Long = DefaultMaxBlockRows): DataFrame = {
    import graft.functions.VectorFns
    // norm evaluated once per vector before the pair join (bitwise the
    // same value cosine() would compute per pair — one array pass per
    // pair instead of three)
    val v0 = vectors.select(col(idCol), col(vecCol), col(blockCol))
      .withColumn("__n", VectorFns.norm(col(vecCol)))
    val sizes = v0.groupBy(col(blockCol)).agg(count(lit(1)).as("__bc"))
    val v = v0.join(sizes, Seq(blockCol))
      .withColumn("__k",
        ceil(col("__bc").cast("double") / lit(maxBlockRows)).cast("int"))
      .withColumn("__g",
        pmod(xxhash64(col(idCol).cast("string")), col("__k")).cast("int"))
      .transform(Materialize.stable)
    // x carries (own sub-block __g, partner tag __p); y matches when its
    // own __g equals x's __p and its partner tag __q equals x's __g
    val x = v.withColumn("__p", explode(sequence(lit(0), col("__k") - 1)))
    val y = v.withColumn("__q", explode(sequence(lit(0), col("__k") - 1)))
    x.as("x").join(y.as("y"),
        col(s"x.$blockCol") === col(s"y.$blockCol") &&
        col("x.__g") === col("y.__q") && col("x.__p") === col("y.__g") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("cos_r", round(VectorFns.cosineFromNorms(
        VectorFns.dot(col(s"x.$vecCol"), col(s"y.$vecCol")),
        col("x.__n"), col("y.__n")), 6))
      .filter(col("cos_r") >= threshold)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("cos_r"))
  }
}
