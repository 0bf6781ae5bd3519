package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val sampleEvents = Seq(
    Event(1L, "click", ts(0), 2L),
    Event(1L, "click", ts(5), 3L),
    Event(1L, "view",  ts(50), 1L),  // > 30 min gap -> new session for user 1
    Event(2L, "click", ts(2), 7L))

  test("hourlyCounts streaming equals batch aggregation on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(sampleEvents: _*)
    val q = Streams.hourlyCounts(stream.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hourly")
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("sum_k"))).toSeq
    val want = sampleEvents.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("window.start"), col("event_type"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("sum_k"))).toSeq
    assert(got == want)
  }

  test("statefulSessionize emits closed sessions matching the batch mirror") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(sampleEvents: _*)
    val q = Streams.statefulSessionize(stream.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("stateful")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stateful")
      .select("user_id", "session_start", "session_end", "n_events", "sum_k")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = Streams.batchClosedSessions(sampleEvents.toDS(),
        gapMs = 30L * 60 * 1000)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    assert(got == Set((1L, ts(0), ts(5), 2L, 5L)))
  }

  test("statefulSessionizeEventTime handles out-of-order events ACROSS micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Streams.statefulSessionizeEventTime(stream.toDS(),
        gapMs = 30L * 60 * 1000, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("evtsess")
      .outputMode("append").start()
    try {
      // batch 1: user 1's LATER events arrive first
      stream.addData(Event(1L, "click", ts(40), 2L), Event(1L, "click", ts(45), 3L))
      q.processAllAvailable()
      // batch 2: user 1's EARLIER events arrive after (within the 2h
      // watermark) — the emit-on-update sessionizer would mis-order
      // these; the buffered variant re-sessionizes
      stream.addData(Event(1L, "click", ts(0), 5L), Event(1L, "click", ts(5), 7L),
        Event(2L, "view", ts(2), 11L))
      q.processAllAvailable()
      // batch 3: watermark pusher — advances wm past every earlier
      // session's close point (13:20 − 2h = 11:20 > 10:45 + 30min)
      stream.addData(Event(99L, "click",
        java.sql.Timestamp.valueOf("2026-01-01 13:20:00"), 1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("evtsess")
      .select("user_id", "session_start", "session_end", "n_events", "sum_k")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4))).toSet
    // user 1: both sessions correctly ordered and closed by the
    // watermark; user 2's singleton closed too; user 99 still open
    val want = Set(
      (1L, ts(0), ts(5), 2L, 12L),
      (1L, ts(40), ts(45), 2L, 5L),
      (2L, ts(2), ts(2), 1L, 11L))
    assert(got == want)
  }

  test("q124 real file-source streaming run equals the batch rollup and leaves no sink view") {
    val got = graft.queries.StreamQ.q124(spark, sf)
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy(graft.queries.QueryDef.hourStr(col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.queries.QueryDef.cents(col("value"))).as("sum_value_c"))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.sameElements(want))
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("q124_sink_")),
      "memory-sink view must be dropped after the run")
  }

  test("q144 real file-source streaming dedup equals batch DISTINCT and leaves no sink view") {
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id").cast("long"), col("event_type"), col("day"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val got = keys(graft.queries.StreamQ.q144(spark, sf))
    val want = keys(graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        graft.queries.QueryDef.dayStr(col("ts")).as("day"))
      .distinct())
    assert(got.nonEmpty && got == want)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("q144_sink_")),
      "memory-sink view must be dropped after the run")
  }

  test("streamingWorklist classifies new/changed against the static registry, batch-equivalent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val registry = Seq(("a.rs", "fp1"), ("b.rs", "fp2"), ("c.rs", "fp3"))
      .toDF("origin", "fp")
    val stream = MemoryStream[(String, String)]
    // a.rs unchanged (filtered out), b.rs changed, d.rs new; c.rs never
    // arrives — deletion is invisible to the stream by design
    stream.addData(("a.rs", "fp1"), ("b.rs", "fp2x"), ("d.rs", "fp4"))
    val q = Streams.streamingWorklist(
        stream.toDF().toDF("origin", "fp"), registry, "origin", "fp")
      .writeStream.format("memory").queryName("worklist")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("worklist")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("b.rs", "changed"), ("d.rs", "new")))
    // batch mirror: worklist over the same snapshot minus 'deleted'
    val batch = graft.operators.Incremental.worklist(
        Seq(("a.rs", "fp1"), ("b.rs", "fp2x"), ("d.rs", "fp4"))
          .toDF("origin", "fp"), registry, "origin", "fp")
      .filter(col("reason") =!= "deleted")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == batch)
  }

  test("mergeUpsertBatch applies micro-batches with upsert semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val sink = Streams.mergeUpsertBatch(dir, "id", "version")
    sink(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "version"), 0L)
    sink(Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "v", "version"), 1L)
    // same version re-delivery: updates win deterministically
    sink(Seq((1L, "a9", 1L)).toDF("id", "v", "version"), 2L)
    val got = spark.read.parquet(dir)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(got == Map(1L -> "a9", 2L -> "b2", 3L -> "c"))
  }

  test("mergeUpsertBatch recovers a crash between the two renames") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink2").toString + "/t"
    val sink = Streams.mergeUpsertBatch(dir, "id", "version")
    sink(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "version"), 0L)
    // simulate a crash after "move target aside" but before "promote":
    // the corpus exists ONLY at _old
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "_old")))
    sink(Seq((3L, "c", 1L)).toDF("id", "v", "version"), 1L)
    val got = spark.read.parquet(dir)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    // prior rows recovered from _old, not dropped as "first batch"
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(!new java.io.File(dir + "_old").exists)
  }

  test("tiered-ANN ingest: streamed inserts land in the delta tier and are " +
    "immediately searchable alongside the built base tier") {
    // The tiered index's whole point (/root/reference/src/tiered.rs:1-45):
    // recent inserts are searchable BEFORE any index rebuild absorbs
    // them. Streaming shape: embedding inserts arrive as a stream, a
    // foreachBatch upsert sink appends them to the delta-tier table,
    // and the serving query (q80's merge) unions IVF-over-base with
    // brute-force-over-delta — so a vector inserted in micro-batch N
    // is a candidate in the very next query, no retraining involved.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Similarity, TopK}

    val base = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cell_id", "cvec")

    val dir = java.nio.file.Files.createTempDirectory("graft_delta").toString + "/t"
    val sink = Streams.mergeUpsertBatch(dir, "vec_id", "version")
    val stream = MemoryStream[(Long, Seq[Float], Long)]
    val q = stream.toDF().toDF("vec_id", "embedding", "version")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => sink(df, id))
      .start()
    // a fresh insert very close to the query vector, absent from base
    stream.addData((100L, Seq(0.95f, 0.05f, 0.0f), 1L))
    try q.processAllAvailable() finally q.stop()

    val delta = spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val qvec = Seq((999L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("query_id", "qvec")
    val ann = Similarity.ivfKnn(qvec, base, cents, k = 3, nprobe = 1)
      .select(col("query_id"), col("vec_id"), col("cos_r"))
    val brute = Similarity.cosineKnn(qvec, delta, k = 3)
      .select(col("query_id"), col("vec_id"), col("cos_r"))
    val merged = TopK.perGroup(ann.unionByName(brute),
      Seq(col("query_id")), col("cos_r"), col("vec_id"), 3)
      .select(col("vec_id"), col("rank")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("rank")).toMap
    // the streamed vector 100 ranks among the top results immediately
    assert(merged.contains(100L), s"delta-tier insert not served: $merged")
    assert(merged(0L) == 1, s"exact base match must stay rank 1: $merged")
  }

  test("streamSession isolates the state-partition width from the parent") {
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val ss = graft.queries.StreamQ.streamSession(spark)
    assert(ss ne spark)
    assert(ss.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == width,
      "parent session conf mutated by streamSession")
  }

  test("concurrent batch planning never observes the streaming width") {
    // The r9-verdict hazard: a set/restore window on the shared session
    // would compile concurrently planned batch queries 8-wide (or leak
    // the 8 permanently after a racing restore). With child-session
    // scoping, the batch session's width must hold throughout a real
    // streaming job racing against batch planning.
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    @volatile var streamRows = -1L
    @volatile var streamErr: Option[Throwable] = None
    val t = new Thread(() => {
      try streamRows = graft.queries.StreamQ.q124(spark, sf).count()
      catch { case e: Throwable => streamErr = Some(e) }
    })
    t.start()
    var observed = Set.empty[String]
    while (t.isAlive) {
      observed += spark.conf.get("spark.sql.shuffle.partitions")
      // plan (not execute) a shuffle on the batch session mid-stream:
      // the compiled width comes from this session's conf at plan time
      spark.range(64).groupBy((col("id") % 4).as("g")).count()
        .queryExecution.executedPlan
      Thread.sleep(10)
    }
    t.join()
    streamErr.foreach(e => fail(s"streaming job failed: $e"))
    assert(streamRows > 0)
    assert(observed == Set(width),
      s"batch session observed foreign widths: $observed (want only $width)")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
  }
}
