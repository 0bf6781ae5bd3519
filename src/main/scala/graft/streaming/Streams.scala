package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators — the Spark-native analogue of the
  * reference's `cqs watch` incremental loop (fs events → debounce →
  * incremental reindex, /root/reference/src/cli/watch/): a stream of
  * events flows through watermarked windowed aggregation or custom
  * session state, and sinks via foreachBatch-style incremental merges.
  *
  * All transforms here take/return streaming Datasets and are tested
  * against their batch equivalents on the same data (StreamingSpec) —
  * the unified-API property that makes the batch oracle meaningful for
  * the streaming path too.
  */
object Streams {

  final case class Event(user_id: Long, event_type: String, ts: Timestamp, k: Long)

  /** Per-user running-session state for statefulSessionize (object-level
    * so a product Encoder is derivable).
    */
  final case class SessState(start: Long, last: Long, n: Long, sumK: Long)

  final case class SessionUpdate(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      sum_k: Long,
      closed: Boolean)

  /** Tumbling-window event counts with a watermark: the canonical
    * streaming aggregation (late data beyond the watermark is dropped;
    * state is bounded by watermark horizon × window count).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_k"))

  /** Custom sessionization via flatMapGroupsWithState — the extension
    * point session_window can't express (per-session custom state,
    * emit-on-update, processing-time timeouts). State per user is one
    * running session; an event past the gap closes the current session
    * (emitting it) and opens a new one.
    *
    * ORDERING CONTRACT: events for a user must reach this operator in
    * event-time order ACROSS micro-batches (within a batch they are
    * sorted here). A source whose later micro-batches can carry
    * earlier timestamps (multi-file backfill, out-of-order ingest)
    * needs [[statefulSessionizeEventTime]], which buffers in state and
    * emits on watermark instead. This emit-on-update form is the
    * low-latency path for in-order sources (a single-partition log, a
    * per-key FIFO queue, or an AvailableNow batch over one file — the
    * q143 gate's shape).
    */
  def statefulSessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, evs: Iterator[Event],
               state: GroupState[SessState]): Iterator[SessionUpdate] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.k))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(SessState(s.start, t, s.n + 1, s.sumK + e.k))
          case Some(s) =>
            out += SessionUpdate(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.sumK, closed = true)
            cur = Some(SessState(t, t, 1L, e.k))
          case None =>
            cur = Some(SessState(t, t, 1L, e.k))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Buffered events for statefulSessionizeEventTime: parallel arrays
    * of (epoch-ms, k) kept columnar so the product Encoder stays flat.
    */
  final case class SessBuf(ts: Seq[Long], ks: Seq[Long])

  /** Event-time sessionization robust to OUT-OF-ORDER arrival across
    * micro-batches — the watermark-driven companion of
    * [[statefulSessionize]]. Events buffer in per-user state; a
    * session is emitted only once the watermark proves it can no
    * longer be extended (wm > session_end + gap: any future event has
    * ts ≥ wm, hence outside the gap), so a later micro-batch carrying
    * earlier timestamps re-sessionizes the buffer instead of emitting
    * wrong sessions. Events later than the watermark itself are
    * dropped (the standard late-data contract).
    *
    * State per user is bounded by the watermark horizon: buffered
    * events older than wm − gap either closed (emitted + evicted) or
    * belong to the still-open trailing sessions. An EventTimeTimeout
    * is armed at the earliest possible close point so sessions flush
    * when the watermark passes them even if the user goes quiet.
    */
  def statefulSessionizeEventTime(events: Dataset[Event], gapMs: Long,
      watermarkDelay: String = "1 hour"): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, evs: Iterator[Event],
               state: GroupState[SessBuf]): Iterator[SessionUpdate] = {
      val wm = state.getCurrentWatermarkMs()
      val prev = state.getOption.map(b => b.ts.zip(b.ks)).getOrElse(Seq.empty)
      val incoming = evs.map(e => (e.ts.getTime, e.k)).filter(_._1 >= wm)
      val buf = (prev ++ incoming).sorted
      if (buf.isEmpty) { state.remove(); return Iterator.empty }
      // greedy gap split over the sorted buffer
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
      var cur = scala.collection.mutable.ArrayBuffer(buf.head)
      buf.tail.foreach { e =>
        if (e._1 - cur.last._1 > gapMs) {
          sessions += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer(e)
        } else cur += e
      }
      sessions += cur.toSeq
      val (closed, open) = sessions.partition(s => s.last._1 + gapMs < wm)
      val kept = open.flatten
      if (kept.isEmpty) state.remove()
      else {
        state.update(SessBuf(kept.map(_._1).toSeq, kept.map(_._2).toSeq))
        // flush point: the earliest open session closes when wm passes
        // its last event + gap
        val firstClose = open.map(s => s.last._1 + gapMs + 1).min
        if (firstClose > wm) state.setTimeoutTimestamp(firstClose)
      }
      closed.iterator.map { s =>
        SessionUpdate(userId, new Timestamp(s.head._1), new Timestamp(s.last._1),
          s.size.toLong, s.map(_._2).sum, closed = true)
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-static worklist: the watch loop as a continuous query —
    * arriving file fingerprints join the STATIC registry snapshot and
    * emerge classified `new` (no registry row) or `changed`
    * (fingerprint differs); up-to-date rows are filtered out.
    * `deleted` is inherently invisible to a stream of present files,
    * so the batch worklist's full-outer reconcile covers it on the
    * periodic compaction cycle — the same pairing as the reference's
    * watch loop (inotify events drive new/changed work,
    * `Incremental.worklist` reconcile drives GC). Stream-static joins
    * are STATELESS in Structured Streaming (the static side is
    * re-resolved per micro-batch), so state does not grow with the
    * stream — the property that makes this the 100 TB-ingest shape.
    */
  def streamingWorklist(stream: DataFrame, registry: DataFrame,
                        idCol: String, fpCol: String): DataFrame = {
    val reg = registry.select(col(idCol).as("id"), col(fpCol).as("reg_fp"))
    stream.select(col(idCol).as("id"), col(fpCol).as("cur_fp"))
      .join(reg, Seq("id"), "left")
      .withColumn("reason",
        when(col("reg_fp").isNull, "new")
          .when(col("cur_fp") =!= col("reg_fp"), "changed"))
      .filter(col("reason").isNotNull)
      .select(col("id").as(idCol), col("reason"))
  }

  /** Incremental-merge sink: apply each micro-batch to a parquet target
    * with mergeUpsert semantics (newest version per id wins; batch rows
    * beat existing on ties) — the foreachBatch form of the reference's
    * conditional UPSERT store sink. Returns the writer-side function
    * for `writeStream.foreachBatch`.
    */
  def mergeUpsertBatch(targetPath: String, idCol: String, versionCol: String)
      : (DataFrame, Long) => Unit = { (batch, _) =>
    val spark = batch.sparkSession
    val targetDir = new java.io.File(targetPath)
    val oldAside = new java.io.File(targetPath + "_old")
    // Crash recovery: a prior batch that died between its two renames
    // leaves the corpus ONLY at _old (target gone). Recover it before
    // reading — otherwise this batch would treat the missing target as
    // first-batch and permanently replace all prior data with
    // batch-only rows.
    if (!targetDir.exists && oldAside.exists && !oldAside.renameTo(targetDir))
      sys.error(s"mergeUpsertBatch: could not recover ${oldAside.getPath}")
    // Only a genuinely missing target means "first batch" — any other
    // read failure (corruption, transient IO, mid-swap race) must
    // propagate, NOT be treated as an empty table: merging against
    // empty and overwriting would silently drop all prior data.
    val target =
      if (targetDir.exists) spark.read.parquet(targetPath)
      else batch.limit(0)
    graft.operators.Incremental.mergeUpsert(target, batch, idCol, versionCol)
      .coalesce(1)
      .write.mode("overwrite").parquet(targetPath + "_next")
    // swap with the old generation renamed ASIDE first, so a crash at
    // any point leaves either the old data (at _old) or the new data
    // recoverable — never a window where the target is simply gone.
    // A real deployment uses Delta MERGE and gets this from the log.
    val next = new java.io.File(targetPath + "_next")
    // _old existing HERE is a stale leftover from a crash after promote
    // (the recovery branch above already handled the target-missing
    // case) — safe to clear before this batch's swap.
    if (oldAside.exists) scala.reflect.io.Directory(oldAside).deleteRecursively()
    if (targetDir.exists && !targetDir.renameTo(oldAside))
      sys.error(s"mergeUpsertBatch: could not move $targetPath aside")
    if (!next.renameTo(targetDir))
      sys.error(s"mergeUpsertBatch: could not promote ${next.getPath}")
    if (oldAside.exists) scala.reflect.io.Directory(oldAside).deleteRecursively()
  }

  /** Batch-side mirror of statefulSessionize's closed sessions, for
    * equivalence testing: sessions that have a successor (i.e. closed by
    * a later event) computed with lag/lead windows.
    */
  def batchClosedSessions(events: Dataset[Event], gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("k"))
    val marked = events.toDF()
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sessions = marked.groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        max(col("sess_id")).as("sid"))
    val lastSess = sessions.groupBy(col("user_id"))
      .agg(max(col("sess_id")).as("last_sid"))
    sessions.join(lastSess, "user_id")
      .filter(col("sess_id") < col("last_sid")) // only sessions closed by a successor
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_k"))
  }
}
