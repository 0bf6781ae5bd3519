package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot versioning over an append-only generation log — the
  * Delta-grade MERGE/time-travel semantics the reference implements
  * with generation counters + delete-cascade triggers
  * (/root/reference/src/schema.sql:274-281): every commit appends rows
  * stamped with a monotonically increasing generation, deletions are
  * tombstone rows, and any past state is reconstructed by resolving
  * the log as-of a generation.
  *
  * At 100 TB this is exactly the Delta/iceberg layout (append-only
  * parquet + log): commits never rewrite history, the as-of read is one
  * window over (id, gen), and compaction is an optimization, not a
  * semantic change. Swap `commit` for a real `MERGE INTO` at deployment
  * and `asOf` for time travel; the operator surface stays.
  */
object Versioned {

  /** Append a commit to the log: update/insert rows get the new
    * generation stamp; `tombstones` (ids only) append is_deleted rows.
    */
  def commit(log: DataFrame, upserts: DataFrame, tombstoneIds: DataFrame,
             idCol: String, gen: Long): DataFrame = {
    val up = upserts
      .withColumn("gen", lit(gen))
      .withColumn("is_deleted", lit(false))
    val del = tombstoneIds.select(col(idCol))
      .withColumn("gen", lit(gen))
      .withColumn("is_deleted", lit(true))
    // tombstones carry null payloads for every non-key column
    val nulled = up.columns.foldLeft(del) {
      case (acc, c) if c != idCol && c != "gen" && c != "is_deleted" =>
        acc.withColumn(c, lit(null).cast(up.schema(c).dataType))
      case (acc, _) => acc
    }
    log.unionByName(up)
      .unionByName(nulled.select(up.columns.map(col): _*))
  }

  /** Resolve the live snapshot as of a generation: newest row per id
    * with gen <= asOfGen, tombstones filtered out. One window shuffle
    * on the id — the MVCC read path.
    */
  def asOf(log: DataFrame, idCol: String, asOfGen: Long): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("gen").desc)
    log.filter(col("gen") <= asOfGen)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("is_deleted"))
      .drop("__rn", "is_deleted")
  }
}
