package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hub-heavy keys (SURVEY §7 M4: "salting
  * for hub-name skew in graph joins"; the reference's 10k-ancestor BFS
  * cap exists because hub callees explode closures,
  * /root/reference/src/impact/bfs.rs:11).
  *
  * AQE's skew-join split handles moderate skew at runtime; these
  * operators are for the pathological tail — a key owning a double-digit
  * percentage of a 100 TB table — where the fix must be in the plan
  * itself. Salts are derived deterministically (hash of a row-unique
  * column), never from rand(): results must be reproducible and
  * retry-safe (a task retry re-derives the same salt).
  */
object Skew {

  /** Salted equi-join: the LEFT (large, skewed) side gets a
    * deterministic salt in [0, numSalts); the RIGHT side is replicated
    * numSalts times. Join key becomes (key, salt) — each hot key's rows
    * spread over numSalts reducers. Row-for-row identical to
    * left.join(right, key).
    *
    * @param leftUnique a left-side column unique per row (drives the
    *                   deterministic salt)
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 leftUnique: String, numSalts: Int): DataFrame =
    saltedJoin(left, right, key, Seq(leftUnique), numSalts)

  /** Multi-column form: the salt is derived from a column SET that is
    * unique per left row (e.g. the (src, dst) pair of a distinct edge
    * table, where no single column is row-unique).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 leftUnique: Seq[String], numSalts: Int): DataFrame = {
    require(numSalts > 1, "numSalts must be > 1")
    val salted = left.withColumn("__salt",
      pmod(xxhash64(leftUnique.map(col): _*), lit(numSalts.toLong)))
    val replicated = right
      .withColumn("__salt", explode(
        array((0 until numSalts).map(s => lit(s.toLong)): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
