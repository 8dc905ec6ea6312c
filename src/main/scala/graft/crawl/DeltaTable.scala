package graft.crawl

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.SnapshotStore

/** One crawl-state table kept as append-only parts; its value is the union
  * of the parts. Parts before the durable mark are already in the store
  * (loaded by resume, or read back from a base snapshot); the ones after it
  * are this run's additions, which [[commitSlice]] writes as one delta
  * snapshot. Without a store — and for the per-batch outputs and the
  * robots rules, which are never committed — the mark is never consulted. */
private[crawl] final class DeltaTable(spark: SparkSession) {
  private val parts = mutable.ArrayBuffer[DataFrame]()
  private var durable = 0

  def +=(part: DataFrame): Unit = parts += part

  def isEmpty: Boolean = parts.isEmpty

  def view: DataFrame =
    if (parts.isEmpty) spark.emptyDataFrame else parts.reduce(_ unionByName _)

  /** Everything added so far is in the store. */
  def markDurable(): Unit = durable = parts.length

  /** Replace every part with `base`, which counts as durable. */
  def reset(base: DataFrame*): Unit = {
    parts.clear()
    parts ++= base
    markDurable()
  }

  /** Commit the parts added since the last commit as snapshot `batch` of
    * `table` (nothing is written when there are none). */
  def commitSlice(store: SnapshotStore, table: String, batch: Int,
      lineage: Map[String, String]): Unit = {
    if (parts.length > durable)
      store.commit(table, batch,
        parts.drop(durable).reduce(_ unionByName _), lineage)
    markDurable()
  }
}
