package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Table-maintenance utilities for long-lived parquet datasets — the
  * operational side of a 100-TB pipeline that query code alone doesn't
  * cover. (A `batch_id` store compacts in place through
  * [[graft.streaming.BatchStore.compact]]; reports publish through
  * [[PrismaConnector.writeReportsLiteralLayout]].)
  */
object Maintenance {

  /** MERGE-style upsert: rows of `updates` replace `existing` rows with
    * the same key; unmatched update rows are inserts. One left-anti join
    * (shuffle on the key both sides) + a union — the incremental-refresh
    * primitive for keyed parquet datasets. At scale the anti join is
    * key-partitioned like any fact join (AQE handles skew); nothing is
    * collected.
    */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    updates.unionByName(
      existing.join(updates.select(keys.map(col): _*), keys, "left_anti"))
  }
}
