package graft.streaming

import org.apache.spark.sql.SparkSession

/** The state-store settings every stateful stream here starts with:
  * RocksDB, so keyed state lives on local disk rather than the executor
  * heap, and changelog checkpointing, so a commit uploads only the keys
  * its batch changed instead of snapshotting the whole store (which held
  * every task slot for ~0.5 s per batch on the serving path's memo
  * cache). Checkpoints written without changelogs restart unchanged. */
object RocksDBState {
  def use(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }
}
