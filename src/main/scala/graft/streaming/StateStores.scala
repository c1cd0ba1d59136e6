package graft.streaming

/** State-store provider selection for the stateful streaming operators
  * (stream-stream join, dropDuplicates, sessionization, windowed aggs).
  *
  * The default HDFSBackedStateStoreProvider keeps every version of the
  * state map ON HEAP — at 100 TB/day the join/dedup state is tens of GB
  * per partition and the executor heap becomes the ceiling. RocksDB
  * state (SURVEY §4) moves it off-heap with incremental changelog
  * checkpoints. [[rocksDbConf]] is a start-time conf: pass it to
  * [[Drain.files]] or [[Drain.start]] and it holds for that query only
  * (the specs run the stateful operators under it to prove the
  * plumbing: StreamingSpec / WebSpec / RecoverySpec).
  */
object StateStores {

  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The conf block a 100 TB deployment sets: RocksDB provider +
    * changelog checkpointing (incremental commits instead of full
    * snapshot uploads per batch). */
  def rocksDbConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true")
}
