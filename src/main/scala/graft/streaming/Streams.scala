package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger

/** The one runner for the streaming gates: every gate starts its query,
  * drains it and reads the result through [[run]] or [[toMemory]].
  *
  * For the duration of the body it sets two session confs and restores
  * both in a `finally`:
  *   - `spark.sql.shuffle.partitions`: every stateful operator opens one
  *     state store per shuffle partition per micro-batch, and each
  *     commit writes and renames its delta, checksum and `.crc` files.
  *     At the session default of 32 partitions that fixed cost dominated
  *     the gates (stream_join_outer: 3 micro-batches × 2 join state
  *     stores × 32 partitions ≈ 54–84 s for a sub-second join), so the
  *     gates run their state at 8 partitions, still distributed; a
  *     production deployment sizes this to cores × key cardinality;
  *   - `spark.sql.streaming.checkpointFileManagerClass`: the measured
  *     cause of that per-file cost, on a host with no Hadoop native
  *     library, is forked processes. Spark's default manager renames
  *     every offset, commit, state-delta and checksum file through
  *     `FileContext.rename`, whose link-status probe forks `readlink`
  *     (1,680 forks per warm `stream_khop_2` run at sf0.01). The
  *     FileSystem-based manager renames through `FileSystem.rename`, a
  *     POSIX rename on a local disk, and forks none; it still writes
  *     and verifies Hadoop's `.crc` files through `LocalFileSystem`.
  *     (The local FS's create/mkdirs still fork a `chmod` per file,
  *     499 per run.)
  *
  * It is for LOCAL checkpoints only: every gate checkpoints under a
  * temp or staging dir. A query whose checkpoint lives on HDFS or S3
  * keeps Spark's default manager (its atomic-rename guarantees are the
  * reason it is the default there) and is not run through here.
  *
  * The body must start AND await its query: the stream thread clones
  * the session inside `runStream`, after `start()` has returned, so the
  * confs are restored only once the query has terminated. */
object Streams {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val CheckpointManager =
    "spark.sql.streaming.checkpointFileManagerClass"
  private val RenameManager =
    classOf[FileSystemBasedCheckpointFileManager].getName

  /** Run `body` (which starts a query and awaits its termination) under
    * `partitions` shuffle partitions and the rename-based checkpoint
    * manager, restoring both confs afterwards, also when it throws. */
  def run[T](s: SparkSession, partitions: Int = 8)(body: => T): T = {
    val confs = Seq(ShufflePartitions -> partitions.toString,
      CheckpointManager -> RenameManager)
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Drain `out` (AvailableNow) into a memory sink through [[run]] and
    * return the sink's rows. The sink's temp view is dropped before
    * returning: the result is already analyzed against the sink itself
    * (planned as a `LocalTableScan` of the rows the driver holds), so it
    * no longer needs the name, and a kept view would pin those rows for
    * the life of the session. */
  def toMemory(s: SparkSession, out: DataFrame, prefix: String,
               mode: String, partitions: Int = 8): DataFrame = {
    val qname = s"${prefix}_${System.nanoTime()}"
    try {
      run(s, partitions) {
        out.writeStream.format("memory").queryName(qname).outputMode(mode)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      s.table(qname)
    } finally s.catalog.dropTempView(qname)
  }
}
