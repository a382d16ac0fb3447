package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.RddBridge

/** The one way a frame is frozen, and the points where it is freed.
  *
  * A freeze is an eager checkpoint: the frame is computed once and later
  * plans read its rows from a single `LogicalRDD` leaf instead of
  * re-running its lineage. Operators freeze a frame when several
  * consumers read it, when later jobs must see one sampled range
  * partitioning, or when an iterative loop must keep its plan O(1).
  *
  * A frozen frame holds executor memory (local mode) until something
  * frees it, and `Dataset.unpersist()` is a no-op on checkpoints, so
  * freeing is explicit:
  *  - a loop [[free]]s the round it supersedes right after the next
  *    round's freeze;
  *  - a caller running many queries in one session wraps each in
  *    [[scoped]], which frees every freeze the query made on the
  *    calling thread;
  *  - anything else is reclaimed by the `ContextCleaner` once the frame
  *    is garbage.
  * Streaming `foreachBatch` bodies run on the query's own thread, so an
  * enclosing scope does not see their freezes; the trigger loop frees
  * them itself. */
object Pins {

  /** Conf key choosing how [[freeze]] checkpoints.
    * `false` (default): `localCheckpoint` — blocks live on executors;
    * fastest, but a lost executor kills the lineage mid-schedule (fine
    * single-JVM, acceptable for restartable batch).
    * `true`: reliable `checkpoint` to `sparkContext.setCheckpointDir`
    * (HDFS/object store on a real cluster — REQUIRED when enabling) —
    * the schedule survives executor loss at the price of one write+read
    * of the frozen rows. Same results either way (`PackingSpec`,
    * `ReaggSpec` and `PinsSpec` prove identity). The key keeps its
    * historical name from the prefix-sum family, its first user. */
  val ReliableCheckpointKey = "spark.graft.prefixSum.reliableCheckpoint"

  // The open scopes of the calling thread, innermost first. Not
  // inheritable: a streaming query's thread must not register its
  // freezes into the scope of the thread that started it.
  private val scopes = new ThreadLocal[List[collection.mutable.Buffer[RDD[_]]]] {
    override def initialValue(): List[collection.mutable.Buffer[RDD[_]]] = Nil
  }

  /** Eagerly checkpoint `df` (local or reliable per
    * [[ReliableCheckpointKey]]) and register it with the innermost
    * [[scoped]] block of the calling thread, if any. */
  def freeze(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val frozen =
      if (spark.conf.getOption(ReliableCheckpointKey).exists(_.toBoolean)) {
        require(spark.sparkContext.getCheckpointDir.isDefined,
          s"$ReliableCheckpointKey=true needs sparkContext.setCheckpointDir " +
          "(a fault-tolerant path: HDFS/S3/ABFS on a cluster)")
        df.checkpoint(true)
      } else df.localCheckpoint(true)
    for (scope <- scopes.get.headOption; rdd <- pinned(frozen)) scope += rdd
    frozen
  }

  /** Release the blocks behind a frame [[freeze]] returned. Any other
    * frame, including one derived from a freeze, is left alone: its
    * pinned inputs may still be read by someone else. */
  def free(df: DataFrame): Unit = pinned(df).foreach(RddBridge.release)

  /** Run `body`, then free every [[freeze]] it made on this thread,
    * whether it returns or throws. The result must not read those
    * freezes after the block: consume it inside. */
  def scoped[A](body: => A): A = {
    val mine = collection.mutable.Buffer.empty[RDD[_]]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(RddBridge.release)
    }
  }

  /** The checkpointed RDD of a frame whose whole plan is one freeze. */
  private def pinned(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.isCheckpointed => Some(lr.rdd)
      case _ => None
    }
}
