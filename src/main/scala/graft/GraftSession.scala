package graft

import org.apache.spark.sql.SparkSession

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** Recommended session configuration for the engine — one place encoding
  * the scale decisions instead of scattering conf strings:
  *
  *  - AQE on (runtime re-plan: coalesce post-shuffle partitions,
  *    skew-join split, dynamic broadcast)
  *  - shuffle partitions sized to the cluster (local: cores; cluster:
  *    2-3× total executor cores — AQE coalesces the excess)
  *  - 256 MiB scan partitions (fewer, fuller tasks against 100 TB of
  *    parquet; the 128 MiB default doubles task count for no benefit on
  *    large scans)
  *  - UTC session timezone (oracle parity + the reference's tz_localize)
  *  - nanos-as-long parquet reads (the events fixture; harmless elsewhere)
  *  - the `file://` file systems of [[localFsConf]]
  */
object GraftSession {
  /** The Hadoop `file://` implementations every graft session runs on,
    * [[builder]] and [[harness]] alike: the stock local file systems
    * without their `chmod`/`readlink` child processes
    * ([[graft.io.NioRawLocalFileSystem]]). A fixed default, not an
    * option. */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def builder(master: String = "local[*]", shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(localFsConf)
  }

  /** Core count of the [[harness]] session: `SPARK_GRAFT_CPUS`, default 4. */
  def harnessCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one session the harness mains run on (`Bench`, `Verify`, and
    * the `tools` mains): `local[harnessCpus]`, shuffle partitions =
    * cpus, UTC, UI off, [[localFsConf]], and a 2000-entry codegen cache
    * — 80+ queries × several codegen units each overflow the default
    * 100 entries, and the LRU thrash then recompiles big classes
    * (64-slot aggs) mid-suite, showing up as wandering multi-second
    * spikes on whichever query recompiles. AQE and scan sizing stay at Spark's
    * defaults: the board and the bench are measured on this session,
    * not on [[builder]]'s. */
  def harness(): SparkSession = {
    val cpus = harnessCpus.toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config(localFsConf)
      .getOrCreate()
  }
}
