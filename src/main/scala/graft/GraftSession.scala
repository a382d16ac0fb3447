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
  *  - the fixed settings of [[sessionConf]]
  */
object GraftSession {
  /** The fixed settings every graft session runs on, [[builder]],
    * [[harness]] and the specs' session alike. A fixed default, not an
    * option.
    *
    *  - The Hadoop `file://` implementations: the stock local file
    *    systems without their `chmod`/`readlink` child processes
    *    ([[graft.io.NioRawLocalFileSystem]]).
    *  - Artifact isolation off. Spark keys its codegen cache on
    *    (context class loader, source), and isolation gives every
    *    session UUID its own executor class loader. Each streaming call
    *    makes a child session and each query start clones it again, so
    *    with isolation on every call recompiles every generated class in
    *    its tasks. Isolation only serves Spark Connect clients that add
    *    their own jars or classes; nothing here adds artifacts.
    *  - A 2000-entry codegen cache. Each source is cached under both
    *    the driver's and the executors' class loader, so the ~90 sources
    *    of one streaming pass, or the 80+ queries of the board with
    *    several units each, overflow the default 100 entries, and the
    *    LRU thrash then recompiles big classes (64-slot aggs) mid-run. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000")

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
      .config(sessionConf)
  }

  /** Core count of the [[harness]] session: `SPARK_GRAFT_CPUS`, default 4. */
  def harnessCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one session the harness mains run on (`Bench`, `Verify`, and
    * the `tools` mains): `local[harnessCpus]`, shuffle partitions =
    * cpus, UTC, UI off and [[sessionConf]]. AQE and scan sizing stay at
    * Spark's defaults: the board and the bench are measured on this
    * session, not on [[builder]]'s. */
  def harness(): SparkSession = {
    val cpus = harnessCpus.toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(sessionConf)
      .getOrCreate()
  }
}
