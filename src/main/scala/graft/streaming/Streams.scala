package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.io.LocalFs

/** Structured Streaming re-expression of the reference's incremental
  * trigger model (SURVEY §1.1, §2.3): the reference couples its two
  * stages with an S3 `ObjectCreated` event (README.md:89-91) — "run the
  * load when a new file lands". The Spark-native analog is a file-source
  * stream with `Trigger.AvailableNow`: each run drains whatever landed,
  * checkpointed, then stops — batch-testable, cluster-incremental.
  */
object Streams {

  private def eventsSchemaWithTs(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over the events parquet (file source, AvailableNow
    * drain). Spark's file stream wants a landing *directory* (the
    * production shape: receivers append files, the stream drains them),
    * so the fixture file is staged into a per-sf temp dir.
    *
    * The fixture's `ts` physical type has varied across harness data
    * generations (TIMESTAMP(NANOS) in one, naive TIMESTAMP(MICROS) —
    * Spark-inferred TIMESTAMP_NTZ — in another); a file stream needs the
    * schema up front, so probe the footer with a batch read and build
    * the matching schema, normalizing to session-local micros TIMESTAMP
    * exactly like [[graft.io.Tables.events]]. Feeding the nanos-as-long
    * schema to a micros file would silently divide micros to millis and
    * collapse every event toward 1970 — the probe makes the fixture
    * generation an input, not an assumption. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val landing = stageLandingDir(sfDir)
    val physical = probedTsType(spark, landing)
    val stream = spark.readStream.schema(eventsSchemaWithTs(physical)).parquet(landing)
    physical match {
      case LongType => // nanos read as long: integral division, no double
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** Harness scratch root: tmpfs when the host has one (`/dev/shm`) —
    * streaming offset/commit WALs, state checkpoints, and the staged
    * landing file are all small, short-lived, and fsync-heavy, exactly
    * what a memory filesystem is for; a disk-backed java.io.tmpdir pays
    * real fsync latency per micro-batch. Falls back to tmpdir when no
    * tmpfs exists. (Production clusters point checkpoints at durable
    * storage instead — this root backs only the local drain harness.) */
  private lazy val scratchRoot: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      shm.toString
    else sys.props("java.io.tmpdir")
  }

  /** Stage a fixture — a single parquet FILE or a DIRECTORY of part
    * files — into the landing dir, mirroring the source's file set
    * exactly: copy new/changed files (size+mtime staleness, so a stale
    * landing copy from a previous data generation never feeds the
    * stream), delete strays a previous generation or layout left.
    * Multi-file matters at scale: a single-file landing caps the batch
    * scan's parallelism at parquet row-group grain (the r9 watch item —
    * BENCH_NOTES measured the OHLC drain 4.3 s single-file vs 0.8 s
    * multi-file at f=50), and the production landing shape IS many
    * receiver-appended files. */
  private def stageLanding(sfDir: String, table: String): String = {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val src = Paths.get(sfDir, s"$table.parquet")
    val dst = Paths.get(scratchRoot,
      s"graft_${table}_landing_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
    Files.createDirectories(dst)
    def copyIfStale(s: Path, t: Path): Unit = {
      val stale = !Files.exists(t) ||
        Files.getLastModifiedTime(t).compareTo(Files.getLastModifiedTime(s)) < 0 ||
        Files.size(t) != Files.size(s)
      if (stale) Files.copy(s, t, StandardCopyOption.REPLACE_EXISTING)
    }
    val keep: Set[String] =
      if (Files.isDirectory(src)) {
        val parts = listDir(src)
          .filter(_.getFileName.toString.endsWith(".parquet"))
        parts.foreach(p => copyIfStale(p, dst.resolve(p.getFileName.toString)))
        parts.map(_.getFileName.toString).toSet
      } else {
        copyIfStale(src, dst.resolve(s"$table.parquet"))
        Set(s"$table.parquet")
      }
    // stray sweep must handle DIRECTORY strays too (an interrupted
    // _stage dir from a previous generation would make Files.delete
    // throw DirectoryNotEmptyException and wedge staging until a
    // manual clean — advisor-flagged)
    listDir(dst).filterNot(p => keep(p.getFileName.toString))
      .foreach(LocalFs.deleteTree)
    dst.toString
  }

  /** `Files.list` with the returned stream CLOSED — it holds a
    * directory handle open until closed (advisor-flagged leak). */
  private def listDir(p: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Logical batch of a row: `id div span`. */
  private def logicalBatch(id: String, span: Long) =
    call_function("div", col(id), lit(span))

  /** Pin a trigger's rows once ([[graft.ops.Pins.freeze]]) and return them
    * with `seen`, an aggregate into an array of longs (the trigger's
    * logical batches, or its ids), observed on the pin's own job through
    * `Dataset.observe`: regrouping a trigger costs no job of its own.
    * The caller frees the pin. */
  private def pinTrigger(batch: DataFrame, seen: Column): (DataFrame, Seq[Long]) = {
    val obs = org.apache.spark.sql.Observation()
    val pinned = graft.ops.Pins.freeze(batch.observe(obs, seen.as("seen")))
    (pinned, obs.get("seen").asInstanceOf[scala.collection.Seq[Long]].toSeq)
  }

  /** `c IN ids` with the ids bound as data: the generated code reads one
    * hash set, so a new id list compiles nothing (`isin` inlines up to
    * 10 values into the generated source). A semi join against a local
    * relation would also keep the ids out of the code, but its
    * broadcast is one more job per consumer. */
  private def inIds(c: Column, ids: Seq[Long]): Column =
    ColumnBridge.toColumn(InSet(ColumnBridge.toExpr(c), ids.toSet[Any]))

  /** Stage logical stream batches as ONE Spark job (opt guide §2.4):
    * `withB` carries a `_b` batch column; hash-repartitioning by `_b`
    * puts each batch entirely in one task, so the partitionBy write
    * emits exactly ONE parquet file per `_b=` dir (the invariant the
    * one-file-per-trigger drains rely on — a batch split across files
    * could straddle triggers). Each part file is then moved into
    * `landing` as `batchNNNN.parquet` with strictly increasing mtimes.
    * Replaces the previous per-batch filter+coalesce(1)+write loop,
    * which re-scanned the source once PER BATCH. Only batches 0, 1, …
    * are staged (a negative or null `_b` never is), and an empty one
    * gets no file: its trigger would be a no-op. Returns the batch count,
    * the highest staged batch + 1 (0 when none is). */
  private def stageBatchFiles(withB: org.apache.spark.sql.DataFrame,
      root: java.nio.file.Path, landing: java.nio.file.Path): Int = {
    import java.nio.file._
    val stage = root.resolve("stage_all")
    withB.repartition(col("_b"))
      .write.mode("overwrite").partitionBy("_b").parquet(stage.toString)
    val batches = listDir(stage).map(_.getFileName.toString)
      .filter(_.startsWith("_b=")).flatMap(_.stripPrefix("_b=").toLongOption)
      .filter(_ >= 0L).sorted
    batches.foreach { b =>
      val part = listDir(stage.resolve(s"_b=$b")).find(
        _.getFileName.toString.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(
          s"stageBatchFiles: no parquet file staged for batch $b"))
      val tgt = landing.resolve(f"batch$b%04d.parquet")
      Files.move(part, tgt, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(tgt,
        attribute.FileTime.fromMillis(1000000000000L + b * 60000L)): Unit
    }
    LocalFs.deleteTree(stage)
    batches.lastOption.fold(0)(_.toInt + 1)
  }

  private def stageLandingDir(sfDir: String): String =
    stageLanding(sfDir, "events")

  /** Landing-dir identity: every file's (name, size, mtime) — the cache
    * key that makes a regenerated or re-laid-out fixture a MISS. */
  private def landingKey(landing: String): String = {
    import java.nio.file._
    val fs = listDir(Paths.get(landing)).sortBy(_.getFileName.toString)
    landing + "|" + fs.map(p => s"${p.getFileName}:${Files.size(p)}:" +
      s"${Files.getLastModifiedTime(p).toMillis}").mkString(",")
  }

  /** The footer-probe result per landing file set, cached by the full
    * (name, size, mtime) identity so the 12-query stream family pays
    * ONE probe per fixture generation instead of one per eventsStream
    * call (join queries call twice). The identity key makes a
    * regenerated fixture a cache MISS — the probe stays an input, never
    * an assumption. */
  private val probeCache = new java.util.concurrent.ConcurrentHashMap[String, DataType]()
  private def probedTsType(spark: SparkSession, landing: String): DataType =
    probeCache.computeIfAbsent(landingKey(landing),
      _ => spark.read.parquet(landing).schema("ts").dataType)

  /** AUTO-SIZED streaming state width — the autoSaltedJoin census
    * discipline applied to state stores: one cheap batch census
    * (approx_count_distinct over the key column) before the stream
    * starts sizes the stateful query's shuffle width, instead of a
    * pinned constant that is right at one corpus size and superlinear
    * at another (the round-9 probe measured the pinned w=4 sessionizer
    * at 70.9 s for 75k users / 4.8M events where w=32 drains in
    * 21.3 s). width = next power of two ≥ distinctKeys /
    * targetKeysPerPartition, clamped to [minP, maxP]; the 4096 default
    * reproduces the probe's manual w=32 at 75k users AND the gates'
    * w=4 at the 1.5k-user driver fixture. Cached per fixture generation
    * so the stream family pays one census, not one per query. At real
    * scale the same census runs over the landing prefix or recent
    * history — the point is that state width derives from measured key
    * volume, never a hand-pinned constant. */
  private val widthCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def autoStatePartitions(spark: SparkSession, sfDir: String,
      keyCol: String = "user_id", targetKeysPerPartition: Long = 4096L,
      minP: Int = 4, maxP: Int = 256): Int = {
    require(targetKeysPerPartition > 0 && minP > 0 && maxP >= minP,
      "autoStatePartitions: bad bounds")
    val landing = stageLandingDir(sfDir)
    widthCache.computeIfAbsent(
      s"${landingKey(landing)}|$keyCol|$targetKeysPerPartition|$minP|$maxP",
      { _ =>
        val d = graft.io.Tables.events(spark, sfDir)
          .agg(approx_count_distinct(col(keyCol))).head().getLong(0)
        val need = math.max(1L, (d + targetKeysPerPartition - 1) /
          targetKeysPerPartition)
        var p = 1
        while (p < need && p < maxP) p <<= 1
        math.min(maxP, math.max(minP, p))
      }).intValue()
  }

  /** A per-query CHILD session (shared SparkContext, isolated SQL conf)
    * with `spark.sql.shuffle.partitions` = `n`. Streaming state
    * partitioning is bound into the checkpoint from this conf at first
    * start — and unlike batch shuffles, AQE never coalesces it — so each
    * stateful query should size it to its expected STATE volume (here:
    * event types / users / windows, i.e. tiny), not inherit the batch
    * scan width. At real scale this is the knob that decides state-store
    * count per micro-batch. Session isolation (not set-and-restore on
    * the caller's session) so a concurrent batch query on the shared
    * session never observes the narrowed width — the conf-mutation race
    * a framework-level op must not create. The caller's freeze policy
    * ([[graft.ops.Pins.ReliableCheckpointKey]]) carries over, since a
    * new session starts from the context's conf, not the caller's. */
  private def stateSession(spark: SparkSession, n: Int): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    val key = graft.ops.Pins.ReliableCheckpointKey
    spark.conf.getOption(key).foreach(ss.conf.set(key, _))
    ss
  }

  /** Drain a streaming frame (built on the child session) into a memory
    * sink with `Trigger.AvailableNow`, then hand the drained table back
    * BOUND TO THE CALLER'S SESSION. The re-bind matters: post-drain
    * batch work (compaction, joins, ordering) and anything the caller
    * composes on the returned frame must plan at the caller's batch
    * shuffle width, not inherit the child's state-sized width — the
    * same unbounded-cardinality narrowing this module exists to avoid.
    * (The memory sink itself is the gate harness's observable; a
    * production drain would land in a parquet/table sink instead.) */
  private def drainToTable(spark: SparkSession, ss: SparkSession,
      df: DataFrame, prefix: String, mode: String): DataFrame = {
    val name = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // checkpoint on the tmpfs scratch root (offset/commit WALs + state
    // files fsync per micro-batch — on tmpfs that's memory speed),
    // deleted after the drain like a temp checkpoint would be
    val ckpt = java.nio.file.Paths.get(scratchRoot, s"graft_ckpt_$name")
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val drained = ss.table(name)
    val out = spark.createDataFrame(drained.rdd, drained.schema)
    LocalFs.deleteTree(ckpt)
    out
  }

  /** Tumbling-window aggregation (1h) over the event stream, drained with
    * AvailableNow into a memory sink and returned as a batch DataFrame.
    * Complete output mode: the drain is a single availability window, so
    * state stays bounded by (windows × event types). Decimal sum for
    * cross-engine exactness. */
  def tumblingHourlyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = stateSession(spark, 4)
    val agg = eventsStream(ss, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_v"))
    drainToTable(spark, ss, agg, "stream_tumbling", "complete")
      .orderBy("window_start", "event_type")
  }

  /** Hopping (sliding) window aggregation — 2-hour windows advancing
    * every hour, so each event lands in exactly TWO overlapping windows.
    * Completes the streaming window matrix next to tumbling
    * ([[tumblingHourlyAgg]]) and session ([[sessionizeByGap]]) windows.
    * State is (open windows × event types): the overlap factor
    * (len/slide) multiplies state and output, not input reads — the
    * stream is consumed once and Spark expands each row to its covering
    * windows internally. */
  def hoppingTwoHourAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = stateSession(spark, 4)
    val agg = eventsStream(ss, sfDir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_v"))
    drainToTable(spark, ss, agg, "stream_hopping", "complete")
      .orderBy("window_start", "event_type")
  }

  /** Stream-static join: each micro-batch of the event stream enriches
    * against a STATIC dimension (customer) — the standard streaming
    * dimension-lookup pattern. Unlike a stream-stream join this is
    * STATELESS: the static side is just a batch plan re-evaluated per
    * micro-batch, Catalyst broadcasts it when small, and no watermark or
    * join state is needed. At scale the static side should be a
    * broadcast-able dim or a bucketed table; a mutable dim is the CDC
    * path ([[incrementalLoad]] + re-read per batch), not this. */
  def staticEnrichAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = stateSession(spark, 4)
    val dim = graft.io.Tables.customer(ss, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(ss, sfDir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
    drainToTable(spark, ss, agg, "stream_enrich", "complete")
      .orderBy("c_mktsegment", "event_type")
  }

  /** W3 — the reference's end-to-end incremental sync (`cron → extract →
    * S3 event → load → upsert`, README.md:10-17) in its Spark-native
    * form: a file-source stream drains whatever landed (AvailableNow),
    * and `foreachBatch` applies each micro-batch through the SAME
    * idempotent LWW merge the batch path uses — at-least-once delivery ×
    * idempotent sink = effectively-once table state, checkpointed.
    *
    * Each batch keeps only its newest row per key before merging, so the
    * merge input is one row per key per batch. */
  def incrementalLoad(spark: SparkSession, sfDir: String, tablePath: String,
      keys: Seq[String], recency: Seq[String], tieBreak: Seq[String]): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_incr_ckpt").toString
    val q = eventsStream(spark, sfDir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val compacted = graft.ops.Merge.latestByKeyAgg(batch.toDF(), keys, recency, tieBreak)
        graft.io.JdbcUpsert.mergeIntoParquet(spark, tablePath, compacted, keys, recency, tieBreak)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Typed event row for stateful ops (ts in micros to keep state
    * encoders simple). */
  case class EventRow(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts_us: Long)

  /** Running per-user state: latest event + lifetime count. */
  case class UserState(user_id: Long, last_event_id: Long, last_ts_us: Long, n_events: Long)

  /** Arbitrary stateful streaming (SURVEY §2.3): per-user running state
    * via `mapGroupsWithState` — the Spark-native form of "keep a live
    * per-key aggregate across micro-batches". Update-mode emissions are
    * compacted to the final state per key after the AvailableNow drain
    * (each micro-batch emits a state snapshot; the last one wins). */
  def statefulUserState(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val ss = stateSession(spark, 4)
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = eventsStream(ss, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .as[EventRow]
    val updated = typed
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[EventRow], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, -1L, Long.MinValue, 0L))
          // fold the batch in (ts, event_id) order so the "latest" choice
          // is deterministic regardless of partition iteration order
          val next = events.foldLeft(prev) { (s, e) =>
            val newer = e.ts_us > s.last_ts_us ||
              (e.ts_us == s.last_ts_us && e.event_id > s.last_event_id)
            UserState(uid,
              if (newer) e.event_id else s.last_event_id,
              if (newer) e.ts_us else s.last_ts_us,
              s.n_events + 1)
          }
          state.update(next)
          next
      }
    val drained = drainToTable(spark, ss, updated.toDF(), "stream_state", "update")
    // compact update-mode emissions: last snapshot per user — batch
    // work over user cardinality, planned at the CALLER's width
    graft.ops.Merge.latestByKeyAgg(drained, Seq("user_id"), Seq("n_events"))
      .select(col("user_id"), col("last_event_id"), col("n_events"))
      .orderBy("user_id")
  }

  /** Session row emitted by the timeout-based sessionizer. */
  case class SessionOut(user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long, closed_by_timeout: Boolean)
  /** Internal open-session state for the timeout sessionizer (public
    * only because the state Encoder's generated code must instantiate
    * it). */
  case class SessionBuf(start_us: Long, last_us: Long, n: Long)

  /** Input row for the timeout sessionizer. The WATERMARKED event-time
    * column must reach the stateful operator (Spark's event-time-timeout
    * check rejects plans where a projection drops it), so `ts` rides
    * along as a timestamp and micros are derived inside the operator. */
  case class SessEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp)
  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  /** Sessionization via `flatMapGroupsWithState` + EVENT-TIME TIMEOUT —
    * the arbitrary-state form of session windows: state carries the open
    * session per user; a session closes (and emits) either when a new
    * event arrives past the gap, or when the WATERMARK passes the
    * session's timeout timestamp with no event at all — the case
    * `session_window` handles internally and `mapGroupsWithState`
    * without timeouts cannot express. Append mode: sessions emit once,
    * when closed. After the AvailableNow drain the final open sessions
    * are force-emitted by the last batch's timeout sweep only if the
    * watermark passed them — so this demo emits CLOSED sessions, the
    * production-correct behavior for an unbounded stream. */
  /** ENGINE-NATIVE streaming sessionization: `session_window` in a
    * watermarked streaming aggregation (append mode) — the stateful
    * sibling of [[graft.ops.TimeSeries.sessionWindowAgg]] and the
    * zero-custom-code alternative to [[sessionizeWithTimeout]]'s
    * flatMapGroupsWithState machinery. Emission is watermark-driven: a
    * session row appears once its end (last event + gap) falls behind
    * the watermark, so at AvailableNow drain end the NOT-yet-closed
    * tail sessions are simply absent — the gate applies the same
    * deterministic cuts on both engines (drop each user's final
    * session AND anything ending inside the terminal watermark band)
    * rather than guessing micro-batch boundaries. */
  def sessionWindowStream(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30, statePartitions: Int = 0): DataFrame = {
    // 0 = AUTO: census-derived width (4 on the driver fixture, 32 at the
    // 75k-user probe scale — matching the measured-best manual widths)
    val ss = stateSession(spark, if (statePartitions > 0) statePartitions
      else autoStatePartitions(spark, sfDir))
    val agg = eventsStream(ss, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("_sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("_sw.start")).as("session_start_us"),
        unix_micros(col("_sw.end")).as("session_end_us"),
        col("n_events"))
    drainToTable(spark, ss, agg, "stream_swin", "append")
  }

  def sessionizeWithTimeout(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30): DataFrame = {
    val ss = stateSession(spark, autoStatePartitions(spark, sfDir))
    import ss.implicits._
    val typed = eventsStream(ss, sfDir)
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[SessEvent]
    val sessions = sessionStream(typed, gapMinutes.toLong * 60 * 1000 * 1000)
    drainToTable(spark, ss, sessions.toDF(), "stream_tosess", "append")
      .orderBy("user_id", "session_start_us")
  }

  /** The core timeout sessionizer: a streaming `Dataset[EventRow]` (must
    * already carry a watermark) → closed sessions. Exposed separately so
    * tests can drive it with a controlled multi-batch source. */
  def sessionStream(typed: org.apache.spark.sql.Dataset[SessEvent],
      gapUs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import typed.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, events: Iterator[SessEvent], state: GroupState[SessionBuf]) =>
          if (!events.hasNext && state.hasTimedOut) {
            // watermark passed the open session's gap: close and emit
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start_us, s.last_us + gapUs, s.n, true))
          } else {
            val sorted = events.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
            val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val eUs = tsUs(e.ts)
              cur match {
                case Some(s) if eUs - s.last_us < gapUs =>
                  cur = Some(SessionBuf(s.start_us, eUs, s.n + 1))
                case Some(s) =>
                  out += SessionOut(uid, s.start_us, s.last_us + gapUs, s.n, false)
                  cur = Some(SessionBuf(eUs, eUs, 1L))
                case None =>
                  cur = Some(SessionBuf(eUs, eUs, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close via watermark: time out once no event extends it
              state.setTimeoutTimestamp((s.last_us + gapUs) / 1000)
            }
            out.iterator
          }
      }
  }

  /** Output row of the transformWithState demo. */
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-(user, event type) running counts via TRANSFORMWITHSTATE —
    * Spark 4's arbitrary-state API (SPARK-46815): typed composite state
    * (a MapState per key, vs mapGroupsWithState's single value),
    * explicit per-state TTL, timers, and state schema evolution. The
    * state store must be RocksDB (the API rejects the HDFS-backed
    * provider) — also the right provider at scale, where per-key maps
    * outgrow executor heaps.
    *
    * Emissions are per-batch updated counts; the monotone count itself
    * is the recency key for compaction after the drain. */
  private class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[EventRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(uid, t, counts.getValue(t)))
    }
  }

  /** Drain the events stream through the TypeCountProcessor and return
    * the final per-(user, event_type) counts. */
  def typeCountsTws(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = stateSession(spark, autoStatePartitions(spark, sfDir))
    import ss.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // RocksDB only on the child session — the caller's session keeps its
    // provider, no set-and-restore needed
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val typed = eventsStream(ss, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .as[EventRow]
    val out = typed.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Update())
    val drained = drainToTable(spark, ss, out.toDF(), "stream_tws", "update")
    // count is monotone per (user, type): latest emission == max n —
    // caller-width batch compaction over user cardinality
    graft.ops.Merge.latestByKeyAgg(drained,
        Seq("user_id", "event_type"), Seq("n"))
      .select(col("user_id"), col("event_type"), col("n"))
      .orderBy("user_id", "event_type")
  }

  /** Sessionization per user with a 30-minute inactivity gap — session
    * windows are the stateful-streaming op the events table exists to
    * exercise (SURVEY §2.3). Same AvailableNow drain. */
  def sessionizeByGap(spark: SparkSession, sfDir: String,
      statePartitions: Int = 0): DataFrame = {
    // statePartitions sizes the state store to expected SESSION volume
    // (the per-query width contract documented on stateSession). 0 =
    // AUTO: derived from the key census (autoStatePartitions) — the
    // round-9 probe measured a pinned 4 going superlinear at 75k users
    // / 4.8M events (70.9 s) where 32 partitions drain in 21.3 s; auto
    // picks 4 on the driver fixture and 32 at the probe scale
    val ss = stateSession(spark, if (statePartitions > 0) statePartitions
      else autoStatePartitions(spark, sfDir))
    val agg = eventsStream(ss, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_v"))
    drainToTable(spark, ss, agg, "stream_sessions", "complete")
      .orderBy("user_id", "session_start")
  }

  /** The click-view interval join shared by [[clickViewJoin]],
    * [[clickViewLeftJoin]] and [[clickViewFullJoin]]: click and view
    * events of users below `maxUser`, each side watermarked 1 h, joined
    * with `joinType` on the same user and a view in the hour up to the
    * click. Columns: click_id, _cu, click_ts, view_id, _vu, view_ts. */
  private def clickViewStreamJoin(ss: SparkSession, sfDir: String,
      maxUser: Long, joinType: String): DataFrame = {
    val ev = eventsStream(ss, sfDir).filter(col("user_id") < maxUser)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("_cu"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("_vu"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    clicks.join(views,
      col("_cu") === col("_vu") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      joinType)
  }

  /** Stream-stream interval join (SURVEY §2.3 streaming row): click
    * events joined to the same user's view events from the preceding
    * hour — the streaming form of as-of/range attribution. Both sides
    * carry watermarks and the join condition bounds event time in BOTH
    * directions, so Spark can size the join state window and expire
    * rows as the watermarks advance (unbounded state otherwise). Append
    * output: inner interval joins emit matches once, when safe.
    * `user_id < maxUser` keeps the gate's output bounded; the operator
    * itself is unbounded. */
  def clickViewJoin(spark: SparkSession, sfDir: String, maxUser: Long = 200L): DataFrame = {
    val ss = stateSession(spark, 4)
    val joined = clickViewStreamJoin(ss, sfDir, maxUser, "inner")
      .select(col("click_id"), col("view_id"), col("_cu").as("user_id"))
    drainToTable(spark, ss, joined, "stream_join", "append")
      .orderBy("click_id", "view_id")
  }

  /** Stream-stream LEFT OUTER interval join — the semantics inner joins
    * don't exercise: an unmatched left row emits (with nulls) only when
    * the watermark proves no future match can arrive, i.e. its state
    * expires. Determinism at the drain's end: rows whose expiry needs a
    * watermark beyond the final one stay in state and never emit, so
    * the output is restricted to clicks strictly older than the final
    * global watermark (min of both streams' max event time − delay)
    * minus a safety margin — for those, matched and null-extended rows
    * alike are fully decided. The batch oracle applies the same cut. */
  def clickViewLeftJoin(spark: SparkSession, sfDir: String, maxUser: Long = 200L): DataFrame = {
    val ss = stateSession(spark, 4)
    val joined = clickViewStreamJoin(ss, sfDir, maxUser, "left_outer")
      .select(col("click_id"), col("_cu").as("user_id"), col("click_ts"),
        col("view_id"))
    val drained = drainToTable(spark, ss, joined, "stream_ljoin", "append")
    // final global watermark = min over inputs of (max event ts − 1h);
    // keep only clicks a further minute older so boundary rows (whose
    // expiry is exactly at the watermark) can't flap the gate. Batch
    // post-processing — built on the CALLER's session/width.
    val evB = graft.io.Tables.events(spark, sfDir).filter(col("user_id") < maxUser)
    val cut = evB.agg((least(
      max(when(col("event_type") === "click", unix_micros(col("ts")))),
      max(when(col("event_type") === "view", unix_micros(col("ts")))))
      - 3660000000L).as("_cut"))
    drained
      .join(broadcast(cut), unix_micros(col("click_ts")) < col("_cut"))
      .select(col("click_id"), col("user_id"), col("view_id"))
      .orderBy("click_id", "view_id")
  }

  /** Stream-stream FULL OUTER interval join — completes the join-mode
    * matrix (inner emits matches only; left outer adds expired unmatched
    * clicks; full outer adds expired unmatched VIEWS as well). The two
    * sides have different expiry horizons: an unmatched click is decided
    * once the watermark passes click_ts (its candidate views all have
    * view_ts ≤ click_ts), but a view can match clicks up to an hour
    * AFTER it, so its state lives until the watermark passes
    * view_ts + 1h. The determinism cut is therefore two-threshold —
    * clicks strictly older than wm − margin, views strictly older than
    * wm − 1h − margin (wm = min of both streams' max event time − 1h,
    * margin 60 s against boundary-expiry flap) — applied identically to
    * matched rows (both sides must clear their cut) in the drained
    * stream and the batch oracle. */
  def clickViewFullJoin(spark: SparkSession, sfDir: String, maxUser: Long = 200L): DataFrame = {
    val ss = stateSession(spark, 4)
    val joined = clickViewStreamJoin(ss, sfDir, maxUser, "full_outer")
      .select(col("click_id"), col("_cu"), col("click_ts"),
        col("view_id"), col("_vu"), col("view_ts"))
    val drained = drainToTable(spark, ss, joined, "stream_fjoin", "append")
    // batch post-processing on the CALLER's session/width
    val evB = graft.io.Tables.events(spark, sfDir).filter(col("user_id") < maxUser)
    val wm = evB.agg((least(
      max(when(col("event_type") === "click", unix_micros(col("ts")))),
      max(when(col("event_type") === "view", unix_micros(col("ts")))))
      - 3600000000L).as("_wm"))
    drained
      .join(broadcast(wm),
        (col("click_ts").isNull || unix_micros(col("click_ts")) < col("_wm") - 60000000L) &&
          (col("view_ts").isNull || unix_micros(col("view_ts")) < col("_wm") - 3660000000L))
      .select(col("click_id"), coalesce(col("_cu"), col("_vu")).as("user_id"), col("view_id"))
      .orderBy("click_id", "view_id")
  }

  /** Streaming exact dedup (X1 in stream form): at-least-once sources
    * re-deliver, so the first stateful op of a production ingest is
    * dropDuplicatesWithinWatermark on the event key — state expires with
    * the watermark instead of growing with the stream. Counts per type
    * after dedup are the observable (and the oracle: the fixture's
    * event_id is unique, so counts equal the batch GROUP BY). */
  def dedupCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = stateSession(spark, 4)
    val agg = eventsStream(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    drainToTable(spark, ss, agg, "stream_dedup", "complete")
      .orderBy("event_type")
  }

  /** Count-Min sketch built INCREMENTALLY from the event stream — the
    * sketch's cell-wise linearity ([[graft.ops.Sketch.cmsMerge]]) is
    * exactly what makes it streamable: each micro-batch's cell updates
    * merge into the running sums, so the drained sketch must equal the
    * batch-built one cell-for-cell regardless of how the file source
    * split the batches. State is ≤ depth·width cells — bounded forever,
    * no watermark needed; the same d-row explode + hash as the batch
    * builder, so hash-family drift between the two paths is impossible
    * by construction (shared expression shape). */
  def countMinStream(spark: SparkSession, sfDir: String, depth: Int,
      width: Int): DataFrame = {
    val ss = stateSession(spark, 4)
    val cells = eventsStream(ss, sfDir)
      .select(col("event_type").as("_k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"),
        pmod(xxhash64(col("_k"), col("r")), lit(width.toLong)).as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    drainToTable(spark, ss, cells, "stream_cms", "complete")
  }

  /** AMS F2 sketch built INCREMENTALLY from the event stream — like
    * [[countMinStream]], possible only because the sketch is LINEAR:
    * signed cell increments sum across micro-batches exactly, state is
    * bounded at d·w cells with no watermark, and the finished sketch is
    * cell-identical to the batch build whatever the batch cuts were
    * (the gate certifies that full-outer, cell-for-cell). This is the
    * production monitoring pattern: per-interval sketches roll up
    * without re-reading the stream, and F2 (self-join size / skew
    * mass) is queryable at any instant. */
  def amsStream(spark: SparkSession, sfDir: String, depth: Int,
      width: Int): DataFrame = {
    val ss = stateSession(spark, 4)
    val cells = eventsStream(ss, sfDir)
      .select(col("user_id").as("_k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"),
        pmod(xxhash64(col("_k"), col("r")), lit(width.toLong)).as("c"),
        (lit(1L) - lit(2L) *
          pmod(xxhash64(col("_k"), col("r") + lit(64)), lit(2L))).as("_s"))
      .groupBy("r", "c").agg(sum(col("_s")).as("cell"))
    drainToTable(spark, ss, cells, "stream_ams", "complete")
  }

  /** Streaming source over the documents parquet — same staged-landing
    * file-source shape as [[eventsStream]]; the schema is probed from
    * the fixture footer (no timestamp normalization needed here). */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dst = stageLanding(sfDir, "documents")
    val schema = spark.read.parquet(dst).schema
    spark.readStream.schema(schema).parquet(dst)
  }

  /** STREAMING near-dup admission — the dedup gate a live ingestion
    * pipeline actually runs: each incoming micro-batch of NEW documents
    * is LSH-banded PER ROW (shingle hashes → minhash signature via an
    * array-aggregate fold → band explode: stateless, no shuffle, no
    * watermark) and joined against a PRECOMPUTED static bucket index of
    * the historical corpus, then exact-Jaccard verified against the
    * carried historical shingle sets. Emits (new_id, hist_id, jaccard)
    * for every admission-blocking collision.
    *
    * Scale shape: the stream side never aggregates — signature cost
    * rides the ingest row; the static index is band-keyed (a plain hash
    * join per micro-batch, broadcast when the history's band table is
    * small, bucketed otherwise) and carries the shingle arrays so
    * verification needs no second lookup. The static side uses the
    * batch codegen signature path (explode + min-slot hash agg); the
    * per-row HOF fold is reserved for the stream where per-element
    * interpretation is bounded by micro-batch volume. Candidates may
    * duplicate across bands in-flight — deduping in-stream would mean
    * stateful `distinct`, so the drain dedups in batch (exactly-once
    * admission verdicts without streaming state). */
  def streamMinhashNearDup(spark: SparkSession, sfDir: String,
      shingleK: Int = 3, bands: Int = 8, rows: Int = 4,
      minJaccard: Double = 0.3, maxId: Long = 400L): DataFrame = {
    import graft.ops.Dedup
    val ss = stateSession(spark, 4)
    val n = bands * rows
    // ---- static historical index (batch, codegen agg signature) ----
    val hist = graft.io.Tables.documents(ss, sfDir)
      .filter(col("doc_id") < maxId && col("doc_id") % 5 =!= 0)
    val hsh = hist.select(col("doc_id").as("hist_id"),
        graft.expr.WordShingleHashes(col("text"), shingleK, distinct = true)
          .as("_hsh"))
      .withColumn("_hn", size(col("_hsh")))
    val minAggs = (0 until n).map(i =>
      min(Dedup.permutedHash(i, col("_h"))).as(s"_m$i"))
    val hsig = hsh.select(col("hist_id"), explode(col("_hsh")).as("_h"))
      .groupBy(col("hist_id"))
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("hist_id"),
        array((0 until n).map(i => col(s"_m$i")): _*).as("_sig"))
    val histIdx = hsig
      .select(col("hist_id"),
        explode(Dedup.lshBands(col("_sig"), bands, rows)).as("_b"))
      .select(col("hist_id"), col("_b.band_id"), col("_b.band_hash"))
      .join(hsh, Seq("hist_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    histIdx.count() // materialize once; re-read per micro-batch
    // ---- stateless stream side ----
    val incoming = documentsStream(ss, sfDir)
      .filter(col("doc_id") < maxId && col("doc_id") % 5 === 0)
      .select(col("doc_id").as("new_id"),
        graft.expr.WordShingleHashes(col("text"), shingleK, distinct = true)
          .as("_nsh"))
      .withColumn("_nn", size(col("_nsh")))
    val sigCols = (0 until n).map(i =>
      aggregate(col("_nsh"), lit(Long.MaxValue),
        (acc, h) => least(acc, Dedup.permutedHash(i, h))).as(s"_s$i"))
    val banded = incoming
      .select(Seq(col("new_id"), col("_nsh"), col("_nn")) ++ sigCols: _*)
      .select(col("new_id"), col("_nsh"), col("_nn"),
        array((0 until n).map(i => col(s"_s$i")): _*).as("_sig"))
      .select(col("new_id"), col("_nsh"), col("_nn"),
        explode(Dedup.lshBands(col("_sig"), bands, rows)).as("_b"))
      .select(col("new_id"), col("_nsh"), col("_nn"),
        col("_b.band_id"), col("_b.band_hash"))
    val cand = banded.join(histIdx, Seq("band_id", "band_hash"))
      // size-ratio prune before any array work (J ≤ min/max sizes)
      .filter(least(col("_nn"), col("_hn")).cast("double") >=
        lit(minJaccard) * greatest(col("_nn"), col("_hn")))
      .withColumn("_inter",
        size(array_intersect(col("_nsh"), col("_hsh"))).cast("double"))
      .withColumn("jaccard", col("_inter") /
        (col("_nn").cast("double") + col("_hn") - col("_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("hist_id"), col("jaccard"))
    val out = drainToTable(spark, ss, cand, "stream_minhash", "append")
      .distinct() // band-duplicate candidates collapse in batch
    histIdx.unpersist()
    out
  }

  /** INCREMENTAL streaming near-dup admission — closes the loop the
    * static gate ([[streamMinhashNearDup]]) leaves open: there the
    * historical index is frozen, so two near-dup documents arriving in
    * different micro-batches both pass. Here every ADMITTED document's
    * (shingle set, prefix postings) is appended to the index inside
    * `foreachBatch`, so a document admitted in micro-batch 1 BLOCKS its
    * near-dup in micro-batch 2.
    *
    * Candidate channel: lossless prefix-filtered shingle postings (the
    * AllPairs/PPJoin rule — see [[graft.ops.Dedup.prefixFilterJoin]]),
    * not LSH bands. The choice is forced by the semantics: admission
    * verdicts CASCADE (a missed block admits a doc that then blocks
    * others), so a probabilistic candidate channel doesn't just lose
    * recall on one pair — it rewrites every later verdict. With the
    * lossless channel the whole run is deterministic and exactly
    * replayable from Jaccard truth. Incremental mode uses the plain
    * hash total order for prefixes (ANY total order is lossless; the
    * df-ascending order the batch op prefers needs a global census the
    * evolving corpus can't give without re-scanning).
    *
    * Index layout (the production shape, miniaturized): two append-only
    * parquet tables on the scratch root —
    *   `docs`     (doc_id, n, shingle hashes) — the verify side;
    *   `postings` (prefix hash, doc_id, n)    — the candidate side,
    * storing only the `n − ceil(t·n) + 1` smallest hashes per admitted
    * doc, the prefix-filter bound. Every `compactEvery` logical batches
    * both tables are compacted into a fresh generation and the old one
    * dropped — the OPTIMIZE cadence a Delta/Iceberg-backed index would
    * run, without which an append-per-batch index decays into a
    * small-file scan bottleneck. No compaction runs after the final
    * logical batch: the index is deleted as soon as the drain returns.
    * Both tables are read back with the schemas the loop wrote them
    * with (no schema-inference job per read). At 100 TB: the index
    * tables live in a transactional table format, the per-batch
    * candidate join is hash-keyed on the posting hash (shuffle ∝ batch
    * postings + matched index postings, never the whole index), and
    * per-batch cost tracks the ADMITTED corpus, not the arrival count.
    * When approximate recall is acceptable, the banded-signature index
    * of the static gate is the sub-linear alternative; it cannot be the
    * admission authority for exactly the cascade reason above.
    *
    * Micro-batch determinism: arrivals are staged as one file per
    * logical batch (`doc_id div span`), drained with
    * `maxFilesPerTrigger=1` in mtime order. Inside `foreachBatch` the
    * trigger's shingled rows are pinned ONCE (their doc ids observed on
    * the pin's own job), then STILL regrouped by logical batch — narrow
    * slices of the pin — and processed in ascending order with an
    * index append between groups, so the verdict sequence is identical
    * even if the source coalesces files into one trigger. Admission is
    * batch-granular: docs in the same logical batch never block each
    * other (the index only grows between batches) — the contract the
    * oracle replays.
    *
    * Spark jobs: before the drain, the seed's two index writes and the
    * staging write (its shuffle under AQE adds one); per trigger, the
    * pin; per logical batch, ONE verdict action (the blockers of the
    * batch's docs, folded per task and merged on the driver, after the
    * two index tables' broadcasts) and the two index appends. A doc
    * without a blocker gets its verdict on the driver, from the pin's
    * observed ids, and so do `batch_id` and `admitted`.
    *
    * Returns one row per streamed doc:
    * (doc_id, batch_id, admitted, n_blockers, first_blocker).
    */
  def streamMinhashIncr(spark: SparkSession, sfDir: String,
      shingleK: Int = 3, thresholdPct: Int = 50, maxId: Long = 400L,
      nBatches: Int = 4, compactEvery: Int = 2): DataFrame = {
    import java.nio.file._
    import graft.expr.WordShingleHashes
    val ss = stateSession(spark, 4)
    // The logical-batch mapping (doc_id div span) only covers every id
    // when span·nBatches == maxId; with a remainder, ids ≥ span·nBatches
    // would map to batch nBatches, never be staged by the 0-until-
    // nBatches loop, and silently get no verdict row — violating the
    // one-row-per-streamed-doc contract. Fail loudly instead.
    require(maxId % nBatches == 0,
      s"streamMinhashIncr: maxId ($maxId) must be a multiple of nBatches " +
        s"($nBatches) so every doc lands in exactly one staged batch")
    val span = maxId / nBatches
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val root = Paths.get(scratchRoot, s"graft_incr_$runId")
    // generation-addressed index dirs; swapped on compaction
    var gen = 0
    def docsDir(g: Int) = root.resolve(s"docs_g$g").toString
    def postDir(g: Int) = root.resolve(s"postings_g$g").toString

    def shingled(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        WordShingleHashes(col("text"), shingleK, distinct = true).as("sh"))
      .withColumn("n", size(col("sh")))
    // prefix postings under the hash total order: smallest
    // n − ceil(t·n) + 1 hashes of each set, as (`carry`…, h) rows; the
    // index holds (doc_id, n, h)
    def postings(df: DataFrame,
        carry: Seq[Column] = Seq(col("doc_id"), col("n"))): DataFrame = df
      .withColumn("_p",
        col("n") - call_function("div", col("n") * thresholdPct + 99, lit(100)) + 1)
      .select(carry :+
        explode(slice(array_sort(col("sh")), lit(1), col("_p"))).as("h"): _*)

    // ---- seed: the pre-existing historical corpus, indexed in batch ----
    // (the columns read are declared: no schema-inference job)
    val docs = graft.io.Tables.loadColumns(ss, sfDir, "documents",
      "doc_id long, text string")
    val hist = shingled(docs
      .filter(col("doc_id") < maxId && col("doc_id") % 5 === 3))
    hist.write.mode("overwrite").parquet(docsDir(0))
    postings(hist).write.mode("overwrite").parquet(postDir(0))
    // the index tables are read back with the schemas written above —
    // an inferring read costs one schema-merge job per table per batch
    def idxDocs(g: Int) = ss.read.schema(hist.schema).parquet(docsDir(g))
    def idxPost(g: Int) =
      ss.read.schema(postings(hist).schema).parquet(postDir(g))

    // ---- stage arrivals: one parquet file per logical batch, strictly
    // increasing mtime so the file source drains them in order ----
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    val strm = docs
      .filter(col("doc_id") < maxId && col("doc_id") % 5 =!= 3)
      .select(col("doc_id"), col("text"))
    // one staging job for all logical batches (see [[stageBatchFiles]];
    // the previous loop re-scanned the documents table once per batch)
    stageBatchFiles(strm.withColumn("_b", logicalBatch("doc_id", span)),
      root, landing)

    // ---- the drain: per logical batch, verdicts then index append ----
    // verdict rows buffer driver-side (≤ span rows per batch) and are
    // returned as ONE local frame after the drain — replaces a per-batch
    // results-parquet append job plus the final read-back job
    val verdictRows = mutable.ArrayBuffer[Row]()
    // `inc` is one logical batch's shingled rows, a narrow slice of the
    // trigger's pin; `ids` are its doc ids, observed on that pin
    def processLogicalBatch(inc: DataFrame, b: Long, ids: Seq[Long]): Unit = {
      // the blockers of the batch's docs, in ONE action: the batch's
      // postings carry their own shingle set and size (no re-join to
      // `inc`); each task folds its verified pairs into new_id → its
      // distinct blockers, so a pair found through several shared
      // prefix hashes collapses there (no `distinct`), and the driver
      // merges the per-task maps (no shuffle)
      val blockers = postings(inc,
          Seq(col("doc_id").as("new_id"), col("n").as("_na"), col("sh").as("_sa")))
        .join(idxPost(gen).select(col("h"), col("doc_id").as("hist_id"),
          col("n").as("_nb")), Seq("h"))
        // size-ratio prune: J ≥ t ⟹ 100·min(|a|,|b|) ≥ t·max(|a|,|b|)
        .filter(least(col("_na"), col("_nb")) * 100 >=
          greatest(col("_na"), col("_nb")) * thresholdPct)
        .join(idxDocs(gen).select(col("doc_id").as("hist_id"), col("sh").as("_sb")),
          Seq("hist_id"))
        .withColumn("_i", size(array_intersect(col("_sa"), col("_sb"))))
        .filter(col("_i") * 100 >= (col("_na") + col("_nb") - col("_i")) * thresholdPct)
        .select(col("new_id"), col("hist_id"))
        .queryExecution.toRdd
        .aggregate(mutable.LongMap.empty[mutable.Set[Long]])(
          (m, r) => { m.getOrElseUpdate(r.getLong(0), mutable.Set.empty) += r.getLong(1); m },
          (x, y) => { y.foreachEntry((id, hs) => x.getOrElseUpdate(id, mutable.Set.empty) ++= hs); x })
        .map { case (id, hs) => id -> ((hs.size.toLong, hs.min)) }
      // a doc with no blocker is admitted: its verdict needs no Spark
      verdictRows ++= ids.map { id =>
        blockers.get(id) match {
          case Some((n, first)) => Row(id, b, false, n, first)
          case None => Row(id, b, true, 0L, null)
        }
      }
      val admitted = inc.filter(inIds(col("doc_id"), ids.filterNot(blockers.contains)))
      admitted.write.mode("append").parquet(docsDir(gen))
      postings(admitted).write.mode("append").parquet(postDir(gen))
      // compaction: fold the accumulated appends into one generation —
      // except after the final logical batch, whose index is deleted as
      // soon as the drain returns
      if ((b + 1) % compactEvery == 0 && b < nBatches - 1) {
        idxDocs(gen).coalesce(1)
          .write.mode("overwrite").parquet(docsDir(gen + 1))
        idxPost(gen).coalesce(1)
          .write.mode("overwrite").parquet(postDir(gen + 1))
        LocalFs.deleteTree(Paths.get(docsDir(gen)))
        LocalFs.deleteTree(Paths.get(postDir(gen)))
        gen += 1
      }
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin the trigger's shingled rows once, then regroup by LOGICAL
        // batch: verdicts stay deterministic even if the source packs
        // several staged files into one trigger
        val (pinned, ids) = pinTrigger(shingled(batch), collect_list(col("doc_id")))
        // Long `/` truncates toward zero, as Spark's `div` does
        ids.groupBy(_ / span).toSeq.sortBy(_._1).foreach { case (b, ids) =>
          processLogicalBatch(
            pinned.filter(logicalBatch("doc_id", span) === b), b, ids.sorted)
        }
        // free the pin's blocks now (unpersist is a no-op on checkpoints)
        graft.ops.Pins.free(pinned)
      }
      .start()
    q.awaitTermination()
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("batch_id", LongType),
      StructField("admitted", org.apache.spark.sql.types.BooleanType),
      StructField("n_blockers", LongType),
      StructField("first_blocker", LongType)))
    val out = spark.createDataFrame(
      java.util.Arrays.asList(verdictRows.toSeq: _*), outSchema)
    LocalFs.deleteTree(root)
    out
  }

  /** [[streamIvfIngest]] with the FULL maintain loop closed inside the
    * stream: `degenLastBatch` poisons the final logical batch into the
    * zero-vector regime (the upstream-model-bug signature) as it
    * arrives, and when EITHER detection signal fires inside
    * foreachBatch — the cumulative census or the per-batch
    * admission-fit guard (r14: batch fit under half the build fit; a
    * single poisoned batch dilutes out of the cumulative averages as
    * history grows, measured in CensusMarginProbe,
    * BENCH_NOTES.md "Retired dev mains") — the ingest RETRAINS right
    * there (zero-norm quarantine, stats reset) and
    * re-censuses — the detect → retrain → verify loop running
    * unattended in the stream, which is how a 100 TB ingest actually
    * operates. Extra columns:
    * census_fired (per batch), retrained (this batch triggered a
    * retrain), post_retrain_clear (the re-census verdict; null-free:
    * false where no retrain ran). The final equality pin compares
    * against the batch-build assignment of the SCORABLE corpus. */
  def streamIvfIngestSelfHealing(spark: SparkSession, sfDir: String,
      span: Long = 200L, k: Int = 16,
      singleTrigger: Boolean = false,
      verifyCensus: Boolean = false): DataFrame =
    streamIvfIngest(spark, sfDir, span, k, degenLastBatch = true,
      singleTrigger = singleTrigger, verifyCensus = verifyCensus)

  /** STREAMING IVF INGEST — the persisted vector index's maintain loop
    * driven from a STREAM (the stream-side twin of x2_ann_ivf_append /
    * x2_ann_ivf_retrain): embedding vectors arrive in logical batches
    * (vec_id div span, staged one file per batch with increasing mtime,
    * drained AvailableNow with maxFilesPerTrigger=1); batch 0 TRAINS
    * the centroids and builds the persisted index, every later batch is
    * APPENDED via the same per-row argmax assignment (only its
    * assigned cent_id partitions gain files), and the staleness census
    * runs after every batch — continuous ingest with drift
    * surveillance, the loop a 100 TB embedding pipeline actually runs.
    * Inside foreachBatch, rows are regrouped by logical batch and
    * applied in ascending order, so the result is deterministic even if
    * the source coalesces staged files into one trigger (the
    * streamMinhashIncr discipline).
    *
    * Returns one row per logical batch — (batch_id, n_vectors, census
    * n_total / n_appended after the batch, no_retrain) — plus
    * `matches_batch_build` on every row: the final incremental-ingest
    * == one-shot-build assignment equality, checked both ways.
    *
    * Each trigger's rows are pinned once (eager local checkpoint), and
    * the trigger's logical-batch ids are observed on that pin's own job
    * (`collect_set` through `Dataset.observe`, sorted on the driver) —
    * no separate distinct/sort job per trigger.
    *
    * `vec_id` contract: ids are indexed as given. A duplicated id is
    * assigned and listed once per row (within a batch as across
    * batches), and `n_vectors` counts the rows streamed; uniqueness is
    * the caller's to guarantee.
    *
    * `singleTrigger`: drain the whole landing dir in ONE AvailableNow
    * trigger instead of one file per trigger. Because foreachBatch
    * regroups rows by logical batch and applies them in ascending
    * order, the OUTPUT is identical either way (a StreamingSpec pins
    * the row-level equality) — what differs is only how many
    * micro-batch floors the certification pays. The heal gate runs
    * single-trigger (saves ~10 per-trigger floors); the ingest gate
    * stays multi-trigger to pin the trigger-boundary behavior. */
  def streamIvfIngest(spark: SparkSession, sfDir: String,
      span: Long = 200L, k: Int = 16,
      degenLastBatch: Boolean = false,
      singleTrigger: Boolean = false,
      verifyCensus: Boolean = false): DataFrame = {
    import java.nio.file._
    val ss = stateSession(spark, 4)
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val root = Paths.get(scratchRoot, s"graft_ivfing_$runId")
    val idxDir = root.resolve("index").toString
    val e = graft.io.Tables.loadColumns(ss, sfDir, "embeddings",
      "vec_id long, embedding array<float>")
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    // ONE staging pass (opt guide §2.4 — the previous per-batch loop ran
    // nBatches separate filter+write jobs, each a full scan of the
    // embeddings table), which also yields the batch count: the
    // highest logical batch + 1, i.e. max(vec_id) div span + 1
    val nBatches = stageBatchFiles(
      e.withColumn("_b", logicalBatch("vec_id", span)), root, landing)
    // the live index's centroid table, held driver-side across batches
    // as a local frame: k rows the build itself produced, or a retrain
    // rewrote (read back once, with the schema the build wrote). Every
    // assignment, the census seed and the final equality pin read it
    // without a job (opt guide §2.4).
    var cents: DataFrame = null
    var nLists = 0L
    def holdCentroids(df: DataFrame): Unit = {
      val rows = df.collect()
      cents = ss.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      nLists = rows.length.toLong
    }
    // per-batch result rows, written ONCE after the drain instead of
    // one tiny parquet-append job per batch — same rows, same schema
    val resultRows = new scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Boolean, Boolean, Boolean, Boolean)]()
    def processLogicalBatch(batch: DataFrame, b: Long): Unit = {
      // label the loop's jobs (opt guide §1.5) so per-phase cost is
      // attributable in the UI / `Probe jobs`
      def label(l: String): Unit =
        ss.sparkContext.setJobDescription(s"ivf-ingest b=$b: $l")
      // per-batch eager checkpoint KEPT (A/B'd: dropping it and letting
      // the 2-3 consumers re-scan the batch file measured ~2 s slower —
      // each action re-plans the streaming relation). The pin now
      // happens ONCE PER TRIGGER (see foreachBatch below): under the
      // heal gate's single-trigger drain all ~10 logical batches arrive
      // in one trigger and the old per-slice pin ran ten checkpoint
      // jobs of the streaming relation where one suffices — each
      // logical slice here is a narrow filter over the already-local
      // pinned RDD.
      // `degenLastBatch` poisons the final batch as it arrives
      val vecs =
        if (degenLastBatch && b == nBatches - 1L)
          batch.select(col("vec_id"),
            transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
        else batch
      // the census is maintained INCREMENTALLY (r13): batch 0 seeds the
      // running tables from the build stats; every append folds its own
      // per-list stats in — O(touched lists + 1) per batch instead of a
      // full stats re-read, the shape that survives lists >> batch.
      // Running == recomputed is pinned per batch in StreamingSpec.
      var batchFit = Long.MaxValue // batch 0 is the build itself
      // the batch's row count falls out of work the loop already does
      // (batch 0: the init census's n_total IS the build row count;
      // later batches: the collected stat rows' n sum to exactly the
      // appended count, since every vector is assigned) — the previous
      // per-batch vecs.count() was one more job per trigger for a
      // number already in hand (opt guide §1.2)
      var batchN = 0L
      val c =
        if (b == 0L) {
          label("train")
          holdCentroids(graft.ops.Similarity.trainKMeans(
            vecs, "vec_id", "embedding", k, iters = 3))
          label("build index")
          // the census is seeded from the build's own stat rows and the
          // held centroid count — no stats/centroids re-read, no count
          graft.ops.Similarity.initIvfCensusRunningRows(idxDir, nLists,
            graft.ops.Similarity.writeIvfIndex(
              vecs, "vec_id", "embedding", cents, idxDir))
          val init =
            graft.ops.Similarity.readIvfCensusRunning(ss, idxDir).collect()(0)
          batchN = init.getAs[Long]("n_total")
          init
        } else {
          label("append")
          // the append returns the batch's stat ROWS directly (r16:
          // wrapping them in a local relation only to collect them
          // straight back out was one more job per batch); the rows
          // feed BOTH the admission-fit guard and the running-census
          // fold. Arithmetic is unchanged: sum(long)/sum(long)
          // is double division in Spark SQL, cast("long") truncates —
          // exactly what the Scala expression below computes.
          val rows = graft.ops.Similarity.appendToIvfIndexRows(
            vecs, "vec_id", "embedding", idxDir, cents)
          label("census fold")
          val dn = rows.map(_.getAs[Long]("n")).sum
          val dsim = rows.map(_.getAs[Long]("sum_sim_micro")).sum
          batchFit = (dsim.toDouble / dn).toLong
          batchN = dn
          graft.ops.Similarity.updateIvfCensusRunningRows(ss, idxDir, rows)
            .collect()(0)
        }
      // StreamingSpec's equality pin: the incrementally-maintained
      // verdict must equal a full recompute from the stats table, at
      // every batch boundary the loop ever acts on
      if (verifyCensus) {
        val rec = graft.ops.Similarity.ivfIndexCensus(ss, idxDir).collect()(0)
        require(c.toSeq == rec.toSeq,
          s"running census diverged at batch $b: $c vs recomputed $rec")
      }
      // two detection signals (r14): the census catches CUMULATIVE
      // drift (skew growth, append-fit decay across the history), and
      // the per-batch admission-fit guard catches a SINGLE degenerate
      // batch (the upstream-model-bug signature) that history would
      // dilute out of the cumulative averages — batch fit under HALF
      // the build fit is a scale-free multiplicative verdict (normal
      // same-distribution batches sit at ~55% of the in-sample build
      // fit on this corpus at every measured sf; a zero/garbage batch
      // sits at ~0 — two orders of magnitude of separation, vs the
      // 0.25% margin the diluted cumulative drop left at sf0.1, probed
      // in CensusMarginProbe, BENCH_NOTES.md "Retired dev mains")
      val fired = c.getAs[Boolean]("needs_retrain") ||
        (b > 0L && batchFit * 2L < c.getAs[Long]("build_fit_micro"))
      // the self-healing step: when either signal fires, retrain RIGHT
      // HERE (zero-norm quarantine + stats reset) and re-census — the
      // index the next batch appends to is already healthy again
      val after =
        if (fired) {
          label("retrain")
          val build = graft.ops.Similarity.retrainIvfIndex(ss, idxDir, k,
            iters = 3)
          holdCentroids(ss.read.schema(graft.ops.Similarity.centroidsSchema)
            .parquet(s"$idxDir/centroids"))
          graft.ops.Similarity.initIvfCensusRunningRows(idxDir, nLists, build)
          val post =
            graft.ops.Similarity.readIvfCensusRunning(ss, idxDir).collect()(0)
          if (verifyCensus) {
            val rec = graft.ops.Similarity.ivfIndexCensus(ss, idxDir)
              .collect()(0)
            require(post.toSeq == rec.toSeq,
              s"post-retrain running census diverged: $post vs $rec")
          }
          post
        } else c
      label("result row")
      resultRows += ((b, batchN, after.getAs[Long]("n_total"),
        after.getAs[Long]("n_appended"),
        !after.getAs[Boolean]("needs_retrain"),
        fired, fired, fired && !after.getAs[Boolean]("needs_retrain")))
      ss.sparkContext.setJobDescription(null)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val reader = ss.readStream.schema(schema)
    val q = (if (singleTrigger) reader
             else reader.option("maxFilesPerTrigger", "1"))
      .parquet(landing.toString)
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin the TRIGGER's rows once, then slice logical batches with
        // narrow filters over the local RDD
        ss.sparkContext.setJobDescription("ivf-ingest: checkpoint trigger")
        val (pinned, bs) = pinTrigger(batch,
          collect_set(logicalBatch("vec_id", span)))
        bs.sorted.foreach { b =>
          processLogicalBatch(
            pinned.filter(logicalBatch("vec_id", span) === b), b)
        }
        // free the trigger pin's blocks NOW (unpersist is a no-op on
        // checkpoints; waiting on driver GC + ContextCleaner lets pins
        // pile up across triggers and queries)
        graft.ops.Pins.free(pinned)
      }
      .start()
    q.awaitTermination()
    // equality pin: incremental lists == one-shot assignment of the
    // SCORABLE corpus under the index's CURRENT centroids (batch-0's
    // when no retrain ran; the retrained ones when it did — retrain is
    // a fresh build over the lists, so the equality holds either way),
    // both directions, as multisets in one job
    val scorable =
      if (degenLastBatch) e.filter(logicalBatch("vec_id", span) < nBatches - 1)
      else e
    val direct = graft.ops.Similarity.assignToCentroids(
        scorable, "vec_id", "embedding", cents)
      .select(col("cid"), col("cent_id"))
    val lists = ss.read.schema(graft.ops.Similarity.listsSchema)
      .parquet(s"$idxDir/lists")
      .select(col("cid"), col("cent_id"))
    val eq = graft.ops.Similarity.multisetEq(lists, direct)
    import spark.implicits._
    val out = resultRows.toSeq
      .toDF("batch_id", "n_vectors", "n_total", "n_appended",
        "no_retrain", "census_fired", "retrained", "post_retrain_clear")
      .withColumn("matches_batch_build", lit(eq))
    LocalFs.deleteTree(root)
    out
  }
}
