package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table loading for the harness star schema (TESTDATA.md).
  *
  * The reference's sources are a REST API and S3 CSV
  * (`src/lms_to_s3_lambda.py:36-51`, `src/s3_to_rds_lambda.py:103-113`);
  * in the harness all inputs are Parquet fixtures, so this is the single
  * scan entry point. Filters/projections applied downstream are pushed
  * into the Parquet scan by Catalyst (the Spark-native form of the
  * reference's hand-written server-side `_filter`,
  * `src/lms_to_s3_lambda.py:196-200`).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** [[load]] of only the `columns` declared (a DDL string such as
    * `"vec_id long, embedding array<float>"`): the read runs no
    * schema-inference job, which `load` runs on every call. */
  def loadColumns(spark: SparkSession, sfDir: String, name: String,
      columns: String): DataFrame =
    spark.read.schema(columns).parquet(s"$sfDir/$name.parquet")

  /** Scale-adaptive scan widening (optimization guide §2.5, "input
    * skew: one huge unsplittable file"): the fixture tables are
    * single-file, single-ROW-GROUP parquet, so Spark's split planning
    * yields ONE scan partition regardless of core count — a map-side
    * kernel downstream runs serially on one core while the rest of the
    * session idles. `spreadScan` repartitions to the session's
    * parallelism when the whole file fits one split (size ≤
    * spark.sql.files.maxPartitionBytes — exactly the regime where the
    * exchange is cheap); on a production multi-split table it is the
    * IDENTITY, so nothing here tunes FOR local mode.
    *
    * Deliberately NOT applied inside the table loaders: a same-session
    * alternating A/B (SpreadAb, 3 pairs/query, through a since-removed
    * conf switch; BENCH_NOTES.md "Retired dev mains") measured the
    * blanket form a large net LOSS — only queries whose per-row map
    * work is genuinely expensive win (codec kernels 0.68×, shingle
    * hashing 0.69×), while ordinary scan→agg/join queries pay the
    * full-payload exchange plus 32 task floors for map work that took
    * milliseconds (q1 2.3×, join_amplification_census 4.4×,
    * sketch_ams_f2 2.8×). Callers with heavy per-row kernels opt in at
    * the point of use; everything else keeps the serial scan. */
  def spreadScan(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val size =
      try java.nio.file.Files.size(java.nio.file.Paths.get(path))
      catch { case _: Exception => Long.MaxValue }
    val oneSplit = size <= spark.sessionState.conf.filesMaxPartitionBytes
    if (oneSplit) df.repartition(cores) else df
  }

  /** [[spreadScan]] for a loaded fixture table, by name. */
  def spreadTable(spark: SparkSession, sfDir: String, name: String,
      df: DataFrame): DataFrame =
    spreadScan(spark, df, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** The events fixture's `ts` physical type has varied across harness
    * data generations — parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects) in one, naive TIMESTAMP(MICROS)
    * (`isAdjustedToUTC=false`, which Spark 4 infers as TIMESTAMP_NTZ)
    * in another. Normalize every incarnation to a session-local micros
    * TIMESTAMP so downstream `unix_micros`/watermark code sees ONE
    * type: nanos-as-long divides integrally (nanos ≈ 1.7e18 would lose
    * precision through a double); NTZ casts to LTZ, value-preserving
    * because every graft session pins spark.sql.session.timeZone=UTC
    * and the fixture's wall times mean UTC. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** CSV write with the reference's conventions: header row, no index
    * column (`df.to_csv(index=False)`, `src/lms_to_s3_lambda.py:211`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** CSV read with the reference's conventions: header + inferred schema
    * (`pd.read_csv`, `src/s3_to_rds_lambda.py:111`). NOTE: Spark's
    * `inferSchema` is a SEPARATE full pass over the file before the data
    * pass — unlike pandas' single-pass infer-while-reading. Pipelines
    * that coerce to a known schema right after (the reference's own W2
    * shape) should use [[readCsvRaw]] + [[graft.ops.Coerce.toSchema]]
    * instead: one pass, and the coerce step is the schema authority
    * anyway. Keep this form only for ad-hoc exploration. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Single-pass CSV read: header consumed, every column `string`, no
    * inference pass. The schema-on-coerce half of the W2 split —
    * [[graft.ops.Coerce.toSchema]] routes every target type through a
    * string-side try_cast, so (readCsvRaw ∘ toSchema) is value-identical
    * to (readCsv ∘ toSchema) while scanning the file once instead of
    * twice. At 100 TB the infer pass isn't just 2× read cost — it is a
    * schema decided by the data, which a production load must not be. */
  def readCsvRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** Single-pass CSV read with an explicit schema: native typed parsing
    * in the one data scan — no infer pass, no per-cell string-side
    * re-cast downstream. The fastest of the three read forms measured
    * (schema ≈ 0.5 s < infer ≈ 0.75 s < raw-strings ≈ 0.84 s warm on the
    * events round-trip) because the Univocity parser emits final types
    * directly. This is the production load shape: at 100 TB the schema
    * must be an input to the job, never an inference from the data. */
  def readCsvAs(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** ORC sink/source — the columnar alternative stage boundary: schema
    * rides in the file (no infer-then-coerce pass needed), predicate
    * pushdown and column pruning work on read like parquet. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines sink/source — the interchange-format stage boundary
    * (one JSON object per line, splittable). Read infers schema like
    * CSV; coerce after with [[graft.ops.Coerce]] when the target schema
    * is known. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** XML sink/source — Spark 4's built-in XML datasource (spark-xml was
    * merged into spark-sql in 4.0). One row element per record under a
    * root element; read infers schema from the elements like CSV/JSONL,
    * so the same infer-then-coerce split applies. XML is NOT splittable
    * per record the way JSONL is — at scale prefer many medium files
    * (the sink's natural per-partition layout) over one giant document. */
  def writeXml(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format("xml")
      .option("rootTag", "rows").option("rowTag", "row").save(path)
  def readXml(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml").option("rowTag", "row").load(path)
}
