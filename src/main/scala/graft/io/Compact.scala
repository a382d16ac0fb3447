package graft.io

import org.apache.spark.sql.SparkSession

/** Small-files compaction — the maintenance op every long-running
  * file-landing pipeline needs (each streaming micro-batch / upsert merge
  * writes files; scans degrade as file count grows). Rewrites a parquet
  * dataset into ~`targetBytes` files via a round-robin repartition, with
  * the same staged swap as [[JdbcUpsert.mergeIntoParquet]]
  * ([[LocalFs.swapIn]]).
  *
  * At cluster scale, prefer a table format (Iceberg/Delta) whose compaction
  * is transactional; this is the plain-parquet form for the harness. */
object Compact {
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val dir = new java.io.File(path)
    require(dir.exists(), s"$path does not exist")
    val bytes = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path).repartition(nFiles)
    val staging = path + "_compact_staging"
    df.write.mode("overwrite").parquet(staging)
    LocalFs.swapIn(staging, path)
    nFiles.toLong
  }
}
