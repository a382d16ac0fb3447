package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (r13 ask #1): materialize an sf1.0 fixture set (~6M
  * lineitem rows) by inflating the driver's sf0.1 tables ×10 with a
  * FK-consistent key remap, for the tri-decade scaling-curve
  * certification (sf0.01 → sf0.1 → sf1.0).
  *
  * Scheme: every scaling table is replicated rep = 0..9 with
  * `key' = key*10 + rep` applied to BOTH primary and foreign keys, so
  * referential integrity holds exactly and every join behaves as 10
  * disjoint copies — join and group cardinalities scale linearly, the
  * same way the driver's own sf0.01 → sf0.1 step scales. The fixed
  * dimensions (region, nation) stay as-is, like TPC-H. Text is
  * rep-prefixed for rep > 0 (the ScaleProbe convention) so exact dedup
  * keeps one copy per text and near-dup sees near- not exact-dups;
  * embeddings get a small deterministic per-rep nudge on dim 0 so ANN
  * doesn't see 10 identical points; event timestamps get +rep seconds
  * so per-key event sequences stay strictly ordered.
  *
  * Usage: `runMain graft.tools.GenSf1 [srcDir] [dstDir]`
  * (defaults /root/testdata/sf0.1 → /root/repo/testdata-sf1/sf1.0). */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/testdata-sf1/sf1.0")
    val spark = graft.GraftSession.harness()
    spark.sparkContext.setLogLevel("WARN")

    val reps = 10
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // the driver's fixture layout is ONE parquet FILE per table (DuckDB
    // reads the path directly) — stage a coalesced dir, move the part
    // file into place
    def writeSingleFile(df: DataFrame, name: String): Unit = {
      val stage = Paths.get(dst, s"_stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val it = Files.list(stage).iterator()
      var part: java.nio.file.Path = null
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) part = p
      }
      val tgt = Paths.get(dst, s"$name.parquet")
      Files.deleteIfExists(tgt): Unit
      Files.move(part, tgt, StandardCopyOption.REPLACE_EXISTING): Unit
      graft.io.LocalFs.deleteTree(stage)
    }
    def inflate(name: String)(remap: DataFrame => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
        .crossJoin(spark.range(reps).toDF("rep"))
      writeSingleFile(remap(base).drop("rep"), name)
      println(s"[gensf1] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def rk(c: String) = (col(c) * reps + col("rep")).as(c)

    // fixed dimensions: copy untouched
    Seq("region", "nation").foreach { n =>
      Files.createDirectories(Paths.get(dst))
      Files.copy(Paths.get(s"$src/$n.parquet"),
        Paths.get(s"$dst/$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING): Unit
      println(s"[gensf1] $n: copied")
    }
    inflate("customer")(df => df.select(rk("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
      col("rep")))
    inflate("supplier")(df => df.select(rk("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal"), col("rep")))
    inflate("part")(df => df.select(rk("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"),
      col("rep")))
    inflate("orders")(df => df.select(rk("o_orderkey"), rk("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"), col("rep")))
    inflate("lineitem")(df => df.select(rk("l_orderkey"), rk("l_partkey"),
      rk("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"),
      col("rep")))
    inflate("events")(df => df.select(rk("event_id"),
      (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, rep)")).as("ts"),
      rk("user_id"), col("event_type"), col("value"), col("props"),
      col("rep")))
    inflate("documents")(df => df.select(rk("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(concat(lit("rep"), col("rep"), lit(" "), col("text")))
        .as("text"),
      col("lang"), col("source"),
      (length(when(col("rep") === 0, col("text"))
        .otherwise(concat(lit("rep"), col("rep"), lit(" "), col("text")))))
        .cast("long").as("n_chars"),
      col("rep")))
    inflate("embeddings")(df => df.select(rk("vec_id"),
      transform(col("embedding"), (v, i) =>
        when(i === 0, v + col("rep").cast("float") * lit(0.001f))
          .otherwise(v)).as("embedding"),
      col("label"), col("rep")))
    spark.stop()
  }
}
