package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Deterministic multi-source corpus mixing — the training-order step
  * that weaves documents from several sources into one stream at
  * configured rates (stride scheduling: a source with twice the weight
  * appears twice as often). Everything is exact arithmetic on ranks, so
  * the mixed order is reproducible on any cluster, partitioning, or
  * engine.
  */
object Mixing {

  /** Per-group rank (1-based, dense in the given TOTAL `order`) WITHOUT
    * a per-group single reducer: `row_number() OVER (PARTITION BY group
    * ORDER BY ...)` puts each group's entire extent in ONE task — dead
    * at 100 TB where one source can be most of the corpus. This is the
    * groupwise form of the two-phase prefix sum instead:
    *
    *   1. range-partition + sort by `order` (partition index order ==
    *      row order);
    *   2. per-(partition, group) counts to the driver — P × G rows,
    *      invariant of row count (mixing sources are dozens, not
    *      millions; for millions of groups use a keyed window and
    *      accept the shuffle);
    *   3. per-partition fold seeded with each group's offset.
    *
    * Adds `grp_rank`; one output row per input row. */
  def groupwiseRank(df: DataFrame, group: String, order: Seq[Column],
      numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "need at least one ordering column")
    val spark = df.sparkSession
    // frozen exchange: phases 2 and 3 must see the SAME sampled range
    // boundaries (see Packing.assignShards for the full rationale;
    // local vs reliable per Pins.ReliableCheckpointKey — AQE-coalesced
    // width unless the caller pins numPartitions)
    val ranged = Packing.rangedBy(df, order, numPartitions)
    val counts = ranged
      .select(spark_partition_id().as("_pid"), col(group))
      .groupBy(col("_pid"), col(group))
      .agg(count(lit(1)).as("_c"))
      .collect() // P × G rows only — guarded below
    // The driver map is O(P × G). The contract is "dozens of sources";
    // a high-cardinality group column must fail loudly here, not OOM the
    // driver silently. Callers with many groups want
    // row_number().over(Window.partitionBy(group)) — the per-key shuffle
    // is then the right trade.
    require(counts.length <= 1000000,
      s"groupwiseRank: ${counts.length} (partition, group) pairs exceed the " +
      "driver-side bound (1e6); the group column is too high-cardinality " +
      "for stride mixing — use a keyed window (partitionBy(group)) instead")
    // offset of group g in partition p = total of g in partitions < p
    val byGroup = counts.groupBy(_.get(1))
    val offsets: Map[(Int, Any), Long] = byGroup.iterator.flatMap {
      case (g, rows) =>
        var acc = 0L
        rows.sortBy(_.getInt(0)).map { r =>
          val o = ((r.getInt(0), g), acc)
          acc += r.getLong(2)
          o
        }
    }.toMap
    val offsetsB = spark.sparkContext.broadcast(offsets)
    val gIdx = ranged.schema.fieldIndex(group)
    val outSchema = ranged.schema.add("grp_rank", LongType)
    // mapPartitionsWithIndex, not TaskContext.getPartitionId(): the
    // task id is renumbered when the caller unions the result with
    // itself in one narrow stage — the RDD partition index is the one
    // the offset table was built against (same fix as
    // Packing.assignShardsOrdered; see the comment there).
    val out = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      val seen = scala.collection.mutable.HashMap.empty[Any, Long]
      it.map { r =>
        val g = r.get(gIdx)
        val rank = seen.getOrElse(g, offsetsB.value.getOrElse((pid, g), 0L)) + 1L
        seen(g) = rank
        Row.fromSeq(r.toSeq :+ rank)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Weighted source interleaving by stride scheduling: item `rank` of a
    * source with inverse weight `inv_w` sits at virtual position
    * `rank · inv_w`, carried as `mix_pos_micro = rank · inv_w · 10⁶` in
    * BIGINT micro-units; sorting by (mix_pos_micro, source, rank) yields
    * the mixed stream — a source with inv_w 0.5 appears twice per unit,
    * one with 1.0 once. `invWeights` is a small (source, inv_w) table,
    * broadcast; inv_w is quantized to micros before the product, so the
    * stride arithmetic is pure integer (exact — double strides would
    * tie-break on ulps and the mixed ORDER is the contract here; decimal
    * outputs hash engine-dependently in parquet, hence micros). A
    * micro-grained inv_w resolves ranks to ~9·10¹² before Long overflow,
    * far past any per-source corpus extent. Sources missing from the
    * table are dropped (mixture weight zero).
    *
    * Adds `grp_rank` (via [[groupwiseRank]] — no per-source single
    * reducer) and `mix_pos_micro`; the caller sorts/limits as needed (a
    * training pipeline feeds the sort straight into sequence packing's
    * range exchange). */
  def interleaveBySource(df: DataFrame, source: String, order: Seq[Column],
      invWeights: DataFrame, invCol: String = "inv_w",
      numPartitions: Int = 0): DataFrame = {
    val ranked = groupwiseRank(df, source, order, numPartitions)
    ranked.join(
        broadcast(invWeights.select(col(source),
          (col(invCol).cast(DecimalType(18, 6)) * lit(1000000L))
            .cast(LongType).as("_iw_micro"))), Seq(source))
      .withColumn("mix_pos_micro", col("grp_rank") * col("_iw_micro"))
      .drop("_iw_micro")
  }
}
