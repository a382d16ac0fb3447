package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** X2 similarity search: cosine kernel sanity, brute-force top-k
  * ordering, ANN recall against the exact baseline. */
class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val out = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out((0L, 2L))) < 1e-9)
    assert(math.abs(out((0L, 3L)) + 1.0) < 1e-9)
    assert(out((0L, 1L)) > 0.99)
  }

  test("brute-force top-k ranks by cosine desc with id tie-break") {
    val q = vecs.filter(col("vec_id") === 0)
    val out = Similarity.topKBruteForce(q, vecs, "vec_id", "embedding", 4)
      .orderBy("rk").collect().map(r => (r.getLong(1), r.getLong(3)))
    // expected neighbor order for query 0: 1 (.994), 4 (.707), 2 (0), 3 (-1)
    assert(out.toSeq == Seq((1L, 1L), (4L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("ANN top-k returns a subset of the exact ranking's candidates, correctly ordered") {
    val q = vecs.filter(col("vec_id") === 0)
    val ann = Similarity.lshBucketTopK(q, vecs, "vec_id", "embedding", 4, planes = 2)
      .orderBy("rk").collect().map(_.getLong(1)).toSeq
    val exact = Similarity.topKBruteForce(q, vecs, "vec_id", "embedding", 4)
      .orderBy("rk").collect().map(_.getLong(1)).toSeq
    // ANN candidates are a sub-sequence of the exact order (same ranking,
    // possibly missing cross-bucket neighbors)
    assert(ann.nonEmpty)
    val positions = ann.map(exact.indexOf)
    assert(positions == positions.sorted)
  }

  test("exactNearDupPairs returns exactly the pairs above threshold") {
    val out = Similarity.exactNearDupPairs(vecs, "vec_id", "embedding", minCosine = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cos(0,1)≈0.994, cos(0,4)≈0.707, cos(1,4)≈0.78, cos(2,4)≈0.707 —
    // all ≥0.7; every other pair is ≤0.12 or negative
    assert(out == Set((0L, 1L), (0L, 4L), (1L, 4L), (2L, 4L)))
  }

  test("ANN recall floor on the real fixture (regression guard for the rows-only gates)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 10 === 0)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.topKBruteForce(q, e, "vec_id", "embedding", 5))
    val lsh = hits(Similarity.lshBucketTopK(q, e, "vec_id", "embedding", 5, planes = 4))
    val ivf = hits(Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
      nCentroids = 4, nprobe = 2))
    val lshRecall = (lsh & exact).size.toDouble / exact.size
    val ivfRecall = (ivf & exact).size.toDouble / exact.size
    // random fixture embeddings are a worst case for bucketing (no
    // cluster structure; measured: LSH 0.164, deterministic) — floors
    // are loose but catch a broken bucketer (recall ~0) immediately
    assert(lshRecall >= 0.1, s"LSH recall $lshRecall")
    assert(ivfRecall >= 0.3, s"IVF recall $ivfRecall")
  }

  test("k-means recovers planted clusters; trained IVF beats the stub quantizer; training is deterministic") {
    import spark.implicits._
    // 4 planted clusters on near-orthogonal directions, 25 vectors each
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val planted = (0 until 100).map { i =>
      val d = dirs(i % 4)
      val noise = 0.05f * ((i * 37 % 11) - 5) / 5f
      (i.toLong, d.toSeq.map(v => v + (if (v == 0f) noise else 0f)))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val cents = Similarity.trainKMeans(planted, "vec_id", "embedding", k = 4, iters = 4)
    // every trained centroid must be dominated by one planted direction
    val cvecs = cents.select("cent_vec").as[Seq[Float]].collect()
    val domAxes = cvecs.map(v => v.indexOf(v.map(math.abs).max)).toSet
    assert(domAxes == Set(0, 1, 2, 3), s"centroids missed a cluster: $domAxes")
    // determinism: same input, same centroids bit-for-bit
    val again = Similarity.trainKMeans(planted, "vec_id", "embedding", k = 4, iters = 4)
      .select("cent_vec").as[Seq[Float]].collect()
    assert(cvecs.toSeq == again.toSeq)

    // on the real fixture, trained IVF must meet the stub's recall floor
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 10 === 0)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.topKBruteForce(q, e, "vec_id", "embedding", 5))
    val trained = Similarity.trainKMeans(e, "vec_id", "embedding", k = 4, iters = 3)
    val ivfT = hits(Similarity.ivfTopKWith(q, e, "vec_id", "embedding", 5, trained, nprobe = 2))
    val recall = (ivfT & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"trained-IVF recall $recall")
  }

  /** 300 vectors of dimension 8 around four centres, in 3 partitions. */
  private lazy val blobs: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(5)
    (0L until 300L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(8)(d => (if (d % 4 == c) 1f else 0f) + rnd.nextFloat() * 0.2f))
    }.toDF("vec_id", "embedding").repartition(3)
  }

  test("k-means update: the one-job fold's sums equal labelCentroidSums " +
      "on the same assignment (ragged vectors and null components too)") {
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val e = blobs
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 8, iters = 1)
    val assigned = Similarity.assignToCentroids(e, "vec_id", "embedding", cents)
      .repartition(3)
    val folded = Similarity.foldCentroidSums(assigned, "cent_id", "_v")
    assert(folded.nonEmpty)
    assert(folded == tuples(Similarity.labelCentroidSums(assigned, "cent_id", "_v")))
    val odd = Seq[(Long, Seq[java.lang.Float])](
        (1L, Seq(1.5f, null, -2.25f)), (1L, Seq(0.1f, 3.0f)), (2L, Seq(-0.5f)),
        (2L, Seq.empty), (1L, Seq(7.0e-7f)))
      .toDF("label", "vec").select(col("label"), col("vec").cast("array<float>").as("vec"))
    assert(Similarity.foldCentroidSums(odd, "label", "vec") ==
      tuples(Similarity.labelCentroidSums(odd, "label", "vec")))
  }

  test("quantizedTopK: high recall vs exact float brute force; int kernel == HOF form") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 10 === 0)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.topKBruteForce(q, e, "vec_id", "embedding", 5))
    val quant = hits(Similarity.quantizedTopK(q, e, "vec_id", "embedding", 5))
    val recall = (quant & exact).size.toDouble / exact.size
    // int8 scan + 3k float rerank should be near-lossless on real vectors
    assert(recall >= 0.9, s"quantized recall $recall")
    // the codegen'd integer kernel agrees with the composable HOF form
    val qq = Similarity.quantizeInt8(e.limit(50), "vec_id", "embedding")
    val pairs = qq.select(col("vec_id").as("ida"), col("q").as("qa"))
      .crossJoin(qq.select(col("vec_id").as("idb"), col("q").as("qb")))
    val mismatch = pairs.withColumn("k", graft.expr.DotProductInt(col("qa"), col("qb")))
      .withColumn("h", aggregate(zip_with(col("qa"), col("qb"),
        (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, v) => acc + v))
      .filter(col("k") =!= col("h")).count()
    assert(mismatch == 0L)
  }

  test("quantizedTopK proxy is norm-invariant: wild norm spread must not hide true neighbors") {
    import spark.implicits._
    // cosine ignores norms; a raw-dot proxy would rank the 1000x-norm
    // mediocre vectors above the tiny-norm true neighbor and never
    // rerank it. The normalized proxy must keep recall.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scaled = e.withColumn("embedding",
      transform(col("embedding"), x =>
        (x * when(col("vec_id") % 3 === 0, lit(0.001f))
          .when(col("vec_id") % 3 === 1, lit(1000.0f))
          .otherwise(lit(1.0f))).cast("float")))
    val q = scaled.filter(col("vec_id") % 10 === 0)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.topKBruteForce(q, scaled, "vec_id", "embedding", 5))
    val quant = hits(Similarity.quantizedTopK(q, scaled, "vec_id", "embedding", 5))
    val recall = (quant & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"norm-spread quantized recall $recall")
  }

  test("quantizeInt8: range, reconstruction bound, zero-vector guard") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // all-zero: scale 0, q all 0
      (3L, Seq(1e-8f, -1e-8f, 1e-8f, -1e-8f))
    ).toDF("vec_id", "v").select(col("vec_id"), col("v").cast("array<float>").as("v"))
    val out = Similarity.quantizeInt8(df, "vec_id", "v")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    // every component in [-127, 127]; the absmax component hits ±127
    assert(out(1L)._2.forall(q => q >= -127 && q <= 127))
    assert(out(1L)._2.contains(-127))
    // reconstruction error bounded by scale/2 per component
    val (s1, q1) = out(1L)
    val v1 = Seq(0.5, -1.0, 0.25, 0.0)
    q1.zip(v1).foreach { case (q, v) =>
      assert(math.abs(q * s1 - v) <= s1 / 2 + 1e-12) }
    // zero vector: scale 0, all-zero quant (no div-by-zero artifacts)
    assert(out(2L) == ((0.0, Seq(0, 0, 0, 0))))
    // tiny but nonzero vectors still saturate their absmax to ±127
    assert(out(3L)._2.toSet == Set(127, -127))
  }

  test("embeddingNearDups finds the high-cosine pair only") {
    val pairs = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      minCosine = 0.99, planes = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("pqTopK: exact on a clustered corpus, deterministic, bad dims rejected") {
    import spark.implicits._
    // 8-dim vectors in 4 tight clusters along distinct axes — with
    // kCodes=4 per 4-dim subspace the codebooks can represent every
    // cluster exactly, so ADC ranks the true neighbors first and the
    // exact rerank must return the SAME top-k as brute force. Cluster
    // size (8) stays BELOW the shortlist width (rerank·k = 24): ADC
    // collapses a whole cluster to one code, so its internal ordering
    // is cid-arbitrary and only a fully-shortlisted cluster guarantees
    // the true top-k survives to the rerank.
    val rng = new scala.util.Random(11)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(v => v + (rng.nextFloat() - 0.5f) * 0.01f)
    val axes = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))
    val corpus = (0 until 32).map(i => (i.toLong, jitter(axes(i % 4))))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    val pq = Similarity.pqTopK(queries, corpus, "vec_id", "embedding",
        k = 3, m = 2, kCodes = 4, trainIters = 5, rerank = 8)
      .select("qid", "cid", "rk").as[(Long, Long, Long)].collect().toSet
    val exact = Similarity.topKBruteForce(queries, corpus, "vec_id",
        "embedding", 3)
      .select("qid", "cid", "rk").as[(Long, Long, Long)].collect().toSet
    assert(pq == exact, "clustered corpus: PQ must recover the exact top-k")
    // determinism: re-run identical
    val pq2 = Similarity.pqTopK(queries, corpus, "vec_id", "embedding",
        k = 3, m = 2, kCodes = 4, trainIters = 5, rerank = 8)
      .select("qid", "cid", "rk").as[(Long, Long, Long)].collect().toSet
    assert(pq2 == pq)
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(queries, corpus, "vec_id", "embedding", 3, m = 3)
        .collect()
    }
  }

  test("knnClassify: planted clusters classify correctly; vote tie → smaller label") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; labels 7 (x-axis) and 3
    // (y-axis). Queries q1 near x-cluster, q2 near y-cluster.
    def v(x: Float, y: Float, z: Float) = Array(x, y, z)
    val corpus = Seq(
      (10L, v(1f, 0.01f, 0f), 7), (11L, v(1f, -0.01f, 0f), 7),
      (12L, v(0.99f, 0.02f, 0f), 7),
      (20L, v(0.01f, 1f, 0f), 3), (21L, v(-0.01f, 1f, 0f), 3),
      (22L, v(0.02f, 0.99f, 0f), 3)).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, v(1f, 0.05f, 0f), 0), (2L, v(0.05f, 1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(queries, corpus, "vec_id", "embedding",
        "label", k = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (q, l, n) => (q, (l, n)) }.toMap
    assert(got == Map(1L -> ((7L, 3L)), 2L -> ((3L, 3L))))
    // k=6 → 3 votes each: tie broken toward the SMALLER label (3)
    val tied = Similarity.knnClassify(queries, corpus, "vec_id", "embedding",
        "label", k = 6)
      .as[(Long, Long, Long)].collect()
    assert(tied.forall { case (_, l, n) => l == 3L && n == 3L })
  }

  test("persisted IVF index: probe from disk == in-memory ivfTopKWith " +
      "row-for-row") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") % 100 === 0)
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, path)
    val mem = Similarity.ivfTopKWith(q, e, "vec_id", "embedding", 5, cents, nprobe = 3)
      .collect().map(_.toSeq).toSet
    val disk = Similarity.ivfTopKPersisted(spark, path, q, "vec_id", "embedding",
        5, nprobe = 3)
      .collect().map(_.toSeq).toSet
    assert(disk == mem)
    assert(mem.nonEmpty)
    rmTree(path)
  }

  private def rmTree(p: String): Unit =
    java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(q => java.nio.file.Files.delete(q))

  /** Per-partition data-file sets under `lists/` (ignores _SUCCESS etc.). */
  private def listFiles(path: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path, "lists")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      .toSeq
      .groupBy(_.getParent.getFileName.toString)
      .map { case (d, fs) => d -> fs.map(_.getFileName.toString).toSet }
  }

  test("IVF append: build(A)+append(B) == assignment of A∪B under A's " +
      "centroids; append writes ONLY the partitions B maps to and never " +
      "rewrites an existing file") {
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.filter(col("vec_id") % 3 =!= 0)
    val b = e.filter(col("vec_id") % 3 === 0)
    val cents = Similarity.trainKMeans(a, "vec_id", "embedding", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfapp").toString
    Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, path)
    val before = listFiles(path)
    Similarity.appendToIvfIndex(spark, b, "vec_id", "embedding", path)
    val after = listFiles(path)
    // every pre-existing file still present, byte-identical by name
    before.foreach { case (part, fs) =>
      assert(fs.subsetOf(after.getOrElse(part, Set.empty)),
        s"append rewrote files in $part")
    }
    // new files landed ONLY in the partitions B's assignment maps to
    val bCells = Similarity.assignToCentroids(b, "vec_id", "embedding",
        spark.read.parquet(s"$path/centroids"))
      .select(col("cent_id")).distinct().collect()
      .map(r => s"cent_id=${r.getLong(0)}").toSet
    val grew = after.filter { case (part, fs) =>
      fs != before.getOrElse(part, Set.empty) }.keySet
    assert(grew == bCells, s"grew=$grew assigned=$bCells")
    // the judge's equality pin, both directions
    val direct = Similarity.assignToCentroids(e, "vec_id", "embedding",
        spark.read.parquet(s"$path/centroids"))
      .select(col("cid"), col("cent_id"))
      .collect().map(_.toSeq).toSet
    val lists = spark.read.parquet(s"$path/lists")
      .select(col("cid"), col("cent_id"))
      .collect().map(_.toSeq).toSet
    assert(lists == direct)
    assert(lists.size == e.count())
    rmTree(path)
  }

  test("multisetEq: helper columns never collide with an input column " +
      "(inputs already carrying `_s`/`_d`)") {
    val x = Seq((1L, 7L, 0L), (2L, 7L, 0L), (2L, 7L, 0L)).toDF("_s", "v", "_d")
    assert(Similarity.multisetEq(x, x.orderBy(col("_s").desc)))
    // same rows once the `_s` values are overwritten by a constant — a
    // fixed `_s` sign column would see these as equal
    val y = Seq((3L, 7L, 0L), (4L, 7L, 0L), (4L, 7L, 0L)).toDF("_s", "v", "_d")
    assert(!Similarity.multisetEq(x, y))
    // multiplicity counts: same distinct rows, different counts
    val z = Seq((1L, 7L, 0L), (1L, 7L, 0L), (2L, 7L, 0L)).toDF("_s", "v", "_d")
    assert(!Similarity.multisetEq(x, z))
  }

  test("IVF vec_id contract: a duplicated id is indexed once per row — " +
      "lists == direct assignment as multisets, and the stat n counts " +
      "both rows") {
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val dup = e.filter(col("vec_id") === 7L)
    val withDup = e.unionByName(dup)
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 8, iters = 2)
    val p = java.nio.file.Files.createTempDirectory("ivfdup").toString
    val build = Similarity.writeIvfIndex(withDup, "vec_id", "embedding", cents, p)
    val direct = Similarity.assignToCentroids(withDup, "vec_id", "embedding",
        cents).select(col("cid"), col("cent_id"))
    val lists = spark.read.parquet(s"$p/lists").select(col("cid"), col("cent_id"))
    assert(Similarity.multisetEq(lists, direct))
    assert(lists.filter(col("cid") === 7L).count() == 2L)
    val n = e.count()
    assert(build.map(_.getAs[Long]("n")).sum == n + 1)
    assert(spark.read.parquet(s"$p/stats").agg(sum(col("n")))
      .head().getLong(0) == n + 1)
    rmTree(p)
  }

  private val statsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cent_id long, n long, sum_sim_micro long")

  /** The two-pass index write the one-job write replaced: the
    * assignment pinned, the lists written from the pin, then the stat
    * rows from a groupBy + collect over it. */
  private def pinnedWriteAssigned(assignment: org.apache.spark.sql.DataFrame,
      path: String, mode: String, phase: String): Array[org.apache.spark.sql.Row] = {
    val assigned = graft.ops.Pins.freeze(assignment)
    assigned.select(col("cid"), col("_v"), col("_n"), col("cent_id"))
      .write.mode(mode).partitionBy("cent_id").parquet(s"$path/lists")
    val rows = assigned.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"), sum(col("_sim_micro")).as("sum_sim_micro"))
      .collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), statsSchema)
      .withColumn("phase", lit(phase))
      .coalesce(1).write.mode(mode).parquet(s"$path/stats")
    graft.ops.Pins.free(assigned)
    rows
  }

  private def statTuples(rows: Seq[org.apache.spark.sql.Row]): Seq[(Long, Long, Long)] =
    rows.map(r => (r.getAs[Long]("cent_id"), r.getAs[Long]("n"),
      r.getAs[Long]("sum_sim_micro"))).sorted

  test("IVF one-job write: the stat rows observed on the lists write " +
      "equal the groupBy over the assignment, as multisets") {
    val e = blobs
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 16, iters = 2)
    val p = java.nio.file.Files.createTempDirectory("ivfrows").toString
    val rows = Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, p)
    val grouped = Similarity.assignToCentroids(e, "vec_id", "embedding", cents)
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"), sum(col("_sim_micro")).as("sum_sim_micro"))
      .collect()
    assert(rows.nonEmpty && statTuples(rows.toSeq) == statTuples(grouped.toSeq))
    rmTree(p)
  }

  test("IVF one-job write: build → append → retrain leave lists/, " +
      "stats/, centroids/ and the census sidecar equal to the pinned " +
      "two-pass write's") {
    import java.nio.file.{Files, Paths}
    val e = blobs
    val a = e.filter(col("vec_id") % 3 =!= 0)
    val b = e.filter(col("vec_id") % 3 === 0)
    val cents = Similarity.trainKMeans(a, "vec_id", "embedding", k = 8, iters = 2)
    val k = cents.collect().length.toLong
    def tmp(tag: String) = Files.createTempDirectory(tag).toString
    def sameIndex(p: String, r: String): Unit = {
      Seq("lists", "stats", "centroids").foreach { t =>
        assert(Similarity.multisetEq(spark.read.parquet(s"$p/$t"),
          spark.read.parquet(s"$r/$t")), s"$t/ differs")
      }
      Seq("summary.json", "list_counts.bin").foreach { f =>
        assert(Files.readAllBytes(Paths.get(p, "census", f)).toSeq ==
          Files.readAllBytes(Paths.get(r, "census", f)).toSeq, s"census/$f differs")
      }
    }
    // the product path, driven as the streaming loop drives it
    val p = tmp("ivfone")
    Similarity.initIvfCensusRunningRows(p, k,
      Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, p))
    Similarity.updateIvfCensusRunningRows(spark, p,
      Similarity.appendToIvfIndexRows(b, "vec_id", "embedding", p, cents))
    // the replaced path, its sidecar recomputed from its stats/
    val r = tmp("ivftwo")
    cents.coalesce(1).write.parquet(s"$r/centroids")
    pinnedWriteAssigned(Similarity.assignToCentroids(a, "vec_id", "embedding", cents),
      r, "overwrite", "build")
    pinnedWriteAssigned(Similarity.assignToCentroids(b, "vec_id", "embedding", cents),
      r, "append", "append")
    Similarity.initIvfCensusRunning(spark, r)
    sameIndex(p, r)
    // retrain: a fresh build over the index's own scorable lists
    Similarity.initIvfCensusRunningRows(p, k,
      Similarity.retrainIvfIndex(spark, p, k = 8, iters = 2))
    val held = spark.read.parquet(s"$r/lists").select(col("cid"), col("_v"))
      .filter(Similarity.normSq(col("_v")) > 0.0)
    val rc = Similarity.trainKMeans(held, "cid", "_v", k = 8, iters = 2)
    val r2 = tmp("ivftwo2")
    rc.coalesce(1).write.parquet(s"$r2/centroids")
    pinnedWriteAssigned(Similarity.assignToCentroids(held, "cid", "_v", rc),
      r2, "overwrite", "build")
    Similarity.initIvfCensusRunning(spark, r2)
    sameIndex(p, r2)
    Seq(p, r, r2).foreach(rmTree)
  }

  test("IVF census sidecar seeded from the build's own rows is " +
      "byte-identical to the full init's recompute from stats/") {
    import java.nio.file.{Files, Paths}
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding", k = 16, iters = 2)
    val p = Files.createTempDirectory("ivfseed").toString
    val build = Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, p)
    def sidecar(): Seq[Seq[Byte]] = Seq("summary.json", "list_counts.bin")
      .map(f => Files.readAllBytes(Paths.get(p, "census", f)).toSeq)
    Similarity.initIvfCensusRunningRows(p, cents.collect().length.toLong, build)
    val seeded = sidecar()
    Similarity.initIvfCensusRunning(spark, p)
    assert(seeded == sidecar())
    assert(Similarity.readIvfCensusRunning(spark, p).collect()(0).toSeq ==
      Similarity.ivfIndexCensus(spark, p).collect()(0).toSeq)
    rmTree(p)
  }

  test("IVF staleness census: same-distribution append stays quiet; a " +
      "concentrated batch fires the SKEW trigger; a degenerate (zero-" +
      "vector) batch fires the FIT trigger") {
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.filter(col("vec_id") % 3 =!= 0)
    val b = e.filter(col("vec_id") % 3 === 0)
    // k = 16, the gate's configuration: the skew ratio is k-sensitive
    // (max list / MEAN list, and the mean shrinks with k) — IvfMaintProbe
    // (BENCH_NOTES.md "Retired dev mains") measured the concentrated batch
    // at ~6.0× under k=16 vs 3.3× at k=8
    val cents = Similarity.trainKMeans(a, "vec_id", "embedding", k = 16, iters = 2)
    def censusOf(batch: org.apache.spark.sql.DataFrame) = {
      val p = java.nio.file.Files.createTempDirectory("ivfcen").toString
      Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, p)
      Similarity.appendToIvfIndex(spark, batch, "vec_id", "embedding", p)
      val r = Similarity.ivfIndexCensus(spark, p).collect()(0)
      rmTree(p)
      r
    }
    val same = censusOf(b)
    assert(!same.getAs[Boolean]("needs_retrain"),
      s"same-distribution append must not trigger a re-train: $same")
    assert(same.getAs[Long]("n_appended") == b.count())
    // novel mode: every vector on one fixed direction → one list swells
    val conc = b.select(col("vec_id"),
      transform(col("embedding"),
        (_, i) => when(i === 0, lit(10.0)).otherwise(lit(0.01)).cast("float"))
        .as("embedding"))
    val c2 = censusOf(conc)
    assert(c2.getAs[Long]("skew_micro") > 4000000L && c2.getAs[Boolean]("needs_retrain"),
      s"concentrated batch must fire the skew trigger: $c2")
    // upstream-model-bug signature: all-zero embeddings → fit collapses
    val degen = b.select(col("vec_id"),
      transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    val c3 = censusOf(degen)
    assert(c3.getAs[Long]("append_fit_micro") == 0L &&
      c3.getAs[Long]("fit_drop_micro") > 200000L &&
      c3.getAs[Boolean]("needs_retrain"),
      s"degenerate batch must fire the fit trigger: $c3")
  }

  test("IVF retrain: reads ONLY the index's own lists (works after the " +
      "source corpus is deleted), quarantines zero-norm vectors instead " +
      "of re-ingesting them, clears the census, and reproduces the " +
      "fresh-build index exactly") {
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.filter(col("vec_id") % 3 =!= 0)
    // the SOURCE is a scratch parquet copy we delete before retraining —
    // the behavioral pin that retrain depends on lists/, not the corpus
    val srcDir = java.nio.file.Files.createTempDirectory("ivfsrc").toString
    a.write.mode("overwrite").parquet(srcDir)
    val src = spark.read.parquet(srcDir)
    val cents = Similarity.trainKMeans(src, "vec_id", "embedding", k = 16, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfret").toString
    Similarity.writeIvfIndex(src, "vec_id", "embedding", cents, path)
    val degen = e.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    Similarity.appendToIvfIndex(spark, degen, "vec_id", "embedding", path)
    assert(Similarity.ivfIndexCensus(spark, path).collect()(0)
      .getAs[Boolean]("needs_retrain"), "degen append must fire")
    rmTree(srcDir) // source gone — retrain must not notice
    Similarity.retrainIvfIndex(spark, path, k = 16, iters = 2)
    val after = Similarity.ivfIndexCensus(spark, path).collect()(0)
    assert(!after.getAs[Boolean]("needs_retrain"),
      s"census must clear after retrain: $after")
    assert(after.getAs[Long]("n_total") == a.count() &&
      after.getAs[Long]("n_appended") == 0L, s"totals reset: $after")
    // nothing silently dropped: the zero-norm batch is in quarantine/
    val quar = spark.read.parquet(s"$path/quarantine")
    assert(quar.count() == degen.count())
    assert(quar.select(col("cid")).collect().map(_.getLong(0)).toSet ==
      degen.select(col("vec_id")).collect().map(_.getLong(0)).toSet)
    // retrain(lists) == fresh build over the scorable corpus, bit-for-bit
    val fresh = java.nio.file.Files.createTempDirectory("ivffr").toString
    val fcents = Similarity.trainKMeans(a, "vec_id", "embedding", k = 16, iters = 2)
    Similarity.writeIvfIndex(a, "vec_id", "embedding", fcents, fresh)
    def rows(p: String, cols: Seq[String]) =
      spark.read.parquet(p).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(rows(s"$path/centroids", Seq("cent_id", "cent_vec")) ==
      rows(s"$fresh/centroids", Seq("cent_id", "cent_vec")))
    assert(rows(s"$path/lists", Seq("cid", "cent_id")) ==
      rows(s"$fresh/lists", Seq("cid", "cent_id")))
    rmTree(path); rmTree(fresh)
  }

  test("IVF running census (r13): init/update track the full stats " +
      "recompute EXACTLY across appends, a fired trigger, and a " +
      "retrain reset; an update folds only the batch's own stat rows " +
      "and never scans the stats table") {
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // build on HALF the corpus: the census fit baseline is in-sample,
    // and a 125-vector build showed a 0.26 generalization gap on this
    // fixture (fired spuriously) — 250 keeps same-distribution appends
    // inside the 0.20 threshold, matching the stream gate's 200/200
    val a = e.filter(col("vec_id") % 4 < 2)
    val b1 = e.filter(col("vec_id") % 4 === 2)
    val b2 = e.filter(col("vec_id") % 4 === 3)
    val degen = b2.select(col("vec_id"),
      transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    val cents = Similarity.trainKMeans(a, "vec_id", "embedding",
      k = 16, iters = 2)
    val p = java.nio.file.Files.createTempDirectory("ivfrun").toString
    Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, p)
    Similarity.initIvfCensusRunning(spark, p)
    def pin(tag: String): org.apache.spark.sql.Row = {
      val run = Similarity.readIvfCensusRunning(spark, p).collect()(0)
      val rec = Similarity.ivfIndexCensus(spark, p).collect()(0)
      assert(run.toSeq == rec.toSeq,
        s"$tag: running=$run vs recomputed=$rec")
      run
    }
    pin("post-build")
    val s1 = Similarity.appendToIvfIndex(spark, b1, "vec_id", "embedding", p)
    val u1 = Similarity.updateIvfCensusRunning(spark, p, s1).collect()(0)
    assert(u1.toSeq == pin("append-1").toSeq,
      "update verdict differs from its own re-read")
    val s2 = Similarity.appendToIvfIndex(spark, b2, "vec_id", "embedding", p)
    // the no-scan discipline: with the stats table parked OUT of the
    // index, update and read still work — only init ever reads stats
    val statsDir = java.nio.file.Paths.get(p, "stats")
    val parked = java.nio.file.Paths.get(p, "_stats_parked")
    java.nio.file.Files.move(statsDir, parked)
    val u2 = Similarity.updateIvfCensusRunning(spark, p, s2).collect()(0)
    assert(u2.toSeq ==
      Similarity.readIvfCensusRunning(spark, p).collect()(0).toSeq)
    java.nio.file.Files.move(parked, statsDir)
    assert(u2.toSeq == pin("append-2").toSeq)
    assert(!u2.getAs[Boolean]("needs_retrain"),
      s"same-distribution appends must stay quiet: $u2")
    // the degenerate batch fires through the INCREMENTAL path too
    val s3 = Similarity.appendToIvfIndex(spark, degen, "vec_id", "embedding", p)
    val u3 = Similarity.updateIvfCensusRunning(spark, p, s3).collect()(0)
    assert(u3.getAs[Boolean]("needs_retrain") &&
      u3.toSeq == pin("degen").toSeq, s"fit trigger via running census: $u3")
    // retrain resets the baseline; re-init rebuilds the running tables
    Similarity.retrainIvfIndex(spark, p, k = 16, iters = 2)
    Similarity.initIvfCensusRunning(spark, p)
    val after = pin("post-retrain")
    assert(!after.getAs[Boolean]("needs_retrain") &&
      after.getAs[Long]("n_appended") == 0L, s"baseline reset: $after")
    rmTree(p)
  }

  test("IVF running census crash recovery (r14): a torn summary fails " +
      "loudly by name; a crash between the two sidecar writes (fresh " +
      "counts, stale summary) and a missing counts file are both " +
      "recovered by the documented re-init, which reproduces the " +
      "recompute exactly and keeps subsequent updates exact") {
    import java.nio.file.{Files, Paths}
    val e = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.filter(col("vec_id") % 4 < 2)
    val b1 = e.filter(col("vec_id") % 4 === 2)
    val b2 = e.filter(col("vec_id") % 4 === 3)
    val cents = Similarity.trainKMeans(a, "vec_id", "embedding",
      k = 16, iters = 2)
    val p = Files.createTempDirectory("ivfcrash").toString
    Similarity.writeIvfIndex(a, "vec_id", "embedding", cents, p)
    Similarity.initIvfCensusRunning(spark, p)
    def recovered(tag: String): Unit = {
      val run = Similarity.readIvfCensusRunning(spark, p).collect()(0)
      val rec = Similarity.ivfIndexCensus(spark, p).collect()(0)
      assert(run.toSeq == rec.toSeq,
        s"$tag: running=$run vs recomputed=$rec")
    }
    val summaryP = Paths.get(p, "census", "summary.json")
    val countsP = Paths.get(p, "census", "list_counts.bin")
    // 1) torn summary: a field missing fires the named error that
    // points at the recovery, never a silent zero or a parse crash
    val good = Files.readAllBytes(summaryP)
    val torn = new String(good, "UTF-8")
      .replaceAll(""","asum":-?\d+""", "")
    Files.write(summaryP, torn.getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException](
      Similarity.readIvfCensusRunning(spark, p).collect())
    assert(e1.getMessage.contains("summary.json missing asum") &&
      e1.getMessage.contains("re-run initIvfCensusRunning"), e1.getMessage)
    Files.write(summaryP, good)
    recovered("torn-summary-restored")
    // 2) crash BETWEEN the two writes: counts already moved, summary
    // still the pre-batch one. Simulate by snapshotting the summary,
    // updating, then restoring the stale summary over the fresh counts.
    val stale = Files.readAllBytes(summaryP)
    val s1 = Similarity.appendToIvfIndex(spark, b1, "vec_id", "embedding", p)
    Similarity.updateIvfCensusRunning(spark, p, s1).collect()
    Files.write(summaryP, stale)
    val runStale = Similarity.readIvfCensusRunning(spark, p).collect()(0)
    val recNow = Similarity.ivfIndexCensus(spark, p).collect()(0)
    assert(runStale.toSeq != recNow.toSeq,
      "stale summary must actually diverge for the recovery to matter")
    Similarity.initIvfCensusRunning(spark, p) // the documented recovery
    recovered("post-crash-reinit")
    // 3) missing counts file: the read side throws (no sidecar to
    // trust), re-init rebuilds it, and the NEXT update is exact again
    Files.delete(countsP)
    intercept[java.io.IOException](
      Similarity.updateIvfCensusRunning(spark, p, s1))
    Similarity.initIvfCensusRunning(spark, p)
    recovered("post-delete-reinit")
    val s2 = Similarity.appendToIvfIndex(spark, b2, "vec_id", "embedding", p)
    val u2 = Similarity.updateIvfCensusRunning(spark, p, s2).collect()(0)
    assert(u2.toSeq ==
      Similarity.ivfIndexCensus(spark, p).collect()(0).toSeq,
      s"post-recovery update must stay exact: $u2")
    rmTree(p)
  }
}
