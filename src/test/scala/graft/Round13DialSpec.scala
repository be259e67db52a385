package graft

import graft.operators.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round 13: the last hand-pinned scale dial (q53's nlist=16) moves to
  * the corpus-count auto dial, the dial count itself moves from a full
  * `count()` pass to a parquet-footer metadata read, and the
  * cell-assignment sweep moves from an unrolled per-cell expression
  * (codegen-fatal at nlist ≈ √N) to the batched
  * [[graft.plans.NearestCentroid]] loop. */
class Round13DialSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------- stats-based dial counts

  test("statsRowCount: metadata-only on a bare parquet scan — correct and ZERO Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statcount").toString
    val n = 257
    spark.range(n).selectExpr("id", "id * 2 AS v").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)

    var counted, viaView: Option[Long] = None
    val jobs = jobsOf {
      counted = Similarity.statsRowCount(df)
      // a temp view over the same files (spark.table keeps a View node)
      df.createOrReplaceTempView("r13_statcount_view")
      viaView = Similarity.statsRowCount(spark.table("r13_statcount_view"))
    }
    assert(counted.contains(n.toLong))
    assert(viaView.contains(n.toLong))
    assert(jobs == 0, s"footer path must run no Spark job, saw $jobs")
    // row-preserving nodes above the scan keep the fast path
    assert(Similarity.statsRowCount(df.select("id")).contains(n.toLong))
    assert(Similarity.statsRowCount(df.alias("t").select(col("v") + 1)).contains(n.toLong))
    assert(Similarity.corpusCount(df) == n.toLong)
  }

  test("statsRowCount: anything that can drop/add rows disqualifies the fast path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statcount2").toString
    spark.range(100).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(Similarity.statsRowCount(df.where(col("id") > 10)).isEmpty)
    assert(Similarity.statsRowCount(df.limit(5)).isEmpty)
    assert(Similarity.statsRowCount(df.union(df)).isEmpty)
    assert(Similarity.statsRowCount(spark.range(10).toDF()).isEmpty) // not a file scan
    // and corpusCount still answers via the count() fallback
    assert(Similarity.corpusCount(df.where(col("id") > 10)) == 89L)
  }

  test("auto dials are unchanged by the stats path (footer count == full count)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statcount3").toString
    val rnd = new scala.util.Random(7L)
    Seq.tabulate(300) { i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)) }
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(Similarity.corpusCount(df) == df.count())
    val out = Similarity.semanticDedupAuto(df, "vec_id", "embedding", dim = 8, minCos = 0.99)
    out.collect()
    val m = out.queryExecution.observedMetrics("graft_lsh_dial")
    assert(m.getAs[Int]("planes") == Similarity.autoPlanes(300))
  }

  // ------------------------------------------------- batched nearest cell

  /** The compositional argmin (one struct per cell through array_min):
    * the independent reference the batched sweep is checked against;
    * not for large nlist. */
  private def nearestCellUnrolled(vecCol: Column, centers: Array[Array[Double]]): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * graft.functions.vec.dot(vecCol, lit(c))).as("d2"),
             lit(i).as("cell"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("cell")
  }

  test("nearestCell (batched sweep) is bit-identical to the unrolled argmin") {
    val rnd = new scala.util.Random(13L)
    for (nlist <- Seq(4, 16, 100)) {
      val centers = Array.fill(nlist, 12)(rnd.nextDouble() * 2 - 1)
      val df = Seq.tabulate(200) { i =>
        (i.toLong, Array.fill(12)(rnd.nextFloat() * 2 - 1))
      }.toDF("vec_id", "embedding")
      val got = df.select(col("vec_id"),
          Similarity.nearestCell(col("embedding"), centers).as("c"),
          nearestCellUnrolled(col("embedding"), centers).as("c0"))
        .collect()
      got.foreach { r =>
        assert(r.getInt(1) == r.getInt(2), s"vec ${r.getLong(0)} at nlist=$nlist")
      }
    }
  }

  test("nearestCell: ties break to the lowest cell id, matching the unrolled form") {
    // duplicate centroids force exact d2 ties
    val c = Array(1.0, 0.0, 0.0)
    val centers = Array(c.clone(), c.clone(), Array(0.0, 1.0, 0.0))
    val df = Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        Similarity.nearestCell(col("embedding"), centers).as("c"),
        nearestCellUnrolled(col("embedding"), centers).as("c0"))
      .orderBy("vec_id").collect()
    assert(got(0).getInt(1) == 0 && got(0).getInt(2) == 0) // tie -> cell 0
    assert(got(1).getInt(1) == 2 && got(1).getInt(2) == 2)
  }

  test("nearestCell handles short vectors (common-prefix contract) like the unrolled form") {
    val rnd = new scala.util.Random(17L)
    val centers = Array.fill(8, 16)(rnd.nextDouble() * 2 - 1)
    val df = Seq(
      (1L, Array.fill(16)(rnd.nextFloat())),
      (2L, Array.fill(5)(rnd.nextFloat())),  // shorter than the centroid dim
    ).toDF("vec_id", "embedding")
    df.select(Similarity.nearestCell(col("embedding"), centers).as("c"),
        nearestCellUnrolled(col("embedding"), centers).as("c0"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  // ----------------------------------------------------- q53 auto wiring

  test("ivfPqIndexAuto: nlist from the corpus count; recall + pruning hold at two sizes") {
    for (n <- Seq(400, 2500)) {
      val rnd = new scala.util.Random(n.toLong + 1)
      val base = Seq.tabulate(n) { i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)) }
      val df = base.toDF("vec_id", "embedding")
      val idx @ (assigned, centers, codebooks) =
        Similarity.ivfPqIndexAuto(df, "vec_id", "embedding", m = 4, ksub = 8, seed = 11L)
      assert(centers.length == Similarity.autoNlist(n))
      assert(codebooks.length == 4 && codebooks.forall(_.length == 8))
      // a planted near-dup of vector 7 is recalled through the PQ shortlist
      val probe = base(7)._2.map(x => x + 0.004f)
      val top = Similarity.ivfPqTopK(idx, "vec_id", "embedding", probe,
        k = 1, nprobe = 4, refine = 4).head()
      assert(top.getLong(0) == 7L)
      // pruning: candidates scanned are bounded by the probed cells
      val cells = Similarity.nearestCells(probe.map(_.toDouble), centers, 4).toSet
      val candN = assigned.where(col("cell").isin(cells.toSeq: _*)).count()
      assert(candN < n, s"n=$n: probe scan must not cover the corpus")
    }
  }
}
