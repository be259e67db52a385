package graft

import graft.operators.Similarity
import graft.sources.MergeTreeWrite
import org.apache.spark.sql.functions._

/** Round-20 optimization pins.
  *
  *  - lshAnnPairs' whale-bucket cap is one `Dedup.capBuckets` window
  *    over the vector-carrying bucket rows the scan's posexplode
  *    produces, so building the operator runs no Spark job. The
  *    lowest ids of a hot bucket survive, and cold buckets beside it
  *    are untouched.
  *  - MergeTreeWrite.write moved from hash-clustering on the
  *    partition value (parallelism = #distinct values — the 275 s
  *    one-task sf100 q96 landing) to byte-sized range clustering on
  *    (partCols ++ orderBy). Same rows, same per-file sort, same
  *    pruning.
  *  - TTL GROUP BY materialize now detects NULL-predicate rows in its
  *    stats pass and pays the MSCK walk only then — a partition whose
  *    rows are all NULL-pred vanishes from the rewrite (dropped by
  *    both where(pred) and where(!pred)) and previously left a stale
  *    catalog partition behind.
  */
class Round20OptSpec extends SparkSpec {
  import spark.implicits._

  // --- lshAnnPairs whale-bucket cap ------------------------------------

  private def pairSet(st: graft.operators.LshStages): Set[(Long, Long)] =
    st.verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("lshAnnPairs: flood capped to the 20 lowest ids, cold pair survives beside it") {
    // a 400-copy flood (hot in every table), one high-cosine pair,
    // one orthogonal singleton
    val flood = (0L until 400L).map(i => (i, Array(0.6f, 0.8f, 0.0f)))
    val rest = Seq(
      (5000L, Array(1.0f, 0.02f, 0.0f)),
      (5001L, Array(1.0f, 0.03f, 0.0f)), // cos(5000, 5001) ≈ 0.9999
      (6000L, Array(0.0f, 0.0f, 1.0f)))
    val pairs = pairSet(Similarity.lshAnnStages((flood ++ rest).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numPlanes = 4, numTables = 6, minCos = 0.9, maxBucket = 20))
    val floodPairs = pairs.filter(_._1 < 400L)
    assert(floodPairs.size == 20 * 19 / 2, s"flood pairs ${floodPairs.size}")
    assert(floodPairs.forall(p => p._1 < 20 && p._2 < 20))
    // the cold-bucket pair survives untouched beside the hot bucket
    assert(pairs == floodPairs + ((5000L, 5001L)), s"got ${pairs -- floodPairs}")
  }

  test("building lshAnnStages runs 0 Spark jobs; the pairs keep recall") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    var st: graft.operators.LshStages = null
    val jobs = jobsOf {
      st = Similarity.lshAnnStages(vecs, "vec_id", "embedding",
        numPlanes = 4, numTables = 6, minCos = 0.9)
    }
    assert(jobs == 0, s"building the operator ran $jobs Spark jobs")
    val pairs = pairSet(st)
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  // --- MergeTreeWrite.write range clustering ---------------------------

  test("MergeTreeWrite.write: range-clustered landing keeps rows, sort and pruning") {
    val base = java.sql.Timestamp.valueOf("2026-01-15 00:00:00")
    def ts(d: Int) = new java.sql.Timestamp(base.getTime + d.toLong * 86400000)
    val df = (1L to 500L).map(i => (i, ts((i % 60).toInt), s"p$i"))
      .toDF("id", "ts", "payload")
    val out = java.nio.file.Files.createTempDirectory("mtw_r20").toString
    MergeTreeWrite.write(df, out,
      partitionExprs = Seq("month" -> date_format(col("ts"), "yyyy-MM")),
      orderBy = Seq("id"))
    val back = spark.read.parquet(out)
    // exact row multiset survives the landing
    assert(back.count() == 500)
    assert(back.select("id", "ts", "payload").except(
      df.withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .select("id", "ts", "payload")).isEmpty)
    // every FILE is internally sorted by the ORDER BY key (row-group
    // stats stay effective) — check per physical file
    val files = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f.getPath).select("id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"unsorted file ${f.getPath}")
    }
  }

  test("write sizing: a join-rooted frame's tasks are bounded by its leaf bytes, not the cap") {
    // without CBO the equi-join estimates as the product of its sides
    // (8 MB × 8 MB here): sized by the estimate alone it would get the
    // 32768-task cap. Asserted on the rule, not a write, so no run
    // ever launches those tasks.
    val left = spark.range(1000000L).toDF()
    val joined = left.join(spark.range(1000000L).withColumnRenamed("id", "k"), col("id") === col("k"))
    val est = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est / (128L << 20) >= 32768, s"expected a product estimate, got $est")
    val (bytes, tasks) = MergeTreeWrite.sourceBytesAndTasks(joined)
    assert(bytes == BigInt(16000000L) && tasks == 0)
    // a leaf-rooted frame keeps its own estimate
    assert(MergeTreeWrite.sourceBytesAndTasks(left) == ((BigInt(8000000L), 0)))
  }

  // --- Mutate: NULL partition keys and the one stats shape -------------

  test("delete with a NULL partition key: never rewritten, and the report says so") {
    val path = java.nio.file.Files.createTempDirectory("graft_r20_nullpart").resolve("t").toString
    Seq[(java.lang.Long, Integer, java.lang.Boolean)](
      (1L, null, true),  // NULL partition: pred TRUE but NEVER rewritten (documented)
      (2L, 0, true), (3L, 0, false))
      .toDF("id", "p", "flag")
      .write.partitionBy("p").parquet(path)
    val rep = graft.operators.Mutate.delete(spark, path, "p", $"flag")
    // the report no longer counts work that will not happen: only the
    // p=0 partition is affected/changed; the NULL-key row survives
    assert(rep.partitionsTotal == 2 && rep.partitionsRewritten == 1 && rep.rowsChanged == 1,
      s"got $rep")
    val back = spark.read.parquet(path)
    assert(back.count() == 2)
    assert(back.where($"p".isNull).select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(back.where($"p" === 0).select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("mutation stats: 6 partitions, 3 affected, total from the file index") {
    val path = java.nio.file.Files.createTempDirectory("graft_r20_stats").resolve("t").toString
    (1L to 60L).map(i => (i, (i % 6).toInt, i % 4 == 0))
      .toDF("id", "p", "flag").write.partitionBy("p").parquet(path)
    // flag = id % 4 == 0 holds only for even ids: p = 0, 2, 4 each hold
    // 5 matching rows and 5 keepers; p = 1, 3, 5 hold no match
    val rep = graft.operators.Mutate.rewriteAffected(spark, path, "p", $"flag",
      _.where(!$"flag"), removesNonKeepers = true, schema = None)
    assert(rep == graft.operators.Mutate.Report(6, 3, 15, 0), s"got $rep")
    val ids = spark.read.parquet(path).select("id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 60L).filterNot(_ % 4 == 0))
  }

  // --- TTL GROUP BY: NULL-pred partitions don't go catalog-stale -------

  test("TTL GROUP BY materialize removes a NULL-pred-emptied partition from the catalog") {
    spark.sql("DROP TABLE IF EXISTS ttl_null_t")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    for (sfx <- Seq("", "__graft_backup", "__graft_mutating"))
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/ttl_null_t$sfx"), true)
    spark.sql("""CREATE TABLE ttl_null_t (p UInt8, k String, v Float64, d Nullable(DateTime))
                 ENGINE = MergeTree PARTITION BY p ORDER BY k""")
    // p=1: expired rows (collapse per k); p=2: ONLY NULL-date rows —
    // the TTL predicate is NULL there, so the whole partition vanishes
    // from the rewrite and must also vanish from the catalog.
    // (Positional order is the CATALOG schema: partition column last.)
    spark.sql("""INSERT INTO ttl_null_t VALUES
                 ('a', 10.0, toDateTime('2020-01-01 00:00:00'), 1),
                 ('a', 20.0, toDateTime('2020-02-01 00:00:00'), 1),
                 ('b', 30.0, NULL, 2),
                 ('b', 40.0, NULL, 2)""")
    spark.sql("ALTER TABLE ttl_null_t MODIFY TTL d + INTERVAL 30 DAY GROUP BY p, k SET v = sum(v)")
    spark.sql("ALTER TABLE ttl_null_t MATERIALIZE TTL")
    val rows = spark.table("ttl_null_t").select("p", "k", "v").orderBy("p", "k").collect()
      .map(r => (r.get(0).toString.toInt, r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1, "a", 30.0)), s"got $rows")
    // catalog partition list matches the surviving directories: no
    // stale p=2 entry pointing at a removed directory
    val parts = spark.sql("SHOW PARTITIONS ttl_null_t").collect().map(_.getString(0)).toSeq
    assert(parts == Seq("p=1"), s"stale catalog partitions: $parts")
    // and the table stays fully scannable
    assert(spark.table("ttl_null_t").count() == 1)
    spark.sql("DROP TABLE ttl_null_t")
  }
}
