package graft

import org.apache.spark.sql.functions._

/** Streaming state-store rehearsal for SEMANTIC dedup (round 13) —
  * q106c's gate runs at ~4k vectors; this replays
  * [[graft.streaming.StreamSemanticDedup.hitsPerBucket]] at ~1M
  * dim-64 vectors against both backends, completing the rehearsal
  * symmetry: CDC apply ([[StateScaleRehearsal]]), SimHash near-dedup
  * ([[NearDedupScaleRehearsal]]), embedding-cosine (this).
  *
  * Workload: deterministic pseudo-random vectors in groups of 10 ids
  * (components from xxhash64(group, i) scaled to [-1, 1]) — ids 1-2
  * are EXACT copies of the group base (cosine 1.0, same bucket by
  * construction: guaranteed hits), id 3 is the base with +0.05 on
  * one coordinate (cosine ≈ 1 but the BUCKET may flip on a
  * near-zero plane — SemDeDup's documented boundary trade, so it's
  * reported, not required), ids 4-9 independent pseudo-random
  * (64-dim random cosines concentrate near 0 ± 1/√64; ≥ 0.85 is
  * astronomically unlikely). Three id-range micro-batches + a fourth
  * re-delivering every 30th vector verbatim under fresh +10⁹ ids.
  * REQUIRE: distinct hit ids within
  * [2·groups + replays, 3·groups + replays].
  *
  * State carries the VECTORS (dim doubles + norm + id per entry —
  * the exact-verify price, ~530 B/vector at dim 64), keyed by the
  * 8-plane bucket: 256 state rows whose values carry the corpus.
  * The RocksDB provider is the memory knob as everywhere (SURVEY §4).
  *
  * The hyperplane dial: SPARK_GRAFT_STATE_PLANES — an integer pins it
  * (the round-13 rows ran 8, measuring the fixed-dial cliff: 256
  * buckets → ~3,900 vectors/bucket → CPU-bound verify); the default
  * "auto" picks [[graft.streaming.StreamSemanticDedup.autoPlanes]]
  * from the corpus size, the dial a deployer should use (at 1M
  * vectors: 14 planes → 16k buckets → occupancy ~64, the round-14
  * fix for round 13's deliberate cliff).
  *
  * Usage: SPARK_GRAFT_STATE_KEYS=1000000 graft.SemanticDedupScaleRehearsal
  * Appends JSON lines to docs/STATE_SCALE_r13.jsonl. */
object SemanticDedupScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "1000000").toLong
    val planes = sys.env.getOrElse("SPARK_GRAFT_STATE_PLANES", "auto") match {
      case "auto" => graft.streaming.StreamSemanticDedup.autoPlanes(docs)
      case n => n.toInt
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STATE_OUT",
      "/root/repo/docs/STATE_SCALE_r16.jsonl")
    val backends = Rehearsal.backends
    val tuning = Rehearsal.tuning
    val tuningTag = Rehearsal.tuningTag(tuning)
    val spark = GraftSession.local("graft-semdedup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = "/tmp/graft_semdedup_scale"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val landing = s"$base/landing"
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))

    // group-base pseudo-random vector; variants per id % 10
    def vecExpr = expr(
      // base component i of group g: xxhash64(g, i) scaled to [-1, 1]
      "transform(sequence(0, 63), i -> " +
        "CAST(xxhash64(CAST(id - id % 10 AS BIGINT) * 64 + i + " +
        "  CASE WHEN id % 10 BETWEEN 0 AND 3 THEN 0 ELSE id * 64 END) AS DOUBLE) / 9.223372036854776e18" +
        " + CASE WHEN id % 10 = 3 AND i = 0 THEN 0.05 ELSE 0.0 END)")

    val third = docs / 3
    val slices = Seq(
      spark.range(0, third),
      spark.range(third, 2 * third),
      spark.range(2 * third, docs),
      spark.range(0, docs).where($"id" % 30 === 0))
    slices.zipWithIndex.foreach { case (ids, i) =>
      val raw =
        if (i == 3) ids.select(($"id" + 1000000000L).as("ingest_id"), vecExpr.as("v"))
        else ids.select($"id".as("ingest_id"), vecExpr.as("v"))
      val (coded, _) = graft.operators.Similarity.semanticDedupInternals(
        raw, "ingest_id", "v", numPlanes = planes, dim = 64, minCos = 0.85)
      val df = coded.select($"ingest_id".as("id"), $"__bucket".as("bucket"), $"v".as("vec"))
      val t = s"$base/tmp/$i"
      df.coalesce(2).write.mode("overwrite").parquet(t)
      val parts = fs.globStatus(new org.apache.hadoop.fs.Path(t, "part-*.parquet"))
      parts.zipWithIndex.foreach { case (p, j) =>
        val dst = new org.apache.hadoop.fs.Path(landing, f"$i%02d_$j.parquet")
        fs.rename(p.getPath, dst)
        fs.setTimes(dst, 1000000000000L + i * 60000L, -1)
      }
    }

    val emit = Rehearsal.emit(outPath) _

    // the +10⁹ re-delivery of the PERTURBED variant (id % 30 == 0 with
    // id % 10 == 0: always a base vector) is verbatim → guaranteed hit
    val groups = docs / 10
    val replays = (docs + 29) / 30
    val lo = 2 * groups + replays
    val hi = 3 * groups + replays + 16
    for (backend <- backends) {
      if (backend == "rocksdb") {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        tuning.foreach { case (k, v) =>
          spark.conf.set(s"spark.sql.streaming.stateStore.rocksdb.$k", v)
        }
      }
      else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      // one batch per pinned mtime: maxFilesPerTrigger=2 matches the
      // 2 files each slice landed
      val stream = spark.readStream.schema("id LONG, bucket LONG, vec ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "2").parquet(landing)
        .as[graft.streaming.VecDoc]
      val hits = graft.streaming.StreamSemanticDedup.hitsPerBucket(
        stream, minCos = 0.85, maxBucket = 1 << 30)
      val t0 = System.nanoTime()
      val q = hits.toDF().writeStream
        .outputMode("update").format("memory").queryName(s"sd_scale_$backend")
        .option("checkpointLocation", s"$base/ckpt_$backend").start()
      q.processAllAvailable()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      for (p <- progs) {
        val so = p.stateOperators(0)
        val sizeBytes = Rehearsal.stateBytes(backend, so)
        emit(s"""{"family":"semdedup","backend":"$backend","tuning":"$tuningTag","batch":${p.batchId},""" +
          s""""input_rows":${p.numInputRows},""" +
          s""""batch_ms":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
          s""""state_rows":${so.numRowsTotal},"state_bytes":$sizeBytes}""")
      }
      val hitCount = spark.table(s"sd_scale_$backend")
        .select(countDistinct(col("id"))).head().getLong(0)
      q.stop()
      require(hitCount >= lo && hitCount <= hi,
        s"$backend: expected hits in [$lo, $hi], got $hitCount")
      val buckets = progs.lastOption.map(_.stateOperators(0).numRowsTotal).getOrElse(0L)
      emit(s"""{"family":"semdedup","backend":"$backend","tuning":"$tuningTag","docs":$docs,"hits":$hitCount,""" +
        s""""planes":$planes,"buckets":$buckets,""" +
        s""""occupancy":${if (buckets > 0) docs / buckets else -1},""" +
        s""""total_sec":${math.rint(totalSec * 100) / 100}}""")
    }
    spark.stop()
  }
}
