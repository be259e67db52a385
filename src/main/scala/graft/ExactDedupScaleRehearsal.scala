package graft

import org.apache.spark.sql.functions._

/** Streaming state-store rehearsal for the EXACT-dedup front door
  * (round 15, verdict task 8) — q106 gates
  * [[graft.streaming.StreamDedup.firstPerFingerprint]] at ~1k docs
  * and the round-12 CDC rehearsal measured 1M keys; this replays the
  * operator at 10M fingerprints, one decade up, because exact dedup
  * is the FIRST stateful operator every 100 TB ingest hits and its
  * state (fingerprint → winning ingest id, ~few bytes each) is the
  * cheapest of the dedup family — the claim to verify is per-batch
  * cost FLATNESS as the store grows, on both state backends.
  *
  * Workload: three equal batches of all-distinct fingerprints
  * (xxhash64 hex of the doc id — fingerprints ONLY ship through the
  * stream, the q40b discipline), then a fourth batch re-delivering
  * every 10th document verbatim under fresh +10⁹ ingest ids. The
  * contract, REQUIREd: final state rows = distinct docs (every
  * fingerprint admitted exactly once) and the re-delivery batch
  * updates ZERO state rows (all drops). Per-batch trigger time and
  * state size land in the artifact; flat b0→b2 batch_ms is the
  * evidence that admission cost does not grow with the store.
  *
  * Usage: SPARK_GRAFT_STATE_KEYS=10000000 graft.ExactDedupScaleRehearsal
  * Appends JSON lines to docs/STATE_SCALE_r15.jsonl
  * (override: SPARK_GRAFT_STATE_OUT). */
object ExactDedupScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "10000000").toLong
    // the batch-equals-slice contract needs each slice's coalesce(4)
    // to emit 4 non-empty files; tiny dials would mix slices across
    // maxFilesPerTrigger batches and fail the re-delivery require
    require(docs >= 1200, s"SPARK_GRAFT_STATE_KEYS=$docs: this rehearsal needs >= 1200 docs")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STATE_OUT",
      "/root/repo/docs/STATE_SCALE_r15.jsonl")
    val spark = GraftSession.local("graft-exactdedup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = "/tmp/graft_exactdedup_scale"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val landing = s"$base/landing"
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))

    // fingerprint of the ORIGINAL doc id — the re-delivery batch keeps
    // the fp but arrives under a fresh ingest id, the q106 convention
    def fpExpr(idCol: org.apache.spark.sql.Column) = hex(xxhash64(idCol))
    val third = docs / 3
    val slices = Seq(
      spark.range(0, third).select(fpExpr($"id").as("fp"), $"id", $"id".as("value")),
      spark.range(third, 2 * third).select(fpExpr($"id").as("fp"), $"id", $"id".as("value")),
      spark.range(2 * third, docs).select(fpExpr($"id").as("fp"), $"id", $"id".as("value")),
      spark.range(0, docs).where($"id" % 10 === 0)
        .select(fpExpr($"id").as("fp"), ($"id" + 1000000000L).as("id"), $"id".as("value")))
    slices.zipWithIndex.foreach { case (df, i) =>
      val t = s"$base/tmp/$i"
      df.coalesce(4).write.mode("overwrite").parquet(t)
      val parts = fs.globStatus(new org.apache.hadoop.fs.Path(t, "part-*.parquet"))
      parts.zipWithIndex.foreach { case (p, j) =>
        val dst = new org.apache.hadoop.fs.Path(landing, f"$i%02d_$j.parquet")
        fs.rename(p.getPath, dst)
        fs.setTimes(dst, 1000000000000L + i * 60000L, -1) // batch = slice order
      }
    }

    // exact expected survivors (xxhash64 collisions at 10M are ~3e-6
    // likely, but the contract should not flake on one)
    val expected = spark.range(0, docs).select(fpExpr($"id")).distinct().count()

    val emit = Rehearsal.emit(outPath) _

    for (backend <- Seq("hdfs", "rocksdb")) {
      if (backend == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val stream = spark.readStream.schema("fp STRING, id LONG, value LONG")
        .option("maxFilesPerTrigger", "4").parquet(landing)
        .as[graft.streaming.Doc[Long]]
      val kept = graft.streaming.StreamDedup.firstPerFingerprint(stream)
      val t0 = System.nanoTime()
      val q = kept.toDF().writeStream
        .outputMode("update").format("noop")
        .option("checkpointLocation", s"$base/ckpt_$backend").start()
      q.processAllAvailable()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      var lastRows = 0L
      var lastUpdated = -1L
      for (p <- progs) {
        val so = p.stateOperators(0)
        val sizeBytes = Rehearsal.stateBytes(backend, so)
        lastRows = so.numRowsTotal
        lastUpdated = so.numRowsUpdated
        emit(s"""{"family":"exactdedup","backend":"$backend","batch":${p.batchId},""" +
          s""""input_rows":${p.numInputRows},""" +
          s""""batch_ms":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
          s""""state_rows":${so.numRowsTotal},"rows_updated":${so.numRowsUpdated},""" +
          s""""state_bytes":$sizeBytes}""")
      }
      q.stop()
      // contract: every distinct fingerprint admitted exactly once,
      // and the verbatim re-delivery batch admitted NOTHING
      require(lastRows == expected, s"$backend: expected $expected state rows, got $lastRows")
      require(lastUpdated == 0, s"$backend: re-delivery batch updated $lastUpdated rows, expected 0")
      emit(s"""{"family":"exactdedup","backend":"$backend","docs":$docs,""" +
        s""""state_rows":$lastRows,"total_sec":${math.rint(totalSec * 100) / 100}}""")
    }
    spark.stop()
  }
}
