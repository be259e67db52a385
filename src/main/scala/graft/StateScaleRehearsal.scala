package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming state-store rehearsal for the CDC apply operator
  * (round 12) — the six gated streaming queries run at toy key
  * cardinality; this replays [[graft.streaming.CdcApply.latestByKey]]
  * at ~1M keys against BOTH state backends and pins what the gate
  * cannot: per-batch time and state-store size at a cardinality
  * where the store, not the micro-batch, is the bottleneck.
  *
  * Shape: a 3-file changelog (v1 inserts for every key, v2 updates
  * for every 3rd, tombstones for every 5th) replayed one file per
  * micro-batch into flatMapGroupsWithState, noop sink. State is one
  * Materialized row per key — O(live keys) by contract; this run
  * MEASURES it.
  *
  * Backends:
  *  - `hdfs` (default HDFSBackedStateStoreProvider): the whole map
  *    lives on-heap per partition — fine to ~10M keys/executor, the
  *    gate's path.
  *  - `rocksdb` (RocksDBStateStoreProvider): state spills off-heap to
  *    local SST files — the 100 TB knob. One config line turns it on:
  *    spark.sql.streaming.stateStore.providerClass=
  *      org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
  *
  * Usage: SPARK_GRAFT_STATE_KEYS=1000000 graft.StateScaleRehearsal
  * Appends one JSON line per (backend, batch) to
  * docs/STATE_SCALE_r12.jsonl (override: SPARK_GRAFT_STATE_OUT). */
object StateScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val keys = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "1000000").toLong
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STATE_OUT",
      "/root/repo/docs/STATE_SCALE_r12.jsonl")
    val spark = GraftSession.local("graft-state-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = "/tmp/graft_state_scale"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val landing = s"$base/landing"
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))

    // the changelog: same content contract as q105, 500× the keys
    def slice(mod: Long, version: Long, deleted: Boolean, centsScale: Long) = {
      val ids = spark.range(0, keys).where($"id" % mod === 0)
      ids.select($"id".as("key"), lit(version).as("version"), lit(deleted).as("deleted"),
        concat(lit("p"), ($"id" % 7).cast("string")).as("prio"),
        ($"id" * centsScale).as("cents"))
    }
    Seq(slice(1, 1L, deleted = false, 3L),
        slice(3, 2L, deleted = false, 6L),
        slice(5, 3L, deleted = true, 3L)).zipWithIndex.foreach { case (df, i) =>
      val t = s"$base/tmp/$i"
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Rehearsal.landedPart(fs, t, s"$i")
      val dst = new org.apache.hadoop.fs.Path(landing, f"$i%02d.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, 1000000000000L + i * 60000L, -1)
    }

    val emit = Rehearsal.emit(outPath) _

    for (backend <- Seq("hdfs", "rocksdb")) {
      if (backend == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val schema = "key LONG, version LONG, deleted BOOLEAN, prio STRING, cents LONG"
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
        .select($"key", $"version", $"deleted",
          struct($"prio".as("_1"), $"cents".as("_2")).as("value"))
        .as[graft.streaming.Change[Long, (String, Long)]]
      val mat = graft.streaming.CdcApply.latestByKey(changes)
      val t0 = System.nanoTime()
      val q = mat.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$base/ckpt_$backend").start()
      q.processAllAvailable()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      for (p <- progs) {
        val so = p.stateOperators(0)
        val sizeBytes = Rehearsal.stateBytes(backend, so)
        emit(s"""{"backend":"$backend","batch":${p.batchId},""" +
          s""""input_rows":${p.numInputRows},""" +
          s""""batch_ms":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
          s""""state_rows":${so.numRowsTotal},"rows_updated":${so.numRowsUpdated},""" +
          s""""state_bytes":$sizeBytes}""")
      }
      val stateTotal = progs.lastOption.map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
      q.stop()
      // contract check: state is exactly one row per ever-seen key
      require(stateTotal == keys,
        s"$backend: expected $keys state rows, got $stateTotal")
      emit(s"""{"backend":"$backend","keys":$keys,"total_sec":${math.rint(totalSec * 100) / 100},""" +
        s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")}}""")
    }
    spark.stop()
  }
}
