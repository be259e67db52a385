package graft

import org.apache.spark.sql.functions._

/** One home for the rehearsal mains' output and the state-rehearsal
  * env contract (round 16 review):
  * SPARK_GRAFT_STATE_BACKENDS and SPARK_GRAFT_ROCKSDB_TUNING parse
  * identically for every rehearsal main, refusing unknown backend
  * names (a typo must not silently measure hdfs under the given
  * label) and any JSON-breaking character in a tuning segment — KEY
  * or value — since the tag embeds verbatim into the JSONL lines. */
private[graft] object Rehearsal {
  def backends: Seq[String] = {
    val bs = sys.env.getOrElse("SPARK_GRAFT_STATE_BACKENDS", "hdfs,rocksdb")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    bs.filterNot(Set("hdfs", "rocksdb")).foreach(b =>
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_BACKENDS: unknown backend '$b' (hdfs, rocksdb)"))
    bs
  }

  def tuning: Seq[(String, String)] = sys.env.get("SPARK_GRAFT_ROCKSDB_TUNING")
    .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty && !kv.exists(c => c == '"' || c == '\\') => (k, v)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_ROCKSDB_TUNING: segment '$kv' is not key=value " +
            "(quotes/backslashes refuse — the tag embeds into JSON lines)")
      }
    }).getOrElse(Nil)

  def tuningTag(tuning: Seq[(String, String)]): String =
    tuning.map { case (k, v) => s"$k=$v" }.mkString(";")

  /** The part file a one-task write of batch `batch` left in `dir`. An
    * empty batch that left none fails naming the batch. */
  def landedPart(fs: org.apache.hadoop.fs.FileSystem, dir: String, batch: String): org.apache.hadoop.fs.Path =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "part-*.parquet")))
      .flatMap(_.headOption).map(_.getPath)
      .getOrElse(throw new IllegalStateException(s"batch $batch wrote no parquet file to $dir: is it empty?"))

  /** Prints a JSON line and appends it to the rehearsal's JSONL file. */
  def emit(outPath: String)(line: String): Unit = {
    println(line)
    val p = java.nio.file.Paths.get(outPath)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** A batch's state size: RocksDB's memory plus SST files, or the
    * HDFS-backed store's memory. */
  def stateBytes(backend: String, so: org.apache.spark.sql.streaming.StateOperatorProgress): Long =
    if (backend == "rocksdb") so.customMetrics.getOrDefault("rocksdbTotalMemoryUsageBytes", 0L) +
      so.customMetrics.getOrDefault("rocksdbSstFileSize", 0L)
    else so.memoryUsedBytes
}

/** Streaming state-store rehearsal for the NEAR-dedup operator
  * (round 13) — q106b's gate runs at ~1.1k docs; this replays
  * [[graft.streaming.StreamNearDedup.nearHitsPerChunk]] at ~1M docs
  * against both state backends, the same program as
  * [[StateScaleRehearsal]] for CDC apply.
  *
  * Workload: synthetic 60-bit fingerprints in groups of 10 ids —
  * id%10==0 is the group base (xxhash64 of the group, masked to 60
  * bits), ids 1–3 flip exactly 1/2/3 distinct bits (guaranteed hits
  * at maxHamming=3), ids 4–9 XOR a wide pseudo-random mask (hamming
  * ≫ 3 from everything, with astronomically small collision odds).
  * Three id-range micro-batches, then a fourth batch re-delivering
  * every 30th doc verbatim under a fresh +10⁹ ingest id (exact-dup
  * replays hitting cross-batch state). Expected hits =
  * 3·(docs/10) + docs/30; the run REQUIREs the count (with a tiny
  * slack for random-mask collisions) and emits per-batch time and
  * state size per backend.
  *
  * State shape: one row per (chunk index, 15-bit chunk value) —
  * ≤ 4·32768 = 131,072 buckets regardless of corpus size — whose
  * VALUE grows with the docs it has seen (16 B per doc per chunk).
  * The rehearsal pins that the store, not the row count, carries the
  * corpus — the RocksDB knob applies as in SURVEY §4.
  *
  * Round 15: the LSH dial is no longer pinned at blocks = d+1 — the
  * run uses [[graft.streaming.StreamNearDedup.autoBlocks]](docs) (the
  * production default; override: SPARK_GRAFT_STATE_BLOCKS), emits the
  * dial and the measured mean bucket occupancy, and stamps/validates
  * the checkpoint key-scheme marker via `ensureCheckpointScheme` the
  * way a production start-up must.
  *
  * Round 16 (the RocksDB-cost question): SPARK_GRAFT_STATE_BACKENDS
  * selects backends ("hdfs,rocksdb" default; "rocksdb" for tuning
  * sweeps) and SPARK_GRAFT_ROCKSDB_TUNING ("k=v;k=v", keys under
  * spark.sql.streaming.stateStore.rocksdb.*) applies provider confs
  * before the query starts and is recorded in every emitted line —
  * the profiling dial for changelog checkpointing / write buffer /
  * row tracking.
  *
  * Usage: SPARK_GRAFT_STATE_KEYS=1000000 graft.NearDedupScaleRehearsal
  * Appends JSON lines to docs/STATE_SCALE_r16.jsonl
  * (override: SPARK_GRAFT_STATE_OUT). */
object NearDedupScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "1000000").toLong
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STATE_OUT",
      "/root/repo/docs/STATE_SCALE_r16.jsonl")
    val backends = Rehearsal.backends
    val tuning = Rehearsal.tuning
    val tuningTag = Rehearsal.tuningTag(tuning)
    val spark = GraftSession.local("graft-neardedup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = "/tmp/graft_neardedup_scale"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val landing = s"$base/landing"
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))

    val mask60 = (1L << 60) - 1
    // group base fp + per-id variation: ids 1-3 flip exactly 1/2/3
    // contiguous bits (guaranteed within-hamming-3 of the base); 4-9
    // XOR an independent random 60-bit mask (expected weight 30 from
    // the base and from EACH OTHER — a deliberate stripe mask was
    // rejected here because adjacent shifts XOR to 2 bits and
    // manufacture spurious near-dups). P(random weight ≤ 3) ≈ 3e-14,
    // covered by the require() slack below.
    def fpExpr = expr(
      s"(xxhash64(id - id % 10) & $mask60) ^ " +
        "(CASE WHEN id % 10 = 0 THEN CAST(0 AS BIGINT) " +
        "WHEN id % 10 = 1 THEN shiftleft(CAST(1 AS BIGINT), CAST(id % 57 AS INT)) " +
        "WHEN id % 10 = 2 THEN shiftleft(CAST(3 AS BIGINT), CAST(id % 56 AS INT)) " +
        "WHEN id % 10 = 3 THEN shiftleft(CAST(7 AS BIGINT), CAST(id % 55 AS INT)) " +
        s"ELSE xxhash64(id, 7) & $mask60 END)")

    val third = docs / 3
    val slices = Seq(
      spark.range(0, third),
      spark.range(third, 2 * third),
      spark.range(2 * third, docs),
      // batch 4: verbatim re-delivery of every 30th doc, fresh ids
      spark.range(0, docs).where($"id" % 30 === 0))
    slices.zipWithIndex.foreach { case (ids, i) =>
      val df =
        if (i == 3) ids.select(($"id" + 1000000000L).as("id"), fpExpr.as("fp"))
        else ids.select($"id", fpExpr.as("fp"))
      val t = s"$base/tmp/$i"
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Rehearsal.landedPart(fs, t, s"$i")
      val dst = new org.apache.hadoop.fs.Path(landing, f"$i%02d.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, 1000000000000L + i * 60000L, -1)
    }

    val emit = Rehearsal.emit(outPath) _

    val expectedHits = 3 * (docs / 10) + (docs + 29) / 30
    val blocks = sys.env.get("SPARK_GRAFT_STATE_BLOCKS").map(_.toInt)
      .getOrElse(graft.streaming.StreamNearDedup.autoBlocks(docs, maxHamming = 3))
    // per-doc key replication under the Manku scheme: C(blocks, d) —
    // the operator's OWN count, so this metric can't drift from it
    val combosPerDoc = graft.streaming.StreamNearDedup.combinations(blocks, 3)
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
      val stream = graft.streaming.StreamNearDedup.explodeChunks(
        spark.readStream.schema("id LONG, fp LONG")
          .option("maxFilesPerTrigger", "1").parquet(landing),
        maxHamming = 3, blocks = blocks)
      val hits = graft.streaming.StreamNearDedup.nearHitsPerChunk(stream, maxHamming = 3)
      // the production start-up discipline: stamp / validate the
      // state-key scheme before the query touches the checkpoint
      graft.streaming.StreamNearDedup.ensureCheckpointScheme(
        spark, s"$base/ckpt_$backend", maxHamming = 3, blocks = blocks)
      val t0 = System.nanoTime()
      // raw per-chunk hits into the sink (a streaming dropDuplicates
      // would be a SECOND stateful operator — unsupported in update
      // mode and pointless state); distinct ids resolve at read time
      val q = hits.toDF().writeStream
        .outputMode("update").format("memory").queryName(s"nd_scale_$backend")
        .option("checkpointLocation", s"$base/ckpt_$backend").start()
      q.processAllAvailable()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      for (p <- progs) {
        val so = p.stateOperators(0)
        val sizeBytes = Rehearsal.stateBytes(backend, so)
        emit(s"""{"family":"neardedup","backend":"$backend","tuning":"$tuningTag","blocks":$blocks,"batch":${p.batchId},""" +
          s""""input_rows":${p.numInputRows},""" +
          s""""batch_ms":${p.durationMs.getOrDefault("triggerExecution", -1L)},""" +
          s""""state_rows":${so.numRowsTotal},"state_bytes":$sizeBytes}""")
      }
      val hitCount = spark.table(s"nd_scale_$backend")
        .select(countDistinct(col("id"))).head().getLong(0)
      q.stop()
      // contract: the constructed near-dups and replays, nothing else
      // (tiny slack for random-mask birthday collisions)
      require(hitCount >= expectedHits && hitCount <= expectedHits + 16,
        s"$backend: expected ~$expectedHits hits, got $hitCount")
      // mean bucket occupancy: (doc,combo) memberships per state bucket
      val memberships = (docs + docs / 30) * combosPerDoc
      val buckets = progs.lastOption.map(_.stateOperators(0).numRowsTotal).getOrElse(0L)
      val occ = if (buckets > 0) math.rint(memberships.toDouble / buckets * 10) / 10 else -1.0
      emit(s"""{"family":"neardedup","backend":"$backend","tuning":"$tuningTag","docs":$docs,"blocks":$blocks,""" +
        s""""hits":$hitCount,"buckets":$buckets,"mean_bucket_docs":$occ,""" +
        s""""total_sec":${math.rint(totalSec * 100) / 100}}""")
    }
    spark.stop()
  }
}
